"""The benchmark's workloads: input sizes, input preparation, the
pipeline each runs, and the check of its output against the reference.

``prepare`` runs in the parent process, outside any timed region, and
leaves the inputs plus ``reference.json`` in a per-seed directory.
``build`` is the timed plan phase (source call to last transform) and
``act`` the timed action; ``check`` runs after both, untimed.
"""

from __future__ import annotations

import json
import os

import gen
import pipelines as P

# input sizes and shares; printed with every result and part of the
# input cache key
SIZES = {
    "zillow_dirty": {"rows": 8_000, "files": 4, "dirty_share": 0.05},
    "flights_join_agg": {"rows": 300_000, "carriers": 40,
                         "airports": 300},
    "corpus_clean": {"rows": 300, "exact_dup_share": 0.10,
                     "near_dup_share": 0.10, "low_quality_share": 0.08,
                     "foreign_share": 0.05},
}


def _dump(path, obj):
    with open(path, "w") as f:
        json.dump(obj, f)


def _load(path):
    with open(path) as f:
        return json.load(f)


def _tuples(rows):
    return [tuple(r) for r in rows]


# ------------------------------------------------------------------ Zillow
class ZillowDirty:
    """Listings with malformed cells: resolvers, a fallback column,
    collect() and exception_counts."""

    def __init__(self, name):
        self.name = name
        self.size = SIZES[name]
        self.rows = self.size["rows"]

    def prepare(self, seed, d):
        rows = gen.zillow_rows(seed, self.rows, self.size["dirty_share"])
        k = self.size["files"]
        for i in range(k):
            gen.write_zillow_csv(os.path.join(d, f"listings-{i}.csv"),
                                 rows[i::k])
        out, counts, resolved = gen.zillow_reference(rows)
        _dump(os.path.join(d, "reference.json"),
              {"rows": out, "exception_counts": counts,
               "resolved": resolved})

    def load_reference(self, d):
        ref = _load(os.path.join(d, "reference.json"))
        ref["rows"] = sorted(_tuples(ref["rows"]))
        return ref

    def build(self, ctx, d):
        return P.build_chain(ctx.csv(os.path.join(d, "listings-*.csv")),
                             P.ZILLOW_DIRTY)

    def act(self, ds, out):
        rows = ds.collect()
        return {"rows": rows, "exception_counts": ds.exception_counts}

    def check(self, ref, result, out):
        return (sorted(result["rows"]) == ref["rows"]
                and result["exception_counts"] == ref["exception_counts"])

    def stats(self, ref, result):
        # the engine does not count rows its resolvers rescued; the
        # reference does, and check() has matched output and counts to it
        return {"exception_rows": sum(result["exception_counts"].values()),
                "resolved": ref["resolved"]}


# ----------------------------------------------------------------- flights
class FlightsJoinAgg:
    """Compiled cleanups, inner + left join, native keyed fold."""

    def __init__(self, name):
        self.name = name
        self.size = SIZES[name]
        self.rows = self.size["rows"]

    def prepare(self, seed, d):
        import pyarrow as pa
        import pyarrow.parquet as pq
        tables = gen.flights_tables(seed, self.rows, self.size["carriers"],
                                    self.size["airports"])
        for name, df in zip(("flights", "carriers", "airports"), tables):
            pq.write_table(pa.Table.from_pandas(df, preserve_index=False),
                           os.path.join(d, f"{name}.parquet"))
        _dump(os.path.join(d, "reference.json"),
              {"rows": gen.flights_reference(*tables)})

    def load_reference(self, d):
        return {"rows": _tuples(_load(os.path.join(d, "reference.json"))
                                ["rows"])}

    def build(self, ctx, d):
        return P.flights_pipeline(
            ctx, *(os.path.join(d, f"{n}.parquet")
                   for n in ("flights", "carriers", "airports")))

    def act(self, ds, out):
        return ds.collect()

    def check(self, ref, result, out):
        return sorted(result, key=gen.flights_key) == ref["rows"]

    def stats(self, ref, result):
        return {"exception_rows": 0, "resolved": 0}


# ------------------------------------------------------------------ corpus
class CorpusClean:
    """functions.pipeline.clean_corpus over seeded documents, written as
    parquet."""

    def __init__(self, name):
        self.name = name
        self.size = SIZES[name]
        self.rows = self.size["rows"]

    def prepare(self, seed, d):
        import pyarrow as pa
        import pyarrow.parquet as pq
        s = self.size
        ids, texts = gen.corpus_docs(seed, self.rows, s["exact_dup_share"],
                                     s["near_dup_share"],
                                     s["low_quality_share"],
                                     s["foreign_share"])
        path = os.path.join(d, "documents.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()),
                                 "text": pa.array(texts, pa.string())}),
                       path)
        _dump(os.path.join(d, "reference.json"),
              {"rows": gen.corpus_reference(path)})

    def load_reference(self, d):
        return {"rows": _tuples(_load(os.path.join(d, "reference.json"))
                                ["rows"])}

    def build(self, ctx, d):
        from tuplex_spark.functions import pipeline
        docs = ctx.parquet(os.path.join(d, "documents.parquet")).toDF()
        return pipeline.clean_corpus(docs)

    def act(self, df, out):
        df.write.mode("overwrite").parquet(out)
        return None

    def check(self, ref, result, out):
        import pyarrow.parquet as pq
        t = pq.read_table(out).to_pydict()
        got = sorted(zip(t["doc_id"], t["quality"]))
        want = ref["rows"]
        # both sides round quality to 6 places; allow one unit there
        return len(got) == len(want) and all(
            a[0] == b[0] and abs(a[1] - b[1]) <= 1e-6
            for a, b in zip(got, want))

    def stats(self, ref, result):
        return {"exception_rows": 0, "resolved": 0,
                "kept": len(ref["rows"]), "docs": self.rows}


class Composite:
    """Several pipelines run back to back as one job: one plan phase
    building all of them, then one action phase running all of them."""

    def __init__(self, name, parts):
        self.name = name
        self.parts = parts
        self.rows = sum(p.rows for p in parts)

    def _dirs(self, d):
        return [os.path.join(d, p.name) for p in self.parts]

    def prepare(self, seed, d):
        for p, sub in zip(self.parts, self._dirs(d)):
            os.makedirs(sub)
            p.prepare(seed, sub)

    def load_reference(self, d):
        return [p.load_reference(sub)
                for p, sub in zip(self.parts, self._dirs(d))]

    def build(self, ctx, d):
        return [p.build(ctx, sub) for p, sub in zip(self.parts, self._dirs(d))]

    def act(self, built, out):
        return [p.act(b, os.path.join(out, p.name))
                for p, b in zip(self.parts, built)]

    def check(self, ref, result, out):
        return all(p.check(r, res, os.path.join(out, p.name))
                   for p, r, res in zip(self.parts, ref, result))

    def stats(self, ref, result):
        acc = {"exception_rows": 0, "resolved": 0}
        for p, r, res in zip(self.parts, ref, result):
            for k, v in p.stats(r, res).items():
                acc[k] = acc.get(k, 0) + v
        return acc


WORKLOADS = {
    "zillow_dirty": ZillowDirty("zillow_dirty"),
    "flights_corpus": Composite("flights_corpus", [
        FlightsJoinAgg("flights_join_agg"), CorpusClean("corpus_clean")]),
}
