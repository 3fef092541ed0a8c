"""Exception-model semantics: implicit drop, resolve chains, ignore,
in-order merge (reference: test_exceptions.py, test_resolve.py)."""

import itertools

import pytest


class TestImplicitDrop:
    def test_none_rows_dropped_and_counted(self, ctx):
        ds = ctx.parallelize([1, 2, None, 4]).map(lambda x: x * 2)
        assert ds.collect() == [2, 4, 8]
        assert ds.exception_counts == {"TypeError": 1}

    def test_order_preserved_across_drop(self, ctx):
        ds = ctx.parallelize([3, 0, 5, 0, 7]).map(lambda x: 100 // x)
        assert ds.collect() == [33, 20, 14]


class TestResolve:
    def test_basic(self, ctx):
        ds = (ctx.parallelize([1, 2, 0, 4])
              .map(lambda x: 10 // x)
              .resolve(ZeroDivisionError, lambda x: -1))
        assert ds.collect() == [10, 5, -1, 2]
        assert ds.exception_counts == {}

    def test_resolve_wrong_class_keeps_exception(self, ctx):
        ds = (ctx.parallelize([1, 0, 2])
              .map(lambda x: 10 // x)
              .resolve(ValueError, lambda x: -1))
        assert ds.collect() == [10, 5]
        assert ds.exception_counts == {"ZeroDivisionError": 1}

    def test_resolver_chain(self, ctx):
        def second(x):
            return -99

        def first(x):
            if x == 0:
                raise ValueError("pass along")
            return 0
        ds = (ctx.parallelize([4, 0, 2])
              .map(lambda x: 8 // x)
              .resolve(ZeroDivisionError, first)
              .resolve(ValueError, second))
        assert ds.collect() == [2, -99, 4]

    def test_resolve_base_class_catches_subclass(self, ctx):
        ds = (ctx.parallelize([1, 0, 2])
              .map(lambda x: 10 // x)
              .resolve(Exception, lambda x: 0))
        assert ds.collect() == [10, 0, 5]

    def test_resolve_on_filter(self, ctx):
        ds = (ctx.parallelize(["1", "x", "3"])
              .filter(lambda s: int(s) > 1)
              .resolve(ValueError, lambda s: True))
        assert ds.collect() == ["x", "3"]

    def test_resolve_fallback_resolver(self, ctx):
        """Resolver that can't compile (loop) goes through Python path."""
        def fix(x):
            t = 0
            for i in range(3):
                t += i
            return t
        ds = (ctx.parallelize([1, 0, 5])
              .map(lambda x: 10 // x)
              .resolve(ZeroDivisionError, fix))
        assert ds.collect() == [10, 3, 2]


class TestIgnore:
    def test_ignore_drops_silently(self, ctx):
        ds = (ctx.parallelize([1, 2, 0, 4])
              .map(lambda x: 10 // x)
              .ignore(ZeroDivisionError))
        assert ds.collect() == [10, 5, 2]
        assert ds.exception_counts == {}

    def test_ignore_specific_class_only(self, ctx):
        def f(x):
            if x < 0:
                raise ValueError("neg")
            return 10 // x
        ds = (ctx.parallelize([1, -1, 0, 2])
              .map(f)
              .ignore(ValueError))
        assert ds.collect() == [10, 5]
        assert ds.exception_counts == {"ZeroDivisionError": 1}


class TestAcrossOperators:
    def test_exceptions_survive_downstream_ops(self, ctx):
        ds = (ctx.parallelize([1, 0, 4])
              .map(lambda x: 10 // x)
              .map(lambda x: x + 1))
        assert ds.collect() == [11, 3]
        assert ds.exception_counts == {"ZeroDivisionError": 1}

    def test_exceptions_parked_at_join(self, ctx):
        left = ctx.parallelize([(1, 2), (2, 0), (3, 4)], ["k", "d"]) \
            .withColumn("q", lambda x: 10 // x["d"])
        right = ctx.parallelize([(1, "a"), (3, "b")], ["k", "v"])
        j = left.join(right, "k", "k")
        rows = j.collect()
        assert sorted(rows) == [(2, 5, 1, "a"), (4, 2, 3, "b")]
        assert j.exception_counts == {"ZeroDivisionError": 1}

    def test_exception_counts_with_multiple_classes(self, ctx):
        def f(x):
            if x == "a":
                raise ValueError("a")
            return 10 // int(x)
        ds = ctx.parallelize(["2", "a", "0", "5"]).map(f)
        assert ds.collect() == [5, 2]
        assert ds.exception_counts == {"ValueError": 1,
                                       "ZeroDivisionError": 1}

    def test_disable_exceptions_option(self):
        import tuplex_spark as tx
        c = tx.Context(conf={"tuplex.exceptions": False}, name="tests")
        ds = c.parallelize([1, 2, 4]).map(lambda x: x * 2)
        assert ds.collect() == [2, 4, 8]
        from tuplex_spark.udf.fallback import EXC_CODE
        assert EXC_CODE not in ds._df.columns


class TestMajorityTypeVoting:
    """parallelize normal-case typing votes per column: the MAJORITY
    type family is the schema; minority rows quarantine as
    BadParallelizeInput (reference normalcaseThreshold semantics,
    FileInputOperator.cc:229-299 — the reference additionally re-runs
    violators through the pipeline's interpreter path; here they are
    counted and excluded, recoverable via the quarantine payload)."""

    def test_minority_string_is_the_violation(self, ctx):
        ds = ctx.parallelize([0, "e1", 0]).filter(lambda x: x != 0)
        assert ds.collect() == []
        assert ds.exception_counts.get("BadParallelizeInput") == 1

    def test_majority_flows_through_pipeline(self, ctx):
        ds = ctx.parallelize([1, 2, "x", 4]).map(lambda x: x * 10)
        assert ds.collect() == [10, 20, 40]
        assert ds.exception_counts.get("BadParallelizeInput") == 1

    def test_numeric_mixes_widen_not_quarantine(self, ctx):
        ds = ctx.parallelize([1, 2.5, True])
        assert ds.collect() == [1.0, 2.5, 1.0]
        assert ds.exception_counts == {}

    def test_per_column_vote(self, ctx):
        ds = ctx.parallelize([(1, "a"), (2, "b"), ("x", "c")],
                             columns=["n", "s"])
        assert ds.collect() == [(1, "a"), (2, "b")]
        assert ds.exception_counts.get("BadParallelizeInput") == 1


class TestResolveWithRound2Shapes:
    """The exception model composed with the newer compiled shapes:
    guards raised inside first-match scans / dict lookups / mixed
    compares must be resolvable and ignorable like any other."""

    def test_resolve_first_match_guard(self, ctx):
        def f(s):
            for t in s.split(" "):
                if t.isdigit():
                    return 100 // int(t)
            return -1
        ds = ctx.parallelize(["a 0 b", "5 x", "nope"]).map(f) \
                .resolve(ZeroDivisionError, lambda s: -99)
        assert ds.collect() == [-99, 20, -1]
        assert ds.exception_counts == {}

    def test_resolver_uses_dict_lookup(self, ctx):
        ds = ctx.parallelize([1, 3, 5, 6]).map(lambda x: 10 // (x % 3)) \
                .resolve(ZeroDivisionError,
                         lambda x: {0: -1, 3: -3}.get(x % 7, -9))
        assert ds.collect() == [10, -3, 5, -9]

    def test_ignore_dict_keyerror(self, ctx):
        ds = ctx.parallelize([1, 2, 9]) \
                .map(lambda x: {1: "a", 2: "b"}[x]).ignore(KeyError)
        assert ds.collect() == ["a", "b"]

    def test_resolve_mixed_compare_typeerror(self, ctx):
        ds = ctx.parallelize(["ab", "abcd"]) \
                .map(lambda s: (s < 5) if len(s) > 3 else True) \
                .resolve(TypeError, lambda s: False)
        assert ds.collect() == [True, False]

    def test_resolver_sees_exact_timestamp_payload(self, ctx):
        """Payloads round-trip through to_json/from_json; the default
        timestampFormat truncated microseconds, so a resolver reading a
        timestamp column got a subtly different value than the failing
        UDF saw (reference semantics: the exact input row)."""
        import datetime
        rows = [(1, datetime.datetime(2021, 3, 4, 5, 6, 7, 123456)),
                (0, datetime.datetime(2022, 1, 2, 3, 4, 5, 987654)),
                (2, datetime.datetime(2020, 6, 7, 8, 9, 10, 1))]
        ds = ctx.parallelize(rows, columns=["k", "ts"]) \
                .map(lambda x: 100 // x["k"]) \
                .resolve(ZeroDivisionError,
                         lambda x: x["ts"].microsecond)
        assert ds.collect() == [100, 987654, 50]
        assert ds.exception_counts == {}

    def test_resolver_sees_exact_binary_payload(self, ctx):
        rows = [(1, b"ok"), (0, b"\x00\xff weird \x01"), (5, b"")]
        ds = ctx.parallelize(rows, columns=["k", "b"]) \
                .map(lambda x: 100 // x["k"]) \
                .resolve(ZeroDivisionError, lambda x: len(x["b"]))
        assert ds.collect() == [100, len(b"\x00\xff weird \x01"), 20]
        assert ds.exception_counts == {}

    def test_staged_cse_resolver_stays_compiled(self, ctx):
        """A resolver body complex enough to need staged CSE layers
        (string-pipeline shape: find/slice/replace chains) must compile
        onto the resolve select chain like map() bodies do — until
        round 3 it silently demoted to the Arrow fallback."""
        def res(s):
            t = s.replace("-", " ").strip()
            head = t[:t.find(" ")] if t.find(" ") >= 0 else t
            tail = t[t.rfind(" ") + 1:]
            mid = t.upper().replace(" ", "_")
            return head + "|" + mid + "|" + tail + "|" + str(len(t))
        data = ["a-bc d", "12", "  q-r  ", "one two three", "7"]
        ds = ctx.parallelize(data) \
                .map(lambda s: "n=" + str(int(s) * 2)) \
                .resolve(ValueError, res)
        plan = ds._df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" not in plan, "resolver fell back to Arrow"
        assert "ArrowEvalPython" not in plan

        def ref(s):
            try:
                return "n=" + str(int(s) * 2)
            except ValueError:
                return res(s)
        assert ds.collect() == [ref(s) for s in data]
        assert ds.exception_counts == {}


def _divider(k):
    """An object whose method the compiler cannot lower, so a UDF
    calling it runs on the Arrow/pandas fallback path.  The class is
    local so cloudpickle ships it by value to the Python workers."""
    class Divider:
        def apply(self, x):
            return 60 // (x % k)
    return Divider()


_GROUPS = itertools.count()


def _spark_jobs(ctx, action):
    """Run ``action`` under a fresh job group; return its result and the
    number of Spark jobs it started."""
    sc = ctx.spark.sparkContext
    group = f"collect_jobcount_{next(_GROUPS)}"
    sc.setJobGroup(group, "collect job-count probe")
    try:
        out = action()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


class TestOnePassCollect:
    """collect() returns rows and exception_counts from ONE Spark job
    (the reference's dual-mode pass); take(n) still counts over the
    whole dataset."""

    def test_fallback_resolve_chain_is_one_job(self, ctx):
        from conftest import cpython_reference
        div = _divider(5)
        data = [6, 3, 10, 4, 9, 15, 12, 20, 7]

        def chain(x):
            try:
                y = div.apply(x)
            except ZeroDivisionError:
                y = 100 // (x - 10)
            return y + 1

        before = ctx.metrics.fallbackUDFs
        ds = (ctx.parallelize(data)
              .map(lambda x: div.apply(x))
              .resolve(ZeroDivisionError, lambda x: 100 // (x - 10))
              .map(lambda y: y + 1))
        assert ctx.metrics.fallbackUDFs > before
        want, n_exc = cpython_reference(data, chain)
        assert n_exc == 1
        m = ctx.metrics
        actions, total = m.numActions, m.totalExceptionCount
        rows, jobs = _spark_jobs(ctx, ds.collect)
        assert jobs == 1
        assert rows == want
        assert ds.exception_counts == {"ZeroDivisionError": n_exc}
        assert m.numActions == actions + 1
        assert m.lastActionRowCount == len(want)
        assert m.totalExceptionCount == total + n_exc

    def test_parked_join_rows_and_counts_match_reference(self, ctx):
        """Rows parked on both sides of a join are counted in collect()'s
        own job: it starts no more jobs than collecting the clean frame
        of an identically built dataset."""
        from conftest import cpython_reference
        div = _divider(4)
        lrows = [(1, 5), (2, 4), (3, 7), (4, 9)]
        rrows = [(1, "1"), (3, "b"), (4, "4")]

        def build():
            left = ctx.parallelize(lrows, ["k", "d"]) \
                .withColumn("q", lambda x: div.apply(x["d"]))
            right = ctx.parallelize(rrows, ["k", "v"]) \
                .withColumn("w", lambda x: 12 // (x["k"] - 4))
            return left.join(right, "k", "k") \
                .withColumn("n", lambda x: int(x["v"]))
        ds = build()
        rows, jobs = _spark_jobs(ctx, ds.collect)
        _, clean_jobs = _spark_jobs(ctx, build().toDF().collect)
        assert jobs <= clean_jobs

        # both sides in plain Python, joined on k, then the post-join
        # column
        lq, n_q = cpython_reference(
            lrows, lambda x: (x[1], div.apply(x[1]), x[0]))
        rw, n_w = cpython_reference(
            rrows, lambda x: (x[0], x[1], 12 // (x[0] - 4)))
        rv = {k: (v, w) for k, v, w in rw}
        joined = [(d, q, k) + rv[k] for d, q, k in lq if k in rv]
        want, n_n = cpython_reference(joined, lambda x: x + (int(x[3]),))
        assert (n_q, n_w, n_n) == (1, 1, 1)
        assert sorted(rows) == sorted(want)
        assert ds.exception_counts == {"ZeroDivisionError": 2,
                                       "ValueError": 1}

    def test_pyobj_collect_with_exception_rows(self, ctx):
        import numpy as np
        from tuplex_spark.udf.fallback import EXC_CODE
        data = [np.array([1.0, 3.0]), "bad", np.array([2.0, 2.0])]
        ds = ctx.parallelize(data).map(lambda a: a / a.sum())
        assert ds._pyobj and EXC_CODE in ds._df.columns
        rows, jobs = _spark_jobs(ctx, ds.collect)
        assert jobs == 1
        assert [list(r) for r in rows] == [[0.25, 0.75], [0.5, 0.5]]
        assert ds.exception_counts == {"AttributeError": 1}

    def test_one_tuple_collect_with_exception_rows(self, ctx):
        ds = ctx.parallelize([1, 0, 2, 0]).map(lambda x: (10 // x,))
        assert ds._tuple1
        assert ds.collect() == [(10,), (5,)]
        assert ds.exception_counts == {"ZeroDivisionError": 2}

    def test_take_counts_whole_dataset(self, ctx):
        ds = ctx.parallelize([1, 0, 2, 0, 5]).map(lambda x: 10 // x)
        assert ds.take(1) == [10]
        assert ctx.metrics.lastActionRowCount == 1
        assert ds.exception_counts == {"ZeroDivisionError": 2}

    def test_take_counts_in_one_extra_job(self, ctx):
        def build():
            return ctx.parallelize([1, 0, "x", 2, 0, 5]) \
                .map(lambda x: 10 // x)
        ds = build()
        assert ds._parked is not None
        rows, jobs = _spark_jobs(ctx, lambda: ds.take(2))
        _, clean_jobs = _spark_jobs(ctx, lambda: build().toDF().take(2))
        assert rows == [10, 5]
        assert jobs <= clean_jobs + 1
        assert ds.exception_counts == {"ZeroDivisionError": 2,
                                       "BadParallelizeInput": 1}


class TestParkedCounts:
    """exception_counts stay exact whichever source or boundary parked
    the rows, through both collect() and take(n)."""

    @staticmethod
    def _check(ds, want_rows, want_counts):
        assert sorted(ds.collect()) == sorted(want_rows)
        assert ds.exception_counts == want_counts
        ds.take(1)
        assert ds.exception_counts == want_counts

    def test_parallelize_bad_rows(self, ctx):
        ds = ctx.parallelize([(1, "a"), (2, "b"), ("x", "c"), (3,)],
                             columns=["n", "s"])
        self._check(ds, [(1, "a"), (2, "b")], {"BadParallelizeInput": 2})

    def test_json_corrupt_records(self, ctx, tmp_path):
        p = tmp_path / "d.jsonl"
        p.write_text('{"a": 1, "b": "x"}\nnot json {{\n'
                     '{"a": 0, "b": "y"}\n{"a": 4, "b": "z"}\n')
        ds = ctx.json(str(p)).map(lambda x: 8 // x["a"])
        self._check(ds, [8, 2], {"BadParseInput": 1, "ZeroDivisionError": 1})

    @pytest.mark.parametrize("op, want", [
        ("union", [12, 6, 3, 3, 6, 2]),
        ("intersect", [6, 3]),
        ("subtract", [12]),
    ])
    def test_set_ops_park_both_sides(self, ctx, op, want):
        a = ctx.parallelize([1, 0, "x", 2, 4]).map(lambda x: 12 // x)
        b = ctx.parallelize([4, 0, 2, 0, None, 6]).map(lambda x: 12 // x)
        self._check(getattr(a, op)(b), want,
                    {"BadParallelizeInput": 1, "ZeroDivisionError": 3,
                     "TypeError": 1})
