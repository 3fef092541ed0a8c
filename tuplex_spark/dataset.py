"""DataSet — the reference's user-facing abstraction on a Spark DataFrame.

API parity target: python/tuplex/dataset.py of the reference (map/filter/
withColumn/mapColumn/selectColumns/renameColumn/join/leftJoin/aggregate/
aggregateByKey/unique/resolve/ignore/cache/collect/take/show/tocsv/...).

Execution model (Spark-first, not a port):
- every transform builds on the wrapped DataFrame lazily; Catalyst does the
  optimizing (predicate pushdown, pruning, join strategy).
- UDFs go through a compile ladder: (a) Python-AST -> Column expressions
  (udf/compiler.py) so the hot path stays in whole-stage codegen;
  (b) Arrow-batched mapInPandas with the pickled original function
  (udf/fallback.py).
- exception semantics (reference §2.7: rows that raise are excluded from
  output, countable, resolvable) are carried IN the DataFrame as three
  hidden columns (__exc_code, __exc_payload = JSON of the failing op's
  input row, __exc_op).  Rows never leave their DataFrame, so the
  reference's "merge exceptions in order" behavior
  (tuplex.optimizer.mergeExceptionsInOrder) is free, and when a pipeline
  has no fallible operator the hidden columns are never materialized —
  the plan is indistinguishable from hand-written DataFrame code.
"""

from __future__ import annotations

import json
import re as _re
from collections import Counter

from pyspark.sql import Column, DataFrame, functions as F, types as T

from . import exceptions as E
from .udf import compiler, fallback
from .udf.compiler import CompileError
from .udf.fallback import EXC_CODE, EXC_OP, EXC_PAYLOAD

_HIDDEN = (EXC_CODE, EXC_PAYLOAD, EXC_OP)
_HIDDEN_FIELDS = (T.StructField(EXC_CODE, T.IntegerType(), False),
                  T.StructField(EXC_PAYLOAD, T.StringType(), True),
                  T.StructField(EXC_OP, T.StringType(), True))

# exception payloads round-trip through to_json/from_json; the default
# timestampFormat keeps only milliseconds, silently handing resolvers a
# truncated value (reference semantics: the resolver sees the EXACT
# failing input row) — pin a microsecond format on both directions
_PAYLOAD_JSON = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


class UDFOpInfo:
    """What resolve()/ignore() need to know about the preceding UDF op."""

    def __init__(self, name: str, kind: str, fn, in_schema: T.StructType,
                 out_cols: list[str], extra=None):
        self.name, self.kind, self.fn = name, kind, fn
        self.in_schema, self.out_cols, self.extra = in_schema, out_cols, extra


PYOBJ_COL = "__pyobj"

_FLAGGED_TYPES = (T.DoubleType, T.FloatType, T.LongType, T.IntegerType,
                  T.ShortType, T.ByteType)


def _with_null_flags(df: DataFrame, in_cols: list[str]):
    """Append JVM-computed ``isNull`` boolean flags for numeric UDF
    inputs.  Arrow->pandas shows BOTH null and NaN as NaN in a float64
    column (and upcasts int columns with nulls to float64), so without
    the flag the fallback path cannot tell ``None`` from ``float('nan')``
    and hands floats to UDFs expecting ints.  One boolean per numeric
    input column, computed in codegen — negligible cost."""
    flags: dict[str, str] = {}
    add = []
    for i, c in enumerate(in_cols):
        t = df.schema[c].dataType
        if isinstance(t, _FLAGGED_TYPES):
            flag = f"__nn_{i}"
            flags[c] = flag
            add.append(F.col(c).isNull().alias(flag))
    if not add:
        return df, flags
    return df.select("*", *add), flags


def _py_type(dt: T.DataType, nullable: bool):
    """Spark type -> Python typing object (the reference's .types
    convention, dataset.py:375): Optional[] wraps nullable columns,
    struct-tuple columns (_0.._n field names) come back as REAL tuples
    of types, arrays/maps as typing.List/Dict."""
    import typing
    if isinstance(dt, T.NullType):
        return type(None)
    if isinstance(dt, T.StructType) and dt.fields \
            and dt.fields[0].name == "__vt":
        # variant struct (compiled mixed-type return): Union of the
        # families present, Optional because any arm may be None
        fam = {"__vb": bool, "__vi": int, "__vf": float, "__vs": str}
        opts = tuple(fam[f.name] for f in dt.fields[1:] if f.name in fam)
        return typing.Optional[typing.Union[opts]] if opts else object
    if isinstance(dt, T.StructType) and len(dt.fields) == 1 \
            and dt.fields[0].name == "__sv" \
            and isinstance(dt.fields[0].dataType, T.ArrayType):
        # compiled set return (compiler.is_set_struct)
        return typing.Set[
            _py_type(dt.fields[0].dataType.elementType, False)]
    if isinstance(dt, T.StructType) and \
            all(_re.fullmatch(r"_\d+", f.name) for f in dt.fields):
        base = tuple(_py_type(f.dataType, f.nullable) for f in dt.fields)
    elif isinstance(dt, T.ArrayType):
        base = typing.List[_py_type(dt.elementType, False)]
    elif isinstance(dt, T.MapType):
        base = typing.Dict[_py_type(dt.keyType, False),
                           _py_type(dt.valueType, False)]
    else:
        import datetime
        base = {T.LongType: int, T.IntegerType: int, T.ShortType: int,
                T.ByteType: int, T.DoubleType: float, T.FloatType: float,
                T.StringType: str, T.BooleanType: bool,
                T.BinaryType: bytes,
                T.TimestampType: datetime.datetime,
                T.TimestampNTZType: datetime.datetime,
                T.DateType: datetime.date}.get(type(dt), object)
    if nullable and not isinstance(base, tuple):
        return typing.Optional[base]
    return base


def _py_type_of_value(v):
    """Python value -> typing object (for PYOBJECT datasets, whose Spark
    schema is one pickled binary column — types come from the sample)."""
    import typing
    if v is None:
        return type(None)
    if isinstance(v, bool):
        return bool
    if isinstance(v, (int, float, str, bytes)):
        return type(v)
    if isinstance(v, tuple):
        return tuple(_py_type_of_value(x) for x in v)
    if isinstance(v, (set, frozenset)):
        return typing.Set[_py_type_of_value(next(iter(v)))] if v else set
    if isinstance(v, list):
        return typing.List[_py_type_of_value(v[0])] if v else list
    if isinstance(v, dict):
        if v:
            k = next(iter(v))
            return typing.Dict[_py_type_of_value(k),
                               _py_type_of_value(v[k])]
        return dict
    return object


def _py_value(v):
    """Spark row values -> Python values: struct Rows become tuples
    (the engine's tuple convention), recursively through arrays/maps;
    variant structs (compiled mixed-type returns, compiler.SVariant)
    decode to the exact per-row Python value."""
    from pyspark.sql import Row as _Row
    if isinstance(v, _Row):
        flds = getattr(v, "__fields__", None)
        if flds and flds[0] == "__vt":
            if not v[0]:
                return None
            return next((x for x in v[1:] if x is not None), None)
        if flds == ["__sv"]:  # compiled set return (compiler.is_set_struct)
            return set(v[0]) if v[0] is not None else None
        return tuple(_py_value(x) for x in v)
    if isinstance(v, list):
        return [_py_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _py_value(x) for k, x in v.items()}
    return v


class _SampleBudgetExceeded(Exception):
    """Plan-time sample evaluation ran past its line budget."""


def _apply_budgeted(fn, row, arity, names, budget: int = 200_000):
    """fallback._apply under a line-event budget: plan-time samples run
    REAL CPython, so a row on which the UDF never terminates (compiled
    plans guard such rows into RuntimeError; CPython itself would hang)
    must abort instead of freezing the driver.  200k line events covers
    thousands of loop iterations; tracing costs ~ms and only applies to
    the <= 100 sample rows, never to cluster-side execution."""
    import sys
    count = 0

    def tracer(frame, event, arg):
        nonlocal count
        if event == "line":
            count += 1
            if count > budget:
                raise _SampleBudgetExceeded()
        return tracer

    old = sys.gettrace()
    sys.settrace(tracer)
    try:
        return fallback._apply(fn, row, arity, names)
    finally:
        sys.settrace(old)


class DataSet:
    def __init__(self, ctx, df: DataFrame, columns: list[str],
                 sample: list | None = None, parked=None, last_op=None,
                 op_seq: int = 0, pyobj: bool = False,
                 tuple1: bool = False):
        self._ctx = ctx
        self._df = df
        self._columns = list(columns)
        self._pyobj = pyobj  # PYOBJECT mode: rows are pickled objects
        self._sample = sample if sample is not None else []
        # exception rows cut off at relational boundaries (join,
        # aggregate, unique, sort, limit, set ops) and at the sources:
        # one frame of their __exc_code, or None (see _park)
        self._parked = parked
        self._last_op = last_op  # UDFOpInfo of the last resolvable op
        self._op_seq = op_seq
        self._exception_counts: dict[str, int] = {}
        # single visible column that is semantically a 1-TUPLE row
        # (UDF returned `(v,)`): collect yields (v,) instead of v
        self._tuple1 = tuple1

    # ------------------------------------------------------------- helpers
    @property
    def _exc_enabled(self) -> bool:
        return bool(self._ctx._options.get("tuplex.exceptions", True))

    @property
    def _has_exc(self) -> bool:
        return EXC_CODE in self._df.columns

    def _schema_of_visible(self) -> T.StructType:
        fields = {f.name: f for f in self._df.schema.fields}
        return T.StructType([fields[c] for c in self._columns])

    def _spawn(self, df, columns=None, sample=None, parked=None,
               last_op=None, bump=True, tuple1=None):
        return DataSet(self._ctx, df,
                       self._columns if columns is None else columns,
                       self._sample if sample is None else sample,
                       self._parked if parked is None else parked,
                       last_op,
                       self._op_seq + (1 if bump else 0),
                       tuple1=self._tuple1 if tuple1 is None else tuple1)

    def _next_op(self, kind: str) -> str:
        return f"{kind}_{self._op_seq}"

    def _sample_apply(self, fn, mode="map"):
        """Propagate the plan-time sample through a UDF (drop raising
        rows).  Evaluation is BUDGETED (line-trace cap per row): a
        sample row that never terminates in CPython — e.g. a growth
        while from a non-positive start, which the compiled plan turns
        into a guarded RuntimeError row — must not hang plan building
        on the driver."""
        out = []
        arity = getattr(getattr(fn, "__code__", None), "co_argcount", 1)
        for row in self._sample:
            try:
                r = _apply_budgeted(fn, row, arity, self._columns)
            except Exception:
                continue
            if mode == "filter":
                if r:
                    out.append(row)
            else:
                out.append(r)
        return out

    # ------------------------------------------------------- UDF machinery
    def _apply_udf(self, fn, kind: str, target_col: str | None = None,
                   new_col: str | None = None):
        """Shared implementation of map/filter/withColumn/mapColumn."""
        if self._pyobj:
            if kind not in ("map", "filter"):
                raise NotImplementedError(
                    f"{kind} is not available on PYOBJECT datasets "
                    "(reference parity: fallback datasets support "
                    "map/filter)")
            return self._apply_pyobj(fn, kind)
        op_name = self._next_op(kind)
        if kind == "mapColumn":
            in_schema = T.StructType(
                [self._schema_of_visible()[target_col]])
            udf_input_cols = [target_col]
        else:
            in_schema = self._schema_of_visible()
            udf_input_cols = list(self._columns)

        compiled = None
        if self._ctx._options.get("tuplex.useCompiledUDFs", True):
            import time as _time
            t0 = _time.time()
            try:
                compiled = compiler.compile_udf(
                    fn, in_schema, with_guards=self._exc_enabled)
            except CompileError:
                compiled = None
            m = self._ctx._metrics
            m.totalCompilationTime += _time.time() - t0
            if compiled is not None:
                m.compiledUDFs += 1
            else:
                m.fallbackUDFs += 1
        else:
            self._ctx._metrics.fallbackUDFs += 1

        if compiled is not None:
            try:
                return self._apply_compiled(compiled, fn, kind, op_name,
                                            in_schema, target_col, new_col)
            except CompileError:
                # materialization can fail AFTER a successful compile
                # (e.g. a bound method returned as a value) — that must
                # demote to the fallback, never crash the user call
                self._ctx._metrics.compiledUDFs -= 1
                self._ctx._metrics.fallbackUDFs += 1
        return self._apply_fallback(fn, kind, op_name, in_schema,
                                    udf_input_cols, target_col, new_col)

    # -- compiled path ----------------------------------------------------
    def _code_exprs(self, guards, op_name):
        """(new_code, new_payload, new_op) Column triple folding previous
        exception state with this op's guards."""
        code = None
        for g, c in guards:
            code = F.when(g, c) if code is None else code.when(g, c)
        code = code.otherwise(0) if code is not None else F.lit(0)
        payload_src = F.to_json(
            F.struct(*[F.col(c) for c in self._columns]), _PAYLOAD_JSON)
        if not self._has_exc:
            new_fail = code != 0
            return (code, F.when(new_fail, payload_src),
                    F.when(new_fail, F.lit(op_name)), new_fail)
        prev_code = F.col(EXC_CODE)
        new_fail = (prev_code == 0) & (code != 0)
        out_code = F.when(prev_code != 0, prev_code).otherwise(code)
        out_payload = F.when(prev_code != 0, F.col(EXC_PAYLOAD)) \
            .when(new_fail, payload_src)
        out_op = F.when(prev_code != 0, F.col(EXC_OP)) \
            .when(new_fail, F.lit(op_name))
        return out_code, out_payload, out_op, new_fail

    def _apply_compiled(self, compiled, fn, kind, op_name, in_schema,
                        target_col, new_col):
        df = self._df
        # apply the compiler's CSE layers: each staged local becomes a
        # real projection column, so the op's output/guard expressions
        # reference it instead of re-inlining its tree (the final select
        # below never lists __t columns, so they don't escape the op)
        for tmp_name, tmp_col in compiled.staged:
            df = df.select("*", tmp_col.alias(tmp_name))
        guards = compiled.guards
        fallible = bool(guards) and self._exc_enabled
        ok = None
        if fallible or self._has_exc:
            code_e, payload_e, op_e, _ = self._code_exprs(guards, op_name)
            ok = code_e == 0
        if kind == "filter":
            pred = compiled.as_predicate()
            if ok is not None:
                # filter BEFORE the projection that drops __t columns —
                # the predicate may reference staged locals
                out = df.filter((code_e != 0)
                                | F.coalesce(pred, F.lit(False)))
                out = out.select(*self._columns,
                                 code_e.alias(EXC_CODE),
                                 payload_e.alias(EXC_PAYLOAD),
                                 op_e.alias(EXC_OP))
            else:
                out = df.filter(F.coalesce(pred, F.lit(False)))
                if compiled.staged:
                    out = out.select(*self._columns,
                                     *_present(out, _HIDDEN))
            info = UDFOpInfo(op_name, kind, fn, in_schema, list(self._columns))
            return self._spawn(out, sample=self._sample_apply(fn, "filter"),
                               last_op=info)

        outs = compiled.as_columns()
        if kind == "map":
            names = self._out_names(outs)
            new_cols = [(n, c) for n, (_, c, _) in zip(names, outs)]
            vis = names
        elif kind == "withColumn":
            _, c, _ = outs[0]
            vis = list(self._columns) if new_col in self._columns \
                else list(self._columns) + [new_col]
            new_cols = [(new_col, c)]
        else:  # mapColumn
            _, c, _ = outs[0]
            vis = list(self._columns)
            new_cols = [(target_col, c)]

        produced = {n for n, _ in new_cols}
        first_computed = True
        sel: list[Column] = []
        for v in vis:
            if v in produced:
                expr = dict(new_cols)[v]
                if ok is not None:
                    expr = F.when(ok, expr)
                if compiled.staged and first_computed:
                    # pushdown barrier: wrapping one computed column in a
                    # nondeterministic IDENTITY (shuffle of a 1-element
                    # array) makes this Project pushdown- and
                    # collapse-opaque.  Without it, a later filter's
                    # predicate gets rewritten by substituting the
                    # computed columns' expression trees through every
                    # staged layer — a 10-op find/rfind/slice pipeline's
                    # plan grew exponentially (multi-MB, minutes in the
                    # optimizer).  Losing pushdown through a heavy UDF
                    # projection costs one linear stage, never
                    # correctness; plain scan pushdown (filters over
                    # cheap projections) is unaffected.
                    expr = F.element_at(F.shuffle(F.array(expr)), 1)
                    first_computed = False
                sel.append(expr.alias(v))
            else:
                sel.append(F.col(v))
        if ok is not None:
            sel += [code_e.alias(EXC_CODE), payload_e.alias(EXC_PAYLOAD),
                    op_e.alias(EXC_OP)]
        out = df.select(*sel)
        info = UDFOpInfo(op_name, kind, fn, in_schema, list(produced),
                         extra={"target": target_col, "new": new_col})
        tup1 = None
        if kind == "map":
            tup1 = isinstance(compiled.result, compiler.STuple) \
                and len(compiled.result.items) == 1
        return self._spawn(out, columns=vis,
                           sample=self._sample_apply_kind(fn, kind,
                                                          target_col, new_col),
                           last_op=info, tuple1=tup1)

    def _out_names(self, outs):
        if len(outs) == 1 and outs[0][0] is None:
            return ["column0"]
        return [n if n is not None else f"column{i}"
                for i, (n, _, _) in enumerate(outs)]

    def _sample_apply_kind(self, fn, kind, target_col, new_col):
        if kind == "map":
            return self._sample_apply(fn)
        out = []
        cols = self._columns
        arity = getattr(getattr(fn, "__code__", None), "co_argcount", 1)
        for row in self._sample:
            tup = row if isinstance(row, tuple) else (row,)
            vals = dict(zip(cols, tup))
            try:
                if kind == "mapColumn":
                    r = fn(vals[target_col])
                    vals[target_col] = r
                    out.append(tuple(vals[c] for c in cols))
                else:  # withColumn
                    r = fallback._apply(fn, tup, arity, cols)
                    vals[new_col] = r
                    names = cols if new_col in cols else cols + [new_col]
                    out.append(tuple(vals[c] for c in names))
            except Exception:
                continue
        return out

    # -- fallback path ----------------------------------------------------
    def _apply_fallback(self, fn, kind, op_name, in_schema, in_cols,
                        target_col, new_col):
        sample_in = self._sample
        if kind == "mapColumn":
            ci = self._columns.index(target_col)
            sample_in = [r[ci] if isinstance(r, tuple) else r
                         for r in self._sample]
        if kind == "filter":
            out_specs = [("__pred", T.BooleanType())]
            out_kind = "scalar"
        else:
            try:
                specs, out_kind = fallback.infer_output_type(
                    fn, sample_in, in_cols)
            except (fallback.TypeUnstableError,
                    fallback.AllSampleRowsFailed) as e:
                if kind == "map":
                    # heterogeneous/unknown outputs: no Spark schema can
                    # hold them — demote to PYOBJECT rows (reference
                    # dual-mode: rows keep their own types on the
                    # fallback path)
                    return self._apply_structured_pyobj(fn, op_name,
                                                        in_cols)
                if isinstance(e, fallback.AllSampleRowsFailed):
                    # every sampled row raised: expect all-exception
                    # output; declare a string column, runtime successes
                    # that aren't strings become NormalCaseViolation
                    specs = [(None, T.StringType(), True)]
                    out_kind = "scalar"
                else:
                    raise
            if kind in ("withColumn", "mapColumn"):
                name = new_col if kind == "withColumn" else target_col
                out_specs = [(name, specs[0][1])]
            else:
                names = self._out_names([(n, None, None) for n, _, _ in specs])
                out_specs = [(n, t) for n, (_, t, _) in zip(names, specs)]

        if kind == "map":
            keep = []
            vis = [n for n, _ in out_specs]
        elif kind == "filter":
            keep = list(self._columns)
            vis = list(self._columns)
        else:
            produced = out_specs[0][0]
            keep = [c for c in self._columns if c != produced]
            vis = list(self._columns)
            if kind == "withColumn" and produced not in self._columns:
                vis = vis + [produced]

        capture = self._exc_enabled
        schema_fields = [self._df.schema[c] for c in keep] + \
            [T.StructField(n, t, True) for n, t in out_specs]
        if capture:
            schema_fields += _HIDDEN_FIELDS
        out_schema = T.StructType(schema_fields)
        src, null_flags = _with_null_flags(self._df, in_cols)
        runner = fallback.make_map_in_pandas(
            fn, in_cols, out_specs, out_kind, op_name,
            keep_fields=keep, capture=capture,
            in_types=[self._df.schema[c].dataType for c in in_cols],
            coerce_bool=(kind == "filter"), null_flags=null_flags)
        out = src.mapInPandas(runner, schema=out_schema)
        if kind == "filter":
            cond = F.coalesce(F.col("__pred"), F.lit(False))
            if capture:
                cond = cond | (F.col(EXC_CODE) != 0)
            out = out.filter(cond).drop("__pred")
        info = UDFOpInfo(op_name, kind, fn, in_schema,
                         [n for n, _ in out_specs],
                         extra={"target": target_col, "new": new_col})
        tup1 = None
        if kind == "map":
            tup1 = out_kind == "tuple" and len(out_specs) == 1
        return self._spawn(out, columns=vis,
                           sample=self._sample_apply_kind(
                               fn, kind, target_col, new_col)
                           if kind != "filter"
                           else self._sample_apply(fn, "filter"),
                           last_op=info, tuple1=tup1)

    # ------------------------------------------------------- PYOBJECT mode
    def _apply_structured_pyobj(self, fn, op_name: str, in_cols):
        """map over structured rows whose sampled outputs have no common
        Spark type: results are pickled into a PYOBJ column and the
        dataset continues in PYOBJECT mode (map/filter; collect returns
        the exact heterogeneous Python values)."""
        capture = self._exc_enabled
        out_specs = [(PYOBJ_COL, T.BinaryType())]
        schema_fields = [T.StructField(PYOBJ_COL, T.BinaryType(), True)]
        if capture:
            schema_fields += _HIDDEN_FIELDS
        src, null_flags = _with_null_flags(self._df, in_cols)
        runner = fallback.make_map_in_pandas(
            fn, in_cols, out_specs, "pickle", op_name, capture=capture,
            in_types=[self._df.schema[c].dataType for c in in_cols],
            null_flags=null_flags)
        out = src.mapInPandas(runner, schema=T.StructType(schema_fields))
        return DataSet(self._ctx, out, [PYOBJ_COL],
                       sample=self._sample_apply(fn, "map"),
                       parked=self._parked, op_seq=self._op_seq + 1,
                       pyobj=True)

    def _apply_pyobj(self, fn, kind: str):
        """map/filter over arbitrary pickled Python objects (reference:
        PYOBJECT type + interpreter fallback, test_fallback.py behavior).

        A map whose sampled outputs are representable as Spark types
        promotes the dataset back onto the structured path."""
        import pickle
        from .typeutils import infer_schema_from_rows

        op_name = self._next_op(kind)
        sample_out = self._sample_apply(fn, "filter" if kind == "filter"
                                        else "map")
        promote_schema = None
        if kind == "map" and sample_out:
            try:
                sch = infer_schema_from_rows(sample_out)
                if all(not isinstance(f.dataType, T.NullType)
                       for f in sch.fields):
                    promote_schema = sch
            except Exception:
                promote_schema = None

        capture = self._exc_enabled
        if promote_schema is not None:
            names = [f.name for f in promote_schema.fields]
            # nullable: exception rows materialize as nulls in data cols
            out_fields = [T.StructField(f.name, f.dataType, True)
                          for f in promote_schema.fields]
        else:
            names = [PYOBJ_COL]
            out_fields = [T.StructField(PYOBJ_COL, T.BinaryType(), True)]
        schema_fields = list(out_fields)
        if capture:
            schema_fields += _HIDDEN_FIELDS
        out_schema = T.StructType(schema_fields)
        is_filter = kind == "filter"
        promote = promote_schema is not None

        arity = getattr(getattr(fn, "__code__", None), "co_argcount", 1)

        def run(batches):
            import pandas as pd
            from tuplex_spark.udf.fallback import _apply as _fb_apply
            for pdf in batches:
                rows = {n: [] for n in names}
                codes, payloads, ops = [], [], []
                for b in pdf[PYOBJ_COL]:
                    try:
                        obj = pickle.loads(bytes(b))
                        r = _fb_apply(fn, obj, arity)
                        if is_filter:
                            if not r:
                                continue
                            rows[PYOBJ_COL].append(bytes(b))
                        elif promote:
                            vals = r if isinstance(r, tuple) else (r,)
                            for n, v in zip(names, vals):
                                rows[n].append(v)
                        else:
                            rows[PYOBJ_COL].append(pickle.dumps(r))
                        if capture:
                            codes.append(0)
                            payloads.append(None)
                            ops.append(None)
                    except Exception as e:
                        if not capture:
                            raise
                        for n in names:
                            rows[n].append(None)
                        codes.append(E.code_for_instance(e))
                        payloads.append(None)
                        ops.append(op_name)
                data = dict(rows)
                if capture:
                    data[EXC_CODE] = codes
                    data[EXC_PAYLOAD] = payloads
                    data[EXC_OP] = ops
                yield pd.DataFrame(data)

        out = self._df.mapInPandas(run, schema=out_schema)
        stays_pyobj = True if is_filter else not promote
        return DataSet(self._ctx, out, names, sample=sample_out,
                       parked=self._parked, op_seq=self._op_seq + 1,
                       pyobj=stays_pyobj)

    # ---------------------------------------------------------- transforms
    def map(self, ftor) -> "DataSet":
        """Row -> row transform (reference: dataset.py:49, MapOperator.cc)."""
        return self._apply_udf(ftor, "map")

    def filter(self, ftor) -> "DataSet":
        """Keep rows where ftor(row) is truthy (reference: dataset.py:83)."""
        return self._apply_udf(ftor, "filter")

    def withColumn(self, column: str, ftor) -> "DataSet":
        """Append/replace a column computed from the whole row
        (reference: dataset.py:201, WithColumnOperator.cc)."""
        return self._apply_udf(ftor, "withColumn", new_col=column)

    def mapColumn(self, column, ftor) -> "DataSet":
        """Transform a single column's value; addressed by name or
        (negative-ok) index (reference: dataset.py:231 Union[int, str])."""
        if isinstance(column, int):
            if not -len(self._columns) <= column < len(self._columns):
                raise KeyError(f"no column {column!r}")
            column = self._columns[column]
        if column not in self._columns:
            raise KeyError(f"no column {column!r}")
        return self._apply_udf(ftor, "mapColumn", target_col=column)

    def selectColumns(self, columns) -> "DataSet":
        """Project/reorder by names or (negative-ok) indices
        (reference: dataset.py:262, DataSet.cc:318-471)."""
        if not isinstance(columns, (list, tuple)):
            columns = [columns]
        names = []
        for c in columns:
            if isinstance(c, int):
                names.append(self._columns[c])
            elif c in self._columns:
                names.append(c)
            else:
                raise KeyError(f"no column {c!r}")
        keep = names + [h for h in _HIDDEN if h in self._df.columns]
        idx = [self._columns.index(n) for n in names]
        sample = [tuple((r if isinstance(r, tuple) else (r,))[i] for i in idx)
                  for r in self._sample]
        return self._spawn(self._df.select(*keep), columns=names,
                           sample=sample)

    def renameColumn(self, old, new: str) -> "DataSet":
        """Rename by name or position (reference: dataset.py:293)."""
        if isinstance(old, int):
            old = self._columns[old]
        if old not in self._columns:
            raise KeyError(f"no column {old!r}")
        cols = [new if c == old else c for c in self._columns]
        return self._spawn(self._df.withColumnRenamed(old, new),
                           columns=cols)

    def unique(self) -> "DataSet":
        """Row-level distinct (reference: dataset.py:36 — AGG_UNIQUE)."""
        df, parked = self._split_exceptions()
        return self._spawn(df.dropDuplicates(), parked=parked, sample=[])

    def cache(self, store_specialized: bool = True) -> "DataSet":
        """Materialize for reuse (reference: dataset.py:346)."""
        df = self._df.persist()
        df.count()
        return self._spawn(df, bump=False)

    # ------------------------------------- relational extensions
    # (parity-plus: the reference has NO sort/limit-transform/set ops —
    # SURVEY §2.5 — but a training-data pipeline engine wants them, and
    # on Spark each is a one-line delegation with exception bookkeeping)

    def orderBy(self, *cols, ascending: bool = True) -> "DataSet":
        """Total sort (Spark range-partitions on sampled bounds — scales
        to arbitrary data; output order is the contract, so exception
        rows are split out first)."""
        df, parked = self._split_exceptions()
        names = [c for c in cols] or list(self._columns)
        return self._spawn(df.orderBy(*names, ascending=ascending),
                           parked=parked)

    def limit(self, n: int) -> "DataSet":
        """First n rows as a TRANSFORM (take(n) is the action variant)."""
        df, parked = self._split_exceptions()
        return self._spawn(df.limit(n), parked=parked)

    def union(self, other: "DataSet") -> "DataSet":
        """Bag union by column NAME (both sides keep their exception
        rows; schemas must have the same column set)."""
        a, pa = self._split_exceptions()
        b, pb = other._split_exceptions()
        return self._spawn(a.unionByName(b.select(*a.columns)),
                           parked=_park(pa, pb))

    def intersect(self, other: "DataSet") -> "DataSet":
        """Set intersection (distinct rows present on both sides)."""
        a, pa = self._split_exceptions()
        b, pb = other._split_exceptions()
        return self._spawn(a.intersect(b.select(*a.columns)),
                           parked=_park(pa, pb))

    def subtract(self, other: "DataSet") -> "DataSet":
        """Set difference (distinct rows of self absent from other —
        SQL EXCEPT; a row matched in ``other`` is removed entirely, not
        per-occurrence like exceptAll)."""
        a, pa = self._split_exceptions()
        b, pb = other._split_exceptions()
        return self._spawn(a.subtract(b.select(*a.columns)),
                           parked=_park(pa, pb))

    # ---------------------------------------------------------- exceptions
    def _split_exceptions(self):
        """(clean rows, parked codes): the live failed rows join the
        parked frame."""
        if not self._has_exc:
            return self._df, self._parked
        df = self._df
        good = df.filter(F.col(EXC_CODE) == 0).select(*self._columns)
        return good, _park(self._parked, df.filter(F.col(EXC_CODE) != 0))

    def resolve(self, exc_class, ftor) -> "DataSet":
        """Re-run rows that raised ``exc_class`` in the preceding operator
        through ``ftor`` (same signature) — reference: dataset.py:162,
        ResolveOperator.cc; §2.7 of SURVEY.md."""
        if self._last_op is None:
            raise ValueError("resolve() must follow a UDF operator")
        op = self._last_op
        codes = sorted(E.codes_caught_by(exc_class))
        if not self._has_exc:
            return self._spawn(self._df, last_op=op, bump=False)
        in_struct = T.StructType([
            T.StructField(f.name, f.dataType, True)
            for f in op.in_schema.fields])
        payload = F.from_json(F.col(EXC_PAYLOAD), in_struct, _PAYLOAD_JSON)
        match = (F.col(EXC_OP) == op.name) & F.col(EXC_CODE).isin(codes)

        # bind the resolver's column references onto the parsed payload
        # fields (materialized as __res_in_* columns) via col_map
        names = [f.name for f in in_struct.fields]
        remap = {n: f"__res_in_{n}" for n in names}
        res_compiled = None
        try:
            res_compiled = compiler.compile_udf(
                ftor, in_struct, with_guards=self._exc_enabled,
                col_map=remap)
        except CompileError:
            pass
        if res_compiled is None:
            return self._resolve_fallback(op, ftor, match, in_struct)

        sub = self._df.select(
            *self._df.columns,
            *[payload.getField(n).alias(remap[n]) for n in names])
        # staged CSE layers become projection columns over the parsed
        # payload fields, exactly like _apply_compiled — the final
        # select below never lists __t/__res_in_ columns, so they
        # don't escape the op (previously any resolver complex enough
        # to stage silently demoted to the Arrow fallback)
        for tmp_name, tmp_col in res_compiled.staged:
            sub = sub.select("*", tmp_col.alias(tmp_name))
        outs = res_compiled.as_columns()
        # if the resolver itself raises, the row's exception class becomes
        # the resolver's exception (resolvable by later resolvers) —
        # reference semantics, ResolveOperator.cc
        res_code = None
        for g, cd in res_compiled.guards:
            res_code = F.when(g, cd) if res_code is None \
                else res_code.when(g, cd)
        res_code = res_code.otherwise(0) if res_code is not None else F.lit(0)
        resolved_ok = match & (res_code == 0)
        new_code = F.when(~match, F.col(EXC_CODE)) \
            .when(res_code == 0, 0).otherwise(res_code).cast("int")

        if op.kind == "filter":
            pred = res_compiled.as_predicate()
            keep = F.when(resolved_ok, F.coalesce(pred, F.lit(False))) \
                .otherwise(F.lit(True))
            out = (sub.withColumn("__keep", keep)
                   .withColumn(EXC_CODE, new_code)
                   .filter(F.col("__keep")).drop("__keep"))
            out = out.select(*self._columns, *_present(out, _HIDDEN))
            return self._spawn(out, last_op=op)

        produced = op.out_cols
        exprs = []
        if op.kind == "map":
            for (name, col, _), out_name in zip(
                    outs, self._columns if len(outs) == len(self._columns)
                    else produced):
                exprs.append((out_name, col))
        else:
            exprs.append((produced[0], outs[0][1]))
        sel = []
        first_computed = True
        for v in self._columns:
            repl = dict(exprs).get(v)
            if repl is not None:
                expr = F.when(resolved_ok, repl).otherwise(F.col(v))
                if res_compiled.staged and first_computed:
                    # same pushdown barrier as _apply_compiled: stop a
                    # later filter from substituting the resolver's
                    # expression tree through every staged layer
                    expr = F.element_at(F.shuffle(F.array(expr)), 1)
                    first_computed = False
                sel.append(expr.alias(v))
            else:
                sel.append(F.col(v))
        sel.append(new_code.alias(EXC_CODE))
        sel.append(F.when(resolved_ok, F.lit(None))
                   .otherwise(F.col(EXC_PAYLOAD)).alias(EXC_PAYLOAD))
        sel.append(F.when(resolved_ok, F.lit(None))
                   .otherwise(F.col(EXC_OP)).alias(EXC_OP))
        out = sub.select(*sel)
        return self._spawn(out, last_op=op)

    def _resolve_fallback(self, op, ftor, match, in_struct):
        names = [f.name for f in in_struct.fields]
        # json.loads hands back strings for binary (base64) and
        # timestamp/date (ISO) columns — the resolver must see the
        # exact typed values the failing UDF saw (reference semantics,
        # ResolveTask.cc)
        coerce_kind = {}
        for f_ in in_struct.fields:
            if isinstance(f_.dataType, T.BinaryType):
                coerce_kind[f_.name] = "bin"
            elif isinstance(f_.dataType,
                            (T.TimestampType, T.TimestampNTZType)):
                coerce_kind[f_.name] = "ts"
            elif isinstance(f_.dataType, T.DateType):
                coerce_kind[f_.name] = "date"

        def _coerce(nm, v):
            k = coerce_kind.get(nm)
            if v is None or k is None or not isinstance(v, str):
                return v
            import base64 as _b64
            import datetime as _dt
            if k == "bin":
                return _b64.b64decode(v)
            if k == "ts":
                # session TZ is pinned UTC: strip the zone back to the
                # naive datetime the original UDF received
                return _dt.datetime.fromisoformat(
                    v.replace("Z", "+00:00")).replace(tzinfo=None)
            return _dt.date.fromisoformat(v)
        out_cols = list(self._df.columns)
        schema = self._df.schema
        fn = ftor
        kind = op.kind
        produced = op.out_cols
        vis_cols = list(self._columns)

        df = self._df.withColumn("__match", match)

        def run(batches):
            import pandas as pd
            for pdf in batches:
                n = len(pdf)
                drop = [False] * n
                for i in range(n):
                    if not pdf["__match"].iloc[i]:
                        continue
                    try:
                        row = json.loads(pdf[EXC_PAYLOAD].iloc[i])
                        vals = tuple(_coerce(nm, row.get(nm))
                                     for nm in names)
                        arity = getattr(getattr(fn, "__code__", None),
                                        "co_argcount", 1)
                        r = fallback._apply(
                            fn, vals if len(vals) != 1 else vals[0], arity,
                            names)
                        if kind == "filter":
                            if not r:
                                drop[i] = True
                        elif kind == "map":
                            if isinstance(r, tuple):
                                for j, cname in enumerate(vis_cols):
                                    pdf.loc[pdf.index[i], cname] = r[j]
                            elif isinstance(r, dict):
                                for cname, v in r.items():
                                    pdf.loc[pdf.index[i], cname] = v
                            else:
                                pdf.loc[pdf.index[i], vis_cols[0]] = r
                        else:
                            pdf.loc[pdf.index[i], produced[0]] = r
                        pdf.loc[pdf.index[i], EXC_CODE] = 0
                        pdf.loc[pdf.index[i], EXC_PAYLOAD] = None
                        pdf.loc[pdf.index[i], EXC_OP] = None
                    except Exception as e:
                        pdf.loc[pdf.index[i], EXC_CODE] = \
                            E.code_for_instance(e)
                keep = [not d for d in drop]
                yield pdf[keep][out_cols]

        out = df.mapInPandas(run, schema=schema)
        return self._spawn(out, last_op=op)

    def ignore(self, exc_class) -> "DataSet":
        """Silently drop rows that raised ``exc_class`` in the preceding
        operator (reference: dataset.py:319, IgnoreOperator.h).  Like the
        reference's compiled ignore path (PipelineBuilder.cc:172 addIgnore
        exits "without writing the row"), ignored rows do NOT appear in
        ``exception_counts``."""
        if not self._has_exc:
            return self
        codes = sorted(E.codes_caught_by(exc_class))
        cond = F.col(EXC_CODE).isin(codes)
        if self._last_op is not None:
            cond = cond & (F.col(EXC_OP) == self._last_op.name)
        return self._spawn(self._df.filter(~cond), last_op=self._last_op,
                           bump=False)

    @property
    def exception_counts(self) -> dict[str, int]:
        """Exception class -> count of unresolved rows over the whole
        dataset, populated by the last action (reference: dataset.py:706).
        ``collect()`` counts every exception row, live or parked at a
        join/aggregate/unique boundary, in the same Spark job that
        returns its rows (one pass, like the reference's dual-mode
        ResolveTask); ``take(n)`` stops early, so it runs one separate
        full count job."""
        return dict(self._exception_counts)

    def _collect_exception_counts(self, tallies):
        """Set ``exception_counts`` from (code, count) pairs."""
        counts: dict[str, int] = {}
        for code, n in tallies:
            name = E.name_for_code(code)
            counts[name] = counts.get(name, 0) + n
        self._exception_counts = counts

    # -------------------------------------------------------------- joins
    def join(self, right: "DataSet", leftKeyColumn: str,
             rightKeyColumn: str, prefixes=None, suffixes=None) -> "DataSet":
        """Inner equi-join, single key; output column order = left non-key,
        key, right non-key (reference: dataset.py:384, JoinOperator.cc)."""
        from .operators.join import join_datasets
        return join_datasets(self, right, leftKeyColumn, rightKeyColumn,
                             "inner", prefixes, suffixes)

    def rightJoin(self, right: "DataSet", leftKeyColumn: str,
                  rightKeyColumn: str, prefixes=None,
                  suffixes=None) -> "DataSet":
        """Right outer equi-join — parity-plus: the reference declares
        JoinType::RIGHT (JoinOperator.h:62-69) but never implements it;
        on Spark it is the same shuffled/broadcast hash join as left."""
        from .operators.join import join_datasets
        return join_datasets(self, right, leftKeyColumn, rightKeyColumn,
                             "right", prefixes, suffixes)

    def leftJoin(self, right: "DataSet", leftKeyColumn: str,
                 rightKeyColumn: str, prefixes=None, suffixes=None
                 ) -> "DataSet":
        """Left outer join (reference: dataset.py:442)."""
        from .operators.join import join_datasets
        return join_datasets(self, right, leftKeyColumn, rightKeyColumn,
                             "left", prefixes, suffixes)

    # --------------------------------------------------------- aggregates
    def aggregate(self, combine, aggregate, initial_value):
        """Whole-dataset fold with a (combine, aggregate, initial) UDF
        triple (reference: dataset.py:593)."""
        from .operators.aggregate import aggregate_general
        return aggregate_general(self, combine, aggregate, initial_value,
                                 keys=None)

    def aggregateByKey(self, combine, aggregate, initial_value,
                       key_columns):
        """Per-key fold (reference: dataset.py:644)."""
        from .operators.aggregate import aggregate_general
        return aggregate_general(self, combine, aggregate, initial_value,
                                 keys=list(key_columns))

    # ------------------------------------------------------------- actions
    @property
    def columns(self) -> list[str]:
        return list(self._columns)

    @property
    def types(self) -> list:
        """Column types as Python typing objects, reference semantics
        (reference dataset.py:375 and its test_inspect.py: ``int``,
        ``typing.Optional[float]``, ``typing.List[int]``, struct-tuple
        columns as real tuples of types).  The Spark schema remains
        available via ``toDF().schema``.  PYOBJECT datasets (whose Spark
        schema is one pickled column) infer from the sample, per
        row-tuple position like the reference's tracer."""
        if self._pyobj:
            rows = self._sample
            if not rows:
                return [object]
            first = rows[0]
            if isinstance(first, tuple) and all(
                    isinstance(r, tuple) and len(r) == len(first)
                    for r in rows):
                return [_py_type_of_value(v) for v in first]
            return [_py_type_of_value(first)]
        s = self._schema_of_visible()
        return [_py_type(f.dataType, f.nullable) for f in s.fields]

    def toDF(self) -> DataFrame:
        """The clean Spark DataFrame (escape hatch; failed rows removed)."""
        df, _ = self._split_exceptions()
        return df

    def createOrReplaceTempView(self, name: str) -> None:
        """Register the clean rows as a session temp view for
        Context.sql (Spark-native SQL over engine pipelines —
        parity-plus; the reference has no SQL surface)."""
        self.toDF().createOrReplaceTempView(name)

    def collect(self) -> list:
        return self.take(-1)

    def take(self, nmax: int = 5) -> list:
        import time as _time
        t0 = _time.time()
        if nmax is not None and nmax >= 0:
            df, parked = self._split_exceptions()
            rows = df.take(nmax)
            self._collect_exception_counts(
                [] if parked is None else _count_codes(parked))
        elif not self._has_exc and self._parked is None:
            rows = self._df.collect()
            self._collect_exception_counts([])
        else:
            # one Spark job: the visible columns plus the code, parked
            # codes appended, split on the driver (a null code is
            # neither clean nor counted, as in _split_exceptions)
            code = EXC_CODE if self._has_exc else F.lit(0).alias(EXC_CODE)
            full = self._df.select(*self._columns, code)
            if self._parked is not None:
                full = full.unionByName(self._parked,
                                        allowMissingColumns=True)
            full = full.collect()
            rows = [r[:-1] for r in full if r[-1] == 0]
            self._collect_exception_counts(
                Counter(r[-1] for r in full if r[-1]).items())
        m = self._ctx._metrics
        m.totalRunTime += _time.time() - t0
        m.numActions += 1
        m.lastActionRowCount = len(rows)
        m.totalExceptionCount += sum(self._exception_counts.values())
        if self._pyobj:
            import pickle
            return [pickle.loads(bytes(r[0])) for r in rows]
        if len(self._columns) == 1:
            vals = [_py_value(r[0]) for r in rows]
            return [(v,) for v in vals] if self._tuple1 else vals
        return [tuple(_py_value(v) for v in r) for r in rows]

    def _sink_frame(self, num_parts=None, num_rows=None):
        """The clean rows a sink writes: the first ``num_rows`` if
        given, repartitioned into ``num_parts`` if given."""
        df, _ = self._split_exceptions()
        if num_rows:
            df = df.limit(int(num_rows))
        return df.repartition(num_parts) if num_parts else df

    def _sink_writer(self, df, part_size=None):
        """Overwriting writer for ``df``; ``part_size`` (bytes per
        output file) becomes maxRecordsPerFile through the sample's mean
        row width as text, 100 bytes without a sample (Spark caps files
        by record count, not bytes; for encoded formats the text width
        is an upper bound on file size, the safe direction for the
        small-files problem this knob exists to fix)."""
        w = df.write.mode("overwrite")
        if not part_size:
            return w
        est = 100
        if self._sample:
            widths = [len(",".join(str(v) for v in
                          (r if isinstance(r, tuple) else (r,)))) + 1
                      for r in self._sample[:50]]
            est = max(1, sum(widths) // len(widths))
        return w.option("maxRecordsPerFile", max(1, int(part_size) // est))

    def show(self, nrows: int = None):
        df, _ = self._split_exceptions()
        df.show(nrows if nrows else 20)

    def tocsv(self, path: str, header: bool = True, null_value: str = "",
              part_name_generator=None, **kwargs):
        """Write CSV (reference: dataset.py:500).

        num_parts -> repartition; num_rows -> limit; part_size (a
        byte cap per part file) -> maxRecordsPerFile via a sample-based
        row-size estimate (Spark caps files by record count, not bytes);
        header may be a list of names to write instead of the column
        names (reference signature);
        part_name_generator(part_no) -> custom part file names applied by
        post-hoc rename (Spark has no naming hook; same caveat as the
        reference's callback, which names parts by output task)."""
        df = self._sink_frame(kwargs.get("num_parts"), kwargs.get("num_rows"))
        if isinstance(header, list):
            if len(header) != len(self._columns):
                raise ValueError(
                    f"header names {len(header)} != columns "
                    f"{len(self._columns)}")
            df = df.select(*[F.col(c).alias(h)
                             for c, h in zip(self._columns, header)])
            header = True
        w = self._sink_writer(df, kwargs.get("part_size"))
        (w.option("header", header).option("nullValue", null_value)
          .csv(path))
        if part_name_generator is not None:
            import glob as _glob
            import os as _os
            parts = sorted(_glob.glob(_os.path.join(path, "part-*")))
            for i, p in enumerate(parts):
                new = _os.path.join(path, part_name_generator(i))
                _os.rename(p, new)
                # drop the stale Hadoop checksum for the old name
                crc = _os.path.join(_os.path.dirname(p),
                                    f".{_os.path.basename(p)}.crc")
                if _os.path.exists(crc):
                    _os.remove(crc)

    def toorc(self, path: str, **kwargs):
        self._sink_frame(kwargs.get("num_parts")).write.mode(
            "overwrite").orc(path)

    def tojson(self, path: str, **kwargs):
        """JSON-lines sink (write side of Context.json) — the
        training-data interchange format; one JSON object per line,
        Spark-native writer (beyond the reference's csv/orc pair)."""
        self._sink_frame(kwargs.get("num_parts")).write.mode(
            "overwrite").json(path)

    def toparquet(self, path: str, bucket_by=None, num_buckets: int = 32,
                  sort_by=None, table: str | None = None,
                  partition_by=None, **kwargs):
        """Parquet sink (beyond the reference's csv/orc pair).

        ``bucket_by`` pre-shuffles the data into ``num_buckets`` hash
        buckets on the given column(s) at WRITE time — the 100 TB lever
        for repeated joins/aggregations on the same key: two tables
        bucketed on their join key with the same bucket count join with
        NO exchange on either side (asserted in tests/test_scale.py).
        Bucket metadata lives in the session catalog, not the files, so
        bucketed writes register a path-backed table (``table`` or a
        name derived from the path); read it back with Context.table().
        ``sort_by`` sorts within each output file: under ``bucket_by``
        that lets sort-merge joins skip their per-task sort; without it
        (plain parquet) the within-partition sort tightens every row
        group's min/max statistics so reader-side filters on the sort
        column skip whole row groups — the cheap cousin of directory
        partitioning for high-cardinality columns (was silently ignored
        in the non-bucketed path before round 7)."""
        df = self._sink_frame(kwargs.get("num_parts"))
        if bucket_by is None:
            if sort_by:
                sb = [sort_by] if isinstance(sort_by, str) \
                    else list(sort_by)
                df = df.sortWithinPartitions(*sb)
            w = self._sink_writer(df, kwargs.get("part_size"))
            if partition_by:
                # hive-layout directory partitioning: every reader's
                # filter on these columns becomes directory PRUNING
                # (the same lever ivf_build uses for probe pruning)
                pb = [partition_by] if isinstance(partition_by, str) \
                    else list(partition_by)
                w = w.partitionBy(*pb)
            w.parquet(path)
            return
        if partition_by:
            raise ValueError("partition_by and bucket_by are exclusive")
        cols = [bucket_by] if isinstance(bucket_by, str) else list(bucket_by)
        name = table or _re.sub(r"[^A-Za-z0-9_]", "_",
                                path.rstrip("/").rsplit("/", 1)[-1])
        w = (df.write.mode("overwrite").format("parquet")
             .option("path", path)
             .bucketBy(num_buckets, *cols))
        if sort_by:
            sb = [sort_by] if isinstance(sort_by, str) else list(sort_by)
            w = w.sortBy(*sb)
        w.saveAsTable(name)


def _present(df, names):
    return [F.col(n) for n in names if n in df.columns]


def _park(*frames):
    """One frame of the ``__exc_code`` column of ``frames`` (each None
    or a frame of failed rows only), or None when every one is None —
    the single shape of a DataSet's parked exception rows."""
    out = None
    for fr in frames:
        if fr is not None:
            fr = fr.select(EXC_CODE)
            out = fr if out is None else out.unionByName(fr)
    return out


def _count_codes(codes):
    """(code, count) pairs of a codes frame in ONE Spark job: a
    DataFrame groupBy runs as two under adaptive execution (map stage,
    then result), RDD ``countByValue`` as one, with a map-side combined
    shuffle."""
    return [(row.get(0), n)
            for row, n in codes._jdf.javaRDD().countByValue().items()]
