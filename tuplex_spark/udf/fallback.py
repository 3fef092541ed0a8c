"""Fallback UDF execution (the "general case" / interpreter path).

Reference analog: the pure-Python pipeline fallback
(core/src/physical/PythonPipelineBuilder.cc) that runs rows CPython can
handle but the compiled path can't.  Here the fallback is an Arrow-batched
``mapInPandas`` stage: the original function object is cloudpickled to the
executors and applied row-at-a-time inside the batch loop with per-row
try/except, producing the same (value, __exc_code) shape as the compiled
path so resolve()/ignore() semantics are identical on both paths.

Output types come from running the UDF over the plan-time sample
(reference analog: tracing type inference, core/src/TraceVisitor.cc).
"""

from __future__ import annotations

import json
import math
import pickle

from pyspark.sql import types as T

from ..exceptions import code_for, code_for_instance
from ..typeutils import infer_type, super_type

_NCV_CODE = code_for("NormalCaseViolation")

EXC_CODE = "__exc_code"
EXC_PAYLOAD = "__exc_payload"
EXC_OP = "__exc_op"


class AllSampleRowsFailed(Exception):
    """The UDF raised on every plan-time sample row — nothing to infer
    from.  map() demotes to PYOBJECT (any runtime successes keep exact
    types); withColumn/mapColumn declare a string column with runtime
    conformance (non-string successes become NormalCaseViolation)."""


class TypeUnstableError(Exception):
    """Sampled UDF outputs have no common Spark type (e.g. int on some
    rows, str on others, or tuple vs scalar).  Reference analog: rows
    that violate the normal case go to the dual-mode fallback path; here
    the caller promotes the dataset to PYOBJECT (pickled) rows so the
    heterogeneous values round-trip exactly."""


def infer_output_type(fn, sample_rows, names=None):
    """Run fn over sample python rows; widen result types.

    Returns (result_type_per_output, out_kind) where out_kind is
    'scalar' | 'tuple' | 'dict'.  Raises if no sample row succeeds;
    raises TypeUnstableError on heterogeneous result shapes/types.
    """
    arity = getattr(getattr(fn, "__code__", None), "co_argcount", 1)
    results = []
    for row in sample_rows:
        try:
            results.append(_apply(fn, row, arity, names))
        except Exception:
            continue
    if not results:
        raise AllSampleRowsFailed(
            "UDF raised on every sample row; output type unknown")
    kind = "scalar"
    r0 = results[0]
    if isinstance(r0, tuple):
        kind = "tuple"
    elif isinstance(r0, dict):
        kind = "dict"
    for r in results:
        rk = "tuple" if isinstance(r, tuple) else \
            "dict" if isinstance(r, dict) else "scalar"
        if rk != kind or (kind == "tuple" and len(r) != len(r0)) \
                or (kind == "dict" and list(r.keys()) != list(r0.keys())):
            raise TypeUnstableError(f"result shape {rk} vs {kind}")
    if kind == "scalar":
        t, nullable = _widen(results)
        return [(None, t, nullable)], kind
    if kind == "tuple":
        n = len(r0)
        outs = []
        for i in range(n):
            t, nullable = _widen([r[i] for r in results])
            outs.append((None, t, nullable))
        return outs, kind
    keys = list(r0.keys())
    outs = []
    for k in keys:
        t, nullable = _widen([r[k] for r in results])
        outs.append((k, t, nullable))
    return outs, kind


def _widen(values):
    t = None
    nullable = False
    for v in values:
        vt = infer_type(v)
        if vt is None:
            if v is not None:
                # non-None value with no Spark type (empty tuple, user
                # object): only the pickled PYOBJECT path can hold it
                raise TypeUnstableError(
                    f"unrepresentable value of type {type(v).__name__}")
            nullable = True
        else:
            if t is not None:
                merged = super_type(t, vt)
                # super_type's universal-string fallback means the mix
                # had no real common type — that's instability, not a
                # stringly-typed column
                if isinstance(merged, T.StringType) and not (
                        isinstance(t, T.StringType)
                        and isinstance(vt, T.StringType)):
                    raise TypeUnstableError(
                        f"{t.simpleString()} vs {vt.simpleString()}")
                t = merged
            else:
                t = vt
    return (t or T.NullType()), nullable or t is None


class UDFRow:
    """Row passed to fallback UDFs: supports both positional (x[0]) and
    column-name (x['col']) access, mirroring the reference's dict-access
    rewriting (core/src/UDF.cc rewriteDictAccessInAST) at runtime."""
    __slots__ = ("_v", "_names")

    def __init__(self, values, names):
        self._v = tuple(values)
        self._names = names

    def __getitem__(self, k):
        if isinstance(k, str):
            return self._v[self._names.index(k)]
        return self._v[k]

    def __len__(self):
        return len(self._v)

    def __iter__(self):
        return iter(self._v)

    def __eq__(self, other):
        return tuple(self) == tuple(other)

    def __repr__(self):
        return repr(self._v)


def _apply(fn, row, arity, names=None):
    """Call fn the way the reference calls row UDFs: a single-column row is
    passed as the bare value, a multi-column row as one row arg (positional
    + named access) unless the function declares matching arity.  A single
    tuple-typed column auto-unpacks into a matching multi-param UDF."""
    if isinstance(row, (tuple, UDFRow)):
        if arity == len(row) and arity > 1:
            return fn(*row)
        if len(row) == 1:
            inner = tuple(row)[0]
            if isinstance(inner, tuple) and arity == len(inner) \
                    and arity > 1:
                return fn(*inner)
            return fn(inner)
        if names is not None and not isinstance(row, UDFRow):
            row = UDFRow(row, names)
        return fn(row)
    return fn(row)


def _conforms(v, t: T.DataType) -> bool:
    """Shallow runtime check that a produced Python value fits the
    declared (sample-inferred) Spark type.  Rows that fail become
    NormalCaseViolation exception rows rather than crashing the Arrow
    serializer for the whole batch — at scale one odd row must never
    kill a stage."""
    if v is None:
        return True
    if isinstance(t, T.BooleanType):
        return isinstance(v, bool)
    if isinstance(t, (T.LongType, T.IntegerType)):
        return isinstance(v, int) and not isinstance(v, bool)
    if isinstance(t, T.DoubleType):
        return isinstance(v, (int, float)) and not isinstance(v, bool)
    if isinstance(t, T.StringType):
        return isinstance(v, str)
    if isinstance(t, T.BinaryType):
        return isinstance(v, (bytes, bytearray))
    if isinstance(t, T.ArrayType):
        return isinstance(v, list)
    if isinstance(t, T.MapType):
        return isinstance(v, dict)
    if isinstance(t, T.StructType):
        return isinstance(v, (tuple, dict))
    return True


def _clean(v):
    """numpy / pandas scalars -> python scalars.  NaN maps to None — the
    legacy ambiguous path for callers that provide no null flags (Arrow
    nulls surface as NaN in pandas float columns, so without a flag NaN
    must be read as null)."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    item = getattr(v, "item", None)
    if item is not None and not isinstance(v, (str, bytes)):
        try:
            return v.item()
        except Exception:
            return v
    return v


_INT_TYPES = (T.LongType, T.IntegerType, T.ShortType, T.ByteType)


def _clean_typed(v, t):
    """Exact scalar extraction when the caller supplies per-row null
    flags: NaN stays NaN (``str(float('nan')) == 'nan'``, not None), and
    integer columns that pandas upcast to float64 (because the Arrow
    batch had nulls elsewhere) come back as Python ints."""
    if v is None:
        return None
    item = getattr(v, "item", None)
    if item is not None and not isinstance(v, (str, bytes)):
        try:
            v = v.item()
        except Exception:
            pass
    if isinstance(t, _INT_TYPES) and isinstance(v, float):
        return int(v)
    return v


def _struct_to_tuple(v, t: T.DataType):
    """Arrow hands struct columns to pandas as dicts; the engine's tuple
    convention (_0.._n fields) must surface as Python tuples in UDFs,
    and variant structs (compiled mixed-type returns) as the exact
    per-row Python value."""
    if (isinstance(t, T.StructType) and t.fields
            and t.fields[0].name == "__vt"):
        if v is None or not v.get("__vt"):
            return None
        return next((v.get(f.name) for f in t.fields[1:]
                     if v.get(f.name) is not None), None)
    if (isinstance(t, T.StructType) and len(t.fields) == 1
            and t.fields[0].name == "__sv"
            and isinstance(t.fields[0].dataType, T.ArrayType)):
        # compiled set return (compiler.is_set_struct)
        if v is None:
            return None
        inner = v.get("__sv") if isinstance(v, dict) else v[0]
        return set(inner) if inner is not None else None
    if v is None:
        return None
    if isinstance(t, T.StructType) and isinstance(v, dict):
        return tuple(_struct_to_tuple(v.get(f.name), f.dataType)
                     for f in t.fields)
    if isinstance(t, T.ArrayType) and isinstance(v, list):
        return [_struct_to_tuple(x, t.elementType) for x in v]
    return v


def make_map_in_pandas(fn, in_fields: list[str], out_specs, out_kind,
                       op_name: str, keep_fields: list[str] | None = None,
                       capture: bool = True, in_types: list | None = None,
                       coerce_bool: bool = False,
                       null_flags: dict | None = None):
    """Build a mapInPandas function applying ``fn`` row-at-a-time.

    in_fields:   input column names fed to the UDF (tuple order)
    out_specs:   [(out_col_name, spark_type)] for UDF outputs
    out_kind:    'scalar' | 'tuple' | 'dict' (infer_output_type), or
                 'pickle': one BinaryType output holding the pickled
                 result (PYOBJECT rows, any Python value fits)
    keep_fields: passthrough columns copied to the output unchanged
    capture:     wrap per-row exceptions into (__exc_code, __exc_payload)
    in_types:    Spark types of in_fields (struct inputs -> tuples)
    coerce_bool: filter predicates use Python TRUTHINESS — a UDF may
                 return any object (e.g. a regex match); bool() it
                 instead of failing schema conformance
    null_flags:  {in_field: bool_flag_column} — flag is True exactly when
                 the field is NULL, computed JVM-side before the Arrow
                 hand-off.  Disambiguates null from NaN (pandas shows
                 both as NaN in float64) and lets nulls-elsewhere-upcast
                 int columns surface as Python ints again.
    """
    import pandas as pd  # noqa: F401  (executor-side)

    arity = getattr(fn, "__code__", None).co_argcount if hasattr(fn, "__code__") else 1
    keep_fields = keep_fields or []
    out_names = [n for n, _ in out_specs]
    null_flags = null_flags or {}
    conv_types = None
    if in_types is not None and any(
            isinstance(t, (T.StructType, T.ArrayType)) for t in in_types):
        conv_types = list(in_types)

    def run(batches):
        import pandas as pd
        for pdf in batches:
            n = len(pdf)
            outs = {name: [None] * n for name in out_names}
            codes = [0] * n
            payloads = [None] * n
            prev_codes = pdf[EXC_CODE].tolist() if EXC_CODE in pdf.columns \
                else [0] * n
            prev_payloads = pdf[EXC_PAYLOAD].tolist() \
                if EXC_PAYLOAD in pdf.columns else [None] * n
            prev_ops = pdf[EXC_OP].tolist() if EXC_OP in pdf.columns \
                else [None] * n
            in_cols = [pdf[f] for f in in_fields]
            flag_cols = [pdf[null_flags[f]]
                         if f in null_flags and null_flags[f] in pdf.columns
                         else None for f in in_fields]
            typ_list = in_types if in_types is not None \
                else [None] * len(in_fields)
            for i in range(n):
                if capture and prev_codes[i]:
                    codes[i] = prev_codes[i]
                    payloads[i] = prev_payloads[i]
                    continue
                row = tuple(
                    None if (fc is not None and bool(fc.iloc[i]))
                    else (_clean_typed(col.iloc[i], t) if fc is not None
                          else _clean(col.iloc[i]))
                    for col, fc, t in zip(in_cols, flag_cols, typ_list))
                if conv_types is not None:
                    row = tuple(_struct_to_tuple(v, t)
                                for v, t in zip(row, conv_types))
                try:
                    r = _apply(fn, row if len(row) != 1 else row[0], arity,
                               in_fields)
                    if out_kind == "tuple":
                        vals = [r[j] for j in range(len(out_names))]
                    elif out_kind == "dict":
                        vals = [r[name] for name in out_names]
                    elif out_kind == "pickle":
                        vals = [pickle.dumps(r)]
                    elif coerce_bool:
                        vals = [bool(r)]
                    else:
                        vals = [r]
                    if out_kind != "pickle" and not all(
                            _conforms(v, t)
                            for v, (_, t) in zip(vals, out_specs)):
                        if not capture:
                            raise TypeError(
                                f"UDF output {vals!r} does not fit the "
                                "sample-inferred schema")
                        codes[i] = _NCV_CODE
                        payloads[i] = json.dumps(
                            dict(zip(in_fields, row)), default=str)
                        continue
                    for name, v in zip(out_names, vals):
                        outs[name][i] = v
                except Exception as e:
                    if not capture:
                        raise
                    codes[i] = code_for_instance(e)
                    payloads[i] = json.dumps(
                        dict(zip(in_fields, row)), default=str)
            data = {}
            for f in keep_fields:
                data[f] = pdf[f]
            for name in out_names:
                data[name] = outs[name]
            if capture:
                data[EXC_CODE] = codes
                data[EXC_PAYLOAD] = payloads
                data[EXC_OP] = [op_name if c and not pc else po
                                for c, pc, po in zip(codes, prev_codes,
                                                     prev_ops)]
            yield pd.DataFrame(data)

    return run
