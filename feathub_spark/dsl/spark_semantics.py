"""Spark's non-ANSI scalar semantics over Arrow values, for evaluating an
expression AST in-process (``ExprAST.evaluate``) the way the Spark SQL it
lowers to would compute it.

A value is a ``pyarrow.Array`` (one entry per row) or a ``pyarrow.Scalar``
(a literal, broadcast against arrays by ``pyarrow.compute``).  Columns
arrive from pandas, so pandas' NULL markers (NaN, None, NaT) read as NULL.
The rules that differ from Arrow's own defaults, each as Spark computes
with ``spark.sql.ansi.enabled=false``:

- integer ``+ - *`` wrap on overflow; ``/`` divides as DOUBLE and a zero
  divisor gives NULL;
- NaN equals NaN and sorts above every other number;
- CAST truncates toward zero, saturates a fractional number cast to an
  integer (NaN gives 0), wraps an integer narrowed to INT, reads a string
  with a fraction as an integer ('1.7' gives 1), and gives NULL when a
  string does not parse; numbers render as Java renders them;
- TRY_CAST to an integer type is strict instead: NULL for a string that
  is not an integer, and for a number out of the type's range or NaN;
- CONCAT is NULL when any argument is; CONCAT_WS skips NULL arguments.

Fractional literals evaluate as DOUBLE (Spark types ``1.5`` as DECIMAL),
so an exact decimal sum such as ``0.1 + 0.2 = 0.3`` can differ.  Row-wise
functions (string casts and formatting, MAP, ARRAY, JSON_STRING) run one
Python call per row: serving requests are a handful of rows.
"""

from __future__ import annotations

import json
import math
import re
from datetime import datetime, timedelta, timezone
from decimal import Decimal
from typing import Callable, List, Optional, Sequence, Union

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from feathub_spark.common import types as t
from feathub_spark.common.exceptions import ExpressionError

Value = Union[pa.Array, pa.Scalar]

NULL = pa.scalar(None)
_EPOCH = datetime(1970, 1, 1)
# the served timestamp unit: pandas' datetime64[ns]
_TIMESTAMP = pa.timestamp("ns")

_ARROW_TYPE = {
    t.Bytes: pa.binary(),
    t.String: pa.string(),
    t.Bool: pa.bool_(),
    t.Int32: pa.int32(),
    t.Int64: pa.int64(),
    t.Float32: pa.float32(),
    t.Float64: pa.float64(),
    t.Timestamp: _TIMESTAMP,
}


def to_arrow(values) -> pa.Array:
    """A column as an Arrow array, pandas' NULL markers read as NULL."""
    if isinstance(values, pa.Array):
        return values
    if isinstance(values, (np.ndarray, pd.arrays.NumpyExtensionArray,
                           pd.arrays.DatetimeArray)):
        return pa.array(np.asarray(values), from_pandas=True)
    return pa.array(values, from_pandas=True)


def literal(value) -> pa.Scalar:
    """A literal typed as Spark types it (an integer is INT when it fits);
    fractional literals are DOUBLE."""
    if isinstance(value, bool):
        return pa.scalar(value, pa.bool_())
    if isinstance(value, int):
        if -(2**31) <= value < 2**31:
            return pa.scalar(value, pa.int32())
        if -(2**63) <= value < 2**63:
            return pa.scalar(value, pa.int64())
        raise ExpressionError(f"Integer literal {value} does not fit BIGINT.")
    if isinstance(value, float):
        return pa.scalar(value, pa.float64())
    if isinstance(value, str):
        return pa.scalar(value, pa.string())
    raise ExpressionError(f"Unsupported literal {value!r}")


def broadcast(value: Value, num_rows: int) -> pa.Array:
    if isinstance(value, pa.Array):
        return value
    return pa.array([value.as_py()] * num_rows, value.type)


# -- types ------------------------------------------------------------------
def _numeric(dtype: pa.DataType) -> bool:
    return pa.types.is_integer(dtype) or pa.types.is_floating(dtype)


def common_type(values: Sequence[Value], context: str) -> pa.DataType:
    """The type Spark widens ``values`` to: one shared type, or the widest
    number (INT < BIGINT < FLOAT < DOUBLE); NULL fits any type."""
    types = [v.type for v in values if v.type != pa.null()]
    if not types:
        return pa.null()
    if all(d == types[0] for d in types):
        return types[0]
    if all(_numeric(d) for d in types):
        return max(types, key=lambda d: (pa.types.is_floating(d), d.bit_width))
    raise ExpressionError(f"Incompatible types {[str(d) for d in types]} in {context}.")


def _as(value: Value, dtype: pa.DataType) -> Value:
    return value if value.type == dtype else value.cast(dtype)


# -- operators ----------------------------------------------------------------
_ARITHMETIC = {"+": pc.add, "-": pc.subtract, "*": pc.multiply}


def arithmetic(op: str, left: Value, right: Value) -> Value:
    dtype = common_type([left, right], f"'{op}'")
    if dtype == pa.null():
        return NULL
    if not _numeric(dtype):
        raise ExpressionError(f"'{op}' requires numbers, got {dtype}.")
    if op == "/":
        num, den = _as(left, pa.float64()), _as(right, pa.float64())
        return pc.if_else(pc.equal(den, 0.0), pa.scalar(None, pa.float64()),
                          pc.divide(num, den))
    # the unchecked kernels wrap on integer overflow, as Spark does
    return _ARITHMETIC[op](_as(left, dtype), _as(right, dtype))


def negate(value: Value) -> Value:
    if value.type == pa.null():
        return NULL
    if not _numeric(value.type):
        raise ExpressionError(f"Unary '-' requires a number, got {value.type}.")
    return pc.negate(value)


_COMPARE = {
    "=": pc.equal, "<>": pc.not_equal, "<": pc.less,
    "<=": pc.less_equal, ">": pc.greater, ">=": pc.greater_equal,
}


def compare(op: str, left: Value, right: Value) -> Value:
    dtype = common_type([left, right], f"'{op}'")
    if dtype == pa.null():
        return pa.scalar(None, pa.bool_())
    left, right = _as(left, dtype), _as(right, dtype)
    out = _COMPARE[op](left, right)
    if pa.types.is_floating(dtype):
        # Spark orders NaN above every number and equal to itself
        ln, rn = pc.is_nan(left), pc.is_nan(right)
        nan_out = {
            "=": pc.and_(ln, rn), "<>": pc.xor(ln, rn),
            "<": pc.and_not(rn, ln), "<=": rn,
            ">": pc.and_not(ln, rn), ">=": ln,
        }[op]
        out = pc.if_else(pc.or_(ln, rn), nan_out, out)
    return out


def _bool(value: Value, context: str) -> Value:
    if value.type == pa.null():
        return pa.scalar(None, pa.bool_())
    if value.type != pa.bool_():
        raise ExpressionError(f"{context} requires a boolean, got {value.type}.")
    return value


def logical(op: str, left: Value, right: Value) -> Value:
    kleene = pc.and_kleene if op == "AND" else pc.or_kleene
    return kleene(_bool(left, op), _bool(right, op))


def is_null(value: Value, negated: bool) -> Value:
    # a NaN is a value, not NULL
    return pc.is_valid(value) if negated else pc.is_null(value, nan_is_null=False)


def case(conditions: List[Value], branches: List[Value], default) -> Value:
    values = branches + ([default] if default is not None else [])
    dtype = common_type(values, "CASE expression")
    if dtype == pa.null():
        return NULL
    out = pa.scalar(None, dtype) if default is None else _as(default, dtype)
    for cond, branch in reversed(list(zip(conditions, branches))):
        # a NULL condition is not taken
        taken = pc.coalesce(_bool(cond, "CASE WHEN"), False)
        out = pc.if_else(taken, _as(branch, dtype), out)
    return out


# -- row-wise helpers -------------------------------------------------------
def rowwise(fn: Callable, args: Sequence[Value], dtype: Optional[pa.DataType]) -> Value:
    """``fn`` applied to each row's Python values of ``args``; scalars are
    broadcast, and all-scalar arguments give a scalar.  A ``dtype`` of
    None infers the type from the results."""
    lengths = {len(a) for a in args if isinstance(a, pa.Array)}
    if not lengths:
        return pa.scalar(fn(*(a.as_py() for a in args)), dtype)
    n = lengths.pop()
    cols = [a.to_pylist() if isinstance(a, pa.Array) else [a.as_py()] * n for a in args]
    return pa.array([fn(*row) for row in zip(*cols)], dtype)


def _each(fn: Callable, value: Value, dtype: pa.DataType) -> Value:
    """``fn`` per non-NULL value; NULL stays NULL."""
    return rowwise(lambda v: None if v is None else fn(v), [value], dtype)


def _micros(value: Value) -> Value:
    """A timestamp as int64 microseconds since the epoch."""
    return value.cast(pa.timestamp("us"), safe=False).cast(pa.int64())


# -- CAST -------------------------------------------------------------------
_INT_RE = re.compile(r"([+-]?)(\d*)(?:\.(\d*))?")
_FLOAT_RE = re.compile(r"[+-]?(?:\d+\.?\d*|\.\d+)(?:[eE][+-]?\d+)?[dDfF]?")
_FLOAT_SPECIAL = {
    "inf": math.inf, "+inf": math.inf, "-inf": -math.inf, "infinity": math.inf,
    "+infinity": math.inf, "-infinity": -math.inf, "nan": math.nan,
}
_TRUE = {"t", "true", "y", "yes", "1"}
_FALSE = {"f", "false", "n", "no", "0"}


def _in_range(v: int, bits: int):
    return v if -(2 ** (bits - 1)) <= v < 2 ** (bits - 1) else None


def _parse_int(s: str, bits: int, strict: bool):
    m = _INT_RE.fullmatch(s.strip())
    if m is None or not (m.group(2) or m.group(3)) or (strict and m.group(3) is not None):
        return None
    return _in_range(int(m.group(2) or "0") * (-1 if m.group(1) == "-" else 1), bits)


def _parse_float(s: str):
    s = s.strip()
    if s.lower() in _FLOAT_SPECIAL:
        return _FLOAT_SPECIAL[s.lower()]
    if _FLOAT_RE.fullmatch(s) is None:
        return None
    return float(s.rstrip("dDfF"))


def _parse_timestamp(s: str):
    try:
        ts = datetime.fromisoformat(s.strip())
    except ValueError:
        return None
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    return ts


def _float_to_int(x: float, bits: int, strict: bool):
    if strict:
        return None if math.isnan(x) or math.isinf(x) else _in_range(int(x), bits)
    if math.isnan(x):
        return 0
    lo, hi = -(2 ** (bits - 1)), 2 ** (bits - 1) - 1
    return lo if x <= lo else hi if x >= hi else int(x)


def cast(value: Value, dtype: t.DType, strict: bool = False) -> Value:
    """``CAST(value AS dtype)``, or ``TRY_CAST`` when ``strict``."""
    target = _ARROW_TYPE.get(dtype)
    if target is None:
        raise ExpressionError(f"CAST to {dtype!r} is not supported.")
    src = value.type
    if src == target:
        return value
    if src == pa.null():
        return pa.scalar(None, target)
    if target == pa.string():
        render = to_string_fn(src)
        return _each(render, _micros(value) if pa.types.is_timestamp(src) else value, target)
    if pa.types.is_integer(target):
        bits = target.bit_width
        if pa.types.is_string(src):
            return _each(lambda s: _parse_int(s, bits, strict), value, target)
        if pa.types.is_floating(src):
            return _each(lambda x: _float_to_int(x, bits, strict), value, target)
        if pa.types.is_timestamp(src):
            secs = pc.floor(pc.divide(_micros(value).cast(pa.float64()), 1e6))
            value = secs.cast(pa.int64())
        if strict and pa.types.is_integer(value.type):
            return _each(lambda v: _in_range(v, bits), value, target)
        if pa.types.is_integer(value.type) or pa.types.is_boolean(value.type):
            # narrowing wraps, as Spark's non-ANSI cast does
            return value.cast(target, safe=False)
    if pa.types.is_string(src):
        return _each(_STRING_PARSERS[dtype], value, target)
    if pa.types.is_floating(target):
        if pa.types.is_timestamp(src):
            return pc.divide(_micros(value).cast(pa.float64()), 1e6).cast(target)
        if _numeric(src) or pa.types.is_boolean(src):
            return value.cast(target, safe=False)
    if target == pa.bool_():
        if pa.types.is_timestamp(src):
            return pc.not_equal(_micros(value), 0)
        if _numeric(src):
            return pc.not_equal(value, pa.scalar(0, src))
    if target == _TIMESTAMP:
        if pa.types.is_timestamp(src):
            return value.cast(target)
        if _numeric(src):
            # seconds since the epoch
            return _each(lambda x: _EPOCH + timedelta(microseconds=int(x * 1_000_000)),
                         value, target)
    raise ExpressionError(f"CAST from {src} to {dtype!r} is not supported.")


_STRING_PARSERS = {
    t.Float32: _parse_float,
    t.Float64: _parse_float,
    t.Bool: lambda s: True if s.strip().lower() in _TRUE
    else False if s.strip().lower() in _FALSE else None,
    t.Timestamp: _parse_timestamp,
    t.Bytes: lambda s: s.encode("utf-8"),
}


def java_double(x: float, single: bool = False) -> str:
    """``x`` as Java's Double.toString (Float.toString when ``single``)
    renders it, which is how Spark casts a number to STRING."""
    if math.isnan(x):
        return "NaN"
    if math.isinf(x):
        return "Infinity" if x > 0 else "-Infinity"
    if x == 0:
        return "-0.0" if math.copysign(1.0, x) < 0 else "0.0"
    # the shortest digits that read back as the same double (or float)
    sign, digits, exp = Decimal(str(np.float32(x)) if single else repr(x)).as_tuple()
    d = "".join(map(str, digits)).rstrip("0") or "0"
    point = len(digits) + exp  # digits before the decimal point
    out = "-" if sign else ""
    if 1e-3 <= abs(x) < 1e7:
        if point <= 0:
            return f"{out}0.{'0' * -point}{d}"
        if point >= len(d):
            return f"{out}{d}{'0' * (point - len(d))}.0"
        return f"{out}{d[:point]}.{d[point:]}"
    return f"{out}{d[0]}.{d[1:] or '0'}E{point - 1}"


def _timestamp_str(micros: int) -> str:
    ts = _EPOCH + timedelta(microseconds=micros)
    out = ts.strftime("%Y-%m-%d %H:%M:%S")
    return f"{out}.{ts.microsecond:06d}".rstrip("0") if ts.microsecond else out


def to_string_fn(src: pa.DataType) -> Callable:
    """How Spark renders one non-NULL value of ``src`` as a STRING
    (timestamps as microseconds since the epoch)."""
    if pa.types.is_string(src) or pa.types.is_integer(src):
        return str
    if pa.types.is_boolean(src):
        return lambda b: "true" if b else "false"
    if pa.types.is_floating(src):
        single = src == pa.float32()
        return lambda x: java_double(x, single)
    if pa.types.is_binary(src):
        return lambda b: b.decode("utf-8", errors="replace")
    if pa.types.is_timestamp(src):
        return _timestamp_str
    raise ExpressionError(f"CAST from {src} to STRING is not supported.")


def to_string(value: Value) -> Value:
    return cast(value, t.String)


# -- functions --------------------------------------------------------------
def concat(args: List[Value]) -> Value:
    strs = [to_string(a) for a in args]
    return rowwise(lambda *xs: None if None in xs else "".join(xs), strs, pa.string())


def concat_ws(sep: Value, args: List[Value]) -> Value:
    strs = [to_string(a) for a in args]

    def join(s, *xs):
        return None if s is None else s.join(x for x in xs if x is not None)

    return rowwise(join, [to_string(sep), *strs], pa.string())


def lower(value: Value) -> Value:
    return pc.utf8_lower(to_string(value))


# strftime directives whose strict round trip matches Spark's parser
_UNIX_TIMESTAMP_DIRECTIVES = set("YmdHMS%")


def unix_timestamp(value: Value, fmt: str) -> Value:
    if pa.types.is_timestamp(value.type):
        return cast(value, t.Int64)
    if value.type == pa.null():
        return pa.scalar(None, pa.int64())
    if not pa.types.is_string(value.type):
        raise ExpressionError(f"UNIX_TIMESTAMP requires a string or timestamp, got {value.type}.")
    bad = set(re.findall(r"%(.)", fmt)) - _UNIX_TIMESTAMP_DIRECTIVES
    if bad:
        raise ExpressionError(
            f"UNIX_TIMESTAMP format directives {sorted(bad)} are not supported "
            "in on-demand serving."
        )

    def parse(s):
        try:
            ts = datetime.strptime(s, fmt)
        except ValueError:
            return None
        # Spark's fixed-width fields reject what strftime would not print
        return int((ts - _EPOCH).total_seconds()) if ts.strftime(fmt) == s else None

    return _each(parse, value, pa.int64())


def json_string(value: Value) -> Value:
    """The JSON text of a string, number or boolean, as Spark's to_json
    writes it: NaN and the infinities are quoted."""
    src = value.type
    if src == pa.null():
        return pa.scalar(None, pa.string())
    if pa.types.is_string(src):
        return _each(lambda s: json.dumps(s, ensure_ascii=False), value, pa.string())
    if not (_numeric(src) or pa.types.is_boolean(src)):
        raise ExpressionError(f"JSON_STRING of {src} is not supported in on-demand serving.")
    render = to_string_fn(src)

    def write(x):
        text = render(x)
        return json.dumps(text) if text in ("NaN", "Infinity", "-Infinity") else text

    return _each(write, value, pa.string())


def make_map(args: List[Value]) -> Value:
    keys, values = args[0::2], args[1::2]
    kt = common_type(keys, "MAP keys")
    vt = common_type(values, "MAP values")

    def row(*xs):
        ks, vs = xs[: len(keys)], xs[len(keys):]
        if None in ks:
            raise ExpressionError("MAP: a map key is NULL.")
        if len(set(ks)) < len(ks):
            raise ExpressionError(f"MAP: duplicate map key in {list(ks)}.")
        return list(zip(ks, vs))

    return rowwise(row, [_as(k, kt) for k in keys] + [_as(v, vt) for v in values],
                   pa.map_(kt, vt))


def make_array(args: List[Value]) -> Value:
    et = common_type(args, "ARRAY elements")
    return rowwise(lambda *xs: list(xs), [_as(a, et) for a in args], pa.list_(et))


def size(value: Value) -> Value:
    if not (pa.types.is_list(value.type) or pa.types.is_map(value.type)):
        raise ExpressionError(f"SIZE requires a map or array, got {value.type}.")
    return _each(len, value, pa.int32())


def map_lookup(base: Value, key: Value) -> Value:
    """``base[key]``: NULL for a missing key.  A map column served from
    pandas holds dicts, which Arrow reads as structs."""
    if pa.types.is_map(base.type):
        dtype = base.type.item_type
    elif pa.types.is_struct(base.type):
        dtype = None
    else:
        raise ExpressionError(f"Bracket lookup requires a map, got {base.type}.")

    def get(m, k):
        return None if m is None or k is None else dict(m).get(k)

    return rowwise(get, [base, key], dtype)
