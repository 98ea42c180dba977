"""AST for the FeatHub expression language.

Node inventory and typing rules re-express the reference DSL
(/root/reference/python/feathub/dsl/ast.py:49-387): numeric precision rank
Float64 > Float32 > Int64 > Int32, NULL-propagating arithmetic, CASE/CAST/
TRY_CAST, map bracket lookup, and the 9 built-in scalar functions.  Each node
knows how to derive its result dtype (`eval_dtype`) and has two ways to
compute: it renders itself as Spark SQL (`to_spark_sql`) for batch and stream
jobs, and it evaluates itself over a mapping of column arrays (`evaluate`,
with Spark's non-ANSI semantics from `spark_semantics`) for on-demand
serving, so both paths compute the same values.
"""

from __future__ import annotations

from typing import Any, Dict, List, Mapping, Optional, Sequence, Set

from feathub_spark.common.exceptions import ExpressionError
from feathub_spark.common import types as t
from feathub_spark.common.time_utils import to_java_date_format
from feathub_spark.dsl import spark_semantics as ss

# Column name the sliding-view planner substitutes for GET_WINDOW_TIME():
# the bigint epoch-millis window time (window end - 1ms).
WINDOW_TIME_PLACEHOLDER = "__window_time_ms__"


def _common_type(dtypes: Sequence[t.DType], context: str) -> t.DType:
    # Unknown is the NULL literal's type, not a concrete one — a NULL
    # branch/element must not fail the numeric-widening fold (CASE WHEN c
    # THEN NULL ELSE 5 END is Int64, ARRAY(1, NULL) is vector<Int64>)
    non_null = [d for d in dtypes if d is not None and d != t.Unknown]
    if not non_null:
        return t.Unknown
    first = non_null[0]
    if all(d == first for d in non_null):
        return first
    try:
        res = non_null[0]
        for d in non_null[1:]:
            res = t.common_numeric_type(res, d)
        return res
    except Exception:
        raise ExpressionError(f"Incompatible types {dtypes} in {context}.")


class ExprAST:
    def eval_dtype(self, variable_types: Dict[str, t.DType]) -> t.DType:
        raise NotImplementedError

    def to_spark_sql(self) -> str:
        raise NotImplementedError

    def evaluate(self, columns: Mapping[str, Any]) -> ss.Value:
        """The value in each row of ``columns`` (equal-length arrays by
        name): an Arrow array, or a scalar when no column is read."""
        raise NotImplementedError

    def collect_variables(self, out: Set[str]) -> None:
        for child in self.children():
            child.collect_variables(out)

    def children(self) -> List["ExprAST"]:
        return []

    def variables(self) -> Set[str]:
        out: Set[str] = set()
        self.collect_variables(out)
        return out


class ValueNode(ExprAST):
    def __init__(self, value) -> None:
        self.value = value

    def eval_dtype(self, variable_types):
        if isinstance(self.value, bool):
            return t.Bool
        if isinstance(self.value, int):
            return t.Int64
        if isinstance(self.value, float):
            return t.Float64
        if isinstance(self.value, str):
            return t.String
        raise ExpressionError(f"Unsupported literal {self.value!r}")

    def to_spark_sql(self) -> str:
        if isinstance(self.value, bool):
            return "TRUE" if self.value else "FALSE"
        if isinstance(self.value, str):
            escaped = self.value.replace("\\", "\\\\").replace("'", "\\'")
            return f"'{escaped}'"
        return repr(self.value)

    def evaluate(self, columns):
        return ss.literal(self.value)


class NullNode(ExprAST):
    def eval_dtype(self, variable_types):
        return t.Unknown

    def to_spark_sql(self) -> str:
        return "NULL"

    def evaluate(self, columns):
        return ss.NULL


class VariableNode(ExprAST):
    def __init__(self, name: str) -> None:
        self.name = name

    def eval_dtype(self, variable_types):
        if self.name not in variable_types:
            raise ExpressionError(
                f"Unknown column {self.name!r}; known: {sorted(variable_types)}"
            )
        return variable_types[self.name]

    def to_spark_sql(self) -> str:
        return f"`{self.name}`"

    def evaluate(self, columns):
        if self.name not in columns:
            raise ExpressionError(
                f"Unknown column {self.name!r}; known: {sorted(columns)}"
            )
        return ss.to_arrow(columns[self.name])

    def collect_variables(self, out: Set[str]) -> None:
        out.add(self.name)


class GroupNode(ExprAST):
    def __init__(self, child: ExprAST) -> None:
        self.child = child

    def children(self):
        return [self.child]

    def eval_dtype(self, variable_types):
        return self.child.eval_dtype(variable_types)

    def to_spark_sql(self) -> str:
        return f"({self.child.to_spark_sql()})"

    def evaluate(self, columns):
        return self.child.evaluate(columns)


class BinaryOp(ExprAST):
    """Arithmetic + - * /; NULL if either side NULL; result = higher precision."""

    def __init__(self, op: str, left: ExprAST, right: ExprAST) -> None:
        self.op = op
        self.left = left
        self.right = right

    def children(self):
        return [self.left, self.right]

    def eval_dtype(self, variable_types):
        lt = self.left.eval_dtype(variable_types)
        rt = self.right.eval_dtype(variable_types)
        if lt == t.Unknown:
            return rt
        if rt == t.Unknown:
            return lt
        return t.common_numeric_type(lt, rt)

    def to_spark_sql(self) -> str:
        return f"{self.left.to_spark_sql()} {self.op} {self.right.to_spark_sql()}"

    def evaluate(self, columns):
        return ss.arithmetic(self.op, self.left.evaluate(columns), self.right.evaluate(columns))


class UminusOp(ExprAST):
    def __init__(self, child: ExprAST) -> None:
        self.child = child

    def children(self):
        return [self.child]

    def eval_dtype(self, variable_types):
        return self.child.eval_dtype(variable_types)

    def to_spark_sql(self) -> str:
        return f"- {self.child.to_spark_sql()}"

    def evaluate(self, columns):
        return ss.negate(self.child.evaluate(columns))


class CompareOp(ExprAST):
    def __init__(self, op: str, left: ExprAST, right: ExprAST) -> None:
        self.op = op
        self.left = left
        self.right = right

    def children(self):
        return [self.left, self.right]

    def eval_dtype(self, variable_types):
        return t.Bool

    def to_spark_sql(self) -> str:
        return f"{self.left.to_spark_sql()} {self.op} {self.right.to_spark_sql()}"

    def evaluate(self, columns):
        return ss.compare(self.op, self.left.evaluate(columns), self.right.evaluate(columns))


class LogicalOp(ExprAST):
    def __init__(self, op: str, left: ExprAST, right: ExprAST) -> None:
        self.op = op.upper()
        self.left = left
        self.right = right

    def children(self):
        return [self.left, self.right]

    def eval_dtype(self, variable_types):
        return t.Bool

    def to_spark_sql(self) -> str:
        return f"{self.left.to_spark_sql()} {self.op} {self.right.to_spark_sql()}"

    def evaluate(self, columns):
        return ss.logical(self.op, self.left.evaluate(columns), self.right.evaluate(columns))


class IsOp(ExprAST):
    """x IS [NOT] NULL (the reference only permits NULL on the RHS)."""

    def __init__(self, child: ExprAST, is_not: bool) -> None:
        self.child = child
        self.is_not = is_not

    def children(self):
        return [self.child]

    def eval_dtype(self, variable_types):
        return t.Bool

    def to_spark_sql(self) -> str:
        kw = "IS NOT NULL" if self.is_not else "IS NULL"
        return f"{self.child.to_spark_sql()} {kw}"

    def evaluate(self, columns):
        return ss.is_null(self.child.evaluate(columns), self.is_not)


class CastOp(ExprAST):
    def __init__(self, child: ExprAST, type_name: str, safe: bool = False) -> None:
        self.child = child
        self.type_name = type_name
        self.safe = safe  # True for TRY_CAST (NULL on failure)
        self.dtype = t.dtype_from_name(type_name)

    def children(self):
        return [self.child]

    def eval_dtype(self, variable_types):
        self.child.eval_dtype(variable_types)
        return self.dtype

    def to_spark_sql(self) -> str:
        fn = "TRY_CAST" if self.safe else "CAST"
        spark_t = t.to_spark_sql_type_name(self.dtype)
        return f"{fn}({self.child.to_spark_sql()} AS {spark_t})"

    def evaluate(self, columns):
        return ss.cast(self.child.evaluate(columns), self.dtype, strict=self.safe)


class CaseOp(ExprAST):
    def __init__(
        self,
        whens: List[ExprAST],
        thens: List[ExprAST],
        default: Optional[ExprAST] = None,
    ) -> None:
        self.whens = whens
        self.thens = thens
        self.default = default

    def children(self):
        out = list(self.whens) + list(self.thens)
        if self.default is not None:
            out.append(self.default)
        return out

    def eval_dtype(self, variable_types):
        for w in self.whens:
            w.eval_dtype(variable_types)
        branch_types = [th.eval_dtype(variable_types) for th in self.thens]
        if self.default is not None:
            d = self.default.eval_dtype(variable_types)
            if d != t.Unknown:
                branch_types.append(d)
        return _common_type(branch_types, "CASE expression")

    def to_spark_sql(self) -> str:
        parts = ["CASE"]
        for w, th in zip(self.whens, self.thens):
            parts.append(f"WHEN {w.to_spark_sql()} THEN {th.to_spark_sql()}")
        if self.default is not None:
            parts.append(f"ELSE {self.default.to_spark_sql()}")
        parts.append("END")
        return " ".join(parts)

    def evaluate(self, columns):
        return ss.case(
            [w.evaluate(columns) for w in self.whens],
            [th.evaluate(columns) for th in self.thens],
            None if self.default is None else self.default.evaluate(columns),
        )


class BracketOp(ExprAST):
    """Map entry lookup ``m[k]``; missing key → NULL (list index unsupported,
    matching the reference's explicit TODO)."""

    def __init__(self, base: ExprAST, key: ExprAST) -> None:
        self.base = base
        self.key = key

    def children(self):
        return [self.base, self.key]

    def eval_dtype(self, variable_types):
        base_t = self.base.eval_dtype(variable_types)
        self.key.eval_dtype(variable_types)
        if isinstance(base_t, t.MapType):
            return base_t.value_dtype
        raise ExpressionError(
            f"Bracket lookup requires a map-typed operand, got {base_t!r}."
        )

    def to_spark_sql(self) -> str:
        return f"{self.base.to_spark_sql()}[{self.key.to_spark_sql()}]"

    def evaluate(self, columns):
        return ss.map_lookup(self.base.evaluate(columns), self.key.evaluate(columns))


class FuncCallOp(ExprAST):
    def __init__(self, func_name: str, args: List[ExprAST]) -> None:
        self.func_name = func_name.upper()
        self.args = args

    def children(self):
        return list(self.args)

    # -- typing ---------------------------------------------------------
    def eval_dtype(self, variable_types):
        arg_types = [a.eval_dtype(variable_types) for a in self.args]
        f = self.func_name
        if f == "LOWER":
            self._require_arity(1)
            return t.String
        if f in ("CONCAT", "CONCAT_WS", "JSON_STRING"):
            # arity-check at BUILD time: CONCAT_WS(sep) would lower to
            # the invalid SQL 'CONCAT_WS(sep, )' and JSON_STRING() to an
            # IndexError in the lowering itself
            if f == "CONCAT_WS" and len(self.args) < 2:
                raise ExpressionError(
                    "CONCAT_WS requires a separator plus at least one value."
                )
            if f == "JSON_STRING":
                self._require_arity(1)
            return t.String
        if f == "UNIX_TIMESTAMP":
            if len(self.args) not in (1, 2):
                raise ExpressionError("UNIX_TIMESTAMP takes 1 or 2 arguments.")
            return t.Int64
        if f == "MAP":
            if len(self.args) < 2 or len(self.args) % 2 != 0:
                raise ExpressionError("MAP requires an even, positive argument count.")
            kt = _common_type(arg_types[0::2], "MAP keys")
            vt = _common_type(arg_types[1::2], "MAP values")
            return t.MapType(kt, vt)
        if f == "ARRAY":
            if not self.args:
                raise ExpressionError("ARRAY requires at least one argument.")
            return t.VectorType(_common_type(arg_types, "ARRAY elements"))
        if f == "SIZE":
            self._require_arity(1)
            if not isinstance(arg_types[0], (t.MapType, t.VectorType)):
                raise ExpressionError(f"SIZE requires map/vector, got {arg_types[0]!r}")
            return t.Int32
        if f == "GET_WINDOW_TIME":
            return t.Int64
        raise ExpressionError(f"Unknown function {self.func_name}.")

    def _require_arity(self, n: int) -> None:
        if len(self.args) != n:
            raise ExpressionError(f"{self.func_name} takes {n} argument(s).")

    def _strftime_format(self) -> str:
        """UNIX_TIMESTAMP's format: a string literal strftime pattern."""
        if len(self.args) == 1:
            return "%Y-%m-%d %H:%M:%S"
        fmt_node = self.args[1]
        inner = fmt_node.child if isinstance(fmt_node, GroupNode) else fmt_node
        if not isinstance(inner, ValueNode) or not isinstance(inner.value, str):
            raise ExpressionError("UNIX_TIMESTAMP format must be a string literal.")
        return inner.value

    # -- lowering -------------------------------------------------------
    def to_spark_sql(self) -> str:
        f = self.func_name
        args_sql = [a.to_spark_sql() for a in self.args]
        if f == "LOWER":
            return f"LOWER({args_sql[0]})"
        if f == "CONCAT":
            cast_args = ", ".join(f"CAST({a} AS STRING)" for a in args_sql)
            return f"CONCAT({cast_args})"
        if f == "CONCAT_WS":
            sep = args_sql[0]
            rest = ", ".join(f"CAST({a} AS STRING)" for a in args_sql[1:])
            return f"CONCAT_WS({sep}, {rest})"
        if f == "UNIX_TIMESTAMP":
            fmt = to_java_date_format(self._strftime_format())
            from feathub_spark.common.time_utils import sql_string_literal

            return f"TO_UNIX_TIMESTAMP({args_sql[0]}, '{sql_string_literal(fmt)}')"
        if f == "JSON_STRING":
            # to_json only accepts struct/map/array: wrap in a 1-element array
            # and strip the surrounding brackets, preserving NULL→NULL.
            a = args_sql[0]
            j = f"to_json(array({a}))"
            return (
                f"CASE WHEN {a} IS NULL THEN NULL "
                f"ELSE substring({j}, 2, length({j}) - 2) END"
            )
        if f == "MAP":
            return f"map({', '.join(args_sql)})"
        if f == "ARRAY":
            return f"array({', '.join(args_sql)})"
        if f == "SIZE":
            return f"size({args_sql[0]})"
        if f == "GET_WINDOW_TIME":
            return f"`{WINDOW_TIME_PLACEHOLDER}`"
        raise ExpressionError(f"Unknown function {self.func_name}.")

    # -- evaluation -----------------------------------------------------
    def evaluate(self, columns):
        f = self.func_name
        if f == "GET_WINDOW_TIME":
            return VariableNode(WINDOW_TIME_PLACEHOLDER).evaluate(columns)
        args = [a.evaluate(columns) for a in self.args]
        if f == "LOWER":
            return ss.lower(args[0])
        if f == "CONCAT":
            return ss.concat(args)
        if f == "CONCAT_WS":
            return ss.concat_ws(args[0], args[1:])
        if f == "UNIX_TIMESTAMP":
            return ss.unix_timestamp(args[0], self._strftime_format())
        if f == "JSON_STRING":
            return ss.json_string(args[0])
        if f == "MAP":
            return ss.make_map(args)
        if f == "ARRAY":
            return ss.make_array(args)
        if f == "SIZE":
            return ss.size(args[0])
        raise ExpressionError(f"Unknown function {self.func_name}.")
