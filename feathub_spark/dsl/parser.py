"""Hand-rolled tokenizer + recursive-descent parser for FeatHub expressions.

Grammar and precedence re-express the reference PLY grammar
(/root/reference/python/feathub/dsl/expr_parser.py:41-211,
expr_lexer_rules.py:40-95): OR < AND < comparisons/IS < additive <
multiplicative < unary minus; postfix bracket lookup; CASE/CAST/TRY_CAST;
case-insensitive keywords; backtick-quoted identifiers.
"""

from __future__ import annotations

import functools
import re
from typing import Any, Dict, List, Mapping, Optional, Tuple

import pyarrow as pa

from feathub_spark.common.exceptions import ExpressionError
from feathub_spark.common.types import DType
from feathub_spark.dsl import spark_semantics
from feathub_spark.dsl.ast import (
    BinaryOp,
    BracketOp,
    CaseOp,
    CastOp,
    CompareOp,
    ExprAST,
    FuncCallOp,
    GroupNode,
    IsOp,
    LogicalOp,
    NullNode,
    UminusOp,
    ValueNode,
    VariableNode,
)

_KEYWORDS = {
    "AND", "OR", "TRUE", "FALSE", "NULL", "IS", "NOT",
    "CASE", "WHEN", "THEN", "ELSE", "END", "CAST", "TRY_CAST", "AS",
}

_TOKEN_RE = re.compile(
    r"""
    (?P<WS>\s+)
  | (?P<FLOAT>\d+\.\d*(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?|\d+[eE][+-]?\d+)
  | (?P<INTEGER>\d+)
  | (?P<STRING>'(?:[^']|'')*')
  | (?P<DSTRING>"[^"]*")
  | (?P<BTID>`[^`]+`)
  | (?P<ID>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<OP><=|>=|<>|!=|=|<|>|\+|-|\*|/|\(|\)|\[|\]|,)
    """,
    re.VERBOSE,
)


class _Token:
    __slots__ = ("kind", "value")

    def __init__(self, kind: str, value) -> None:
        self.kind = kind
        self.value = value

    def __repr__(self) -> str:
        return f"{self.kind}({self.value!r})"


def _tokenize(text: str) -> List[_Token]:
    tokens: List[_Token] = []
    pos = 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise ExpressionError(f"Illegal character {text[pos]!r} at {pos} in {text!r}")
        pos = m.end()
        kind = m.lastgroup
        raw = m.group()
        if kind == "WS":
            continue
        if kind == "FLOAT":
            tokens.append(_Token("NUMBER", float(raw)))
        elif kind == "INTEGER":
            tokens.append(_Token("NUMBER", int(raw)))
        elif kind == "STRING":
            tokens.append(_Token("STRING", raw[1:-1].replace("''", "'")))
        elif kind == "DSTRING":
            # reference lexer parity (expr_lexer_rules.py t_STRING accepts
            # both quote styles); no doubled-quote escape in this form
            tokens.append(_Token("STRING", raw[1:-1]))
        elif kind == "BTID":
            tokens.append(_Token("ID", raw[1:-1]))
        elif kind == "ID":
            upper = raw.upper()
            if upper in _KEYWORDS:
                tokens.append(_Token(upper, upper))
            else:
                tokens.append(_Token("ID", raw))
        else:
            tokens.append(_Token(raw, raw))
    tokens.append(_Token("EOF", None))
    return tokens


_CMP_OPS = {"<", "<=", ">", ">=", "=", "<>", "!="}


class ExprParser:
    def parse(self, text: str) -> ExprAST:
        self._tokens = _tokenize(text)
        self._pos = 0
        expr = self._parse_or()
        if self._peek().kind != "EOF":
            raise ExpressionError(
                f"Unexpected token {self._peek()!r} at end of expression {text!r}"
            )
        return expr

    # -- token helpers --------------------------------------------------
    def _peek(self) -> _Token:
        return self._tokens[self._pos]

    def _next(self) -> _Token:
        tok = self._tokens[self._pos]
        self._pos += 1
        return tok

    def _expect(self, kind: str) -> _Token:
        tok = self._next()
        if tok.kind != kind:
            raise ExpressionError(f"Expected {kind}, got {tok!r}")
        return tok

    def _accept(self, kind: str) -> Optional[_Token]:
        if self._peek().kind == kind:
            return self._next()
        return None

    # -- grammar --------------------------------------------------------
    def _parse_or(self) -> ExprAST:
        left = self._parse_and()
        while self._accept("OR"):
            left = LogicalOp("OR", left, self._parse_and())
        return left

    def _parse_and(self) -> ExprAST:
        left = self._parse_cmp()
        while self._accept("AND"):
            left = LogicalOp("AND", left, self._parse_cmp())
        return left

    def _parse_cmp(self) -> ExprAST:
        left = self._parse_add()
        while True:
            tok = self._peek()
            if tok.kind in _CMP_OPS:
                self._next()
                op = "<>" if tok.kind == "!=" else tok.kind
                left = CompareOp(op, left, self._parse_add())
            elif tok.kind == "IS":
                self._next()
                is_not = self._accept("NOT") is not None
                self._expect("NULL")
                left = IsOp(left, is_not)
            else:
                return left

    def _parse_add(self) -> ExprAST:
        left = self._parse_mul()
        while self._peek().kind in ("+", "-"):
            op = self._next().kind
            left = BinaryOp(op, left, self._parse_mul())
        return left

    def _parse_mul(self) -> ExprAST:
        left = self._parse_unary()
        while self._peek().kind in ("*", "/"):
            op = self._next().kind
            left = BinaryOp(op, left, self._parse_unary())
        return left

    def _parse_unary(self) -> ExprAST:
        if self._accept("-"):
            return UminusOp(self._parse_unary())
        return self._parse_postfix()

    def _parse_postfix(self) -> ExprAST:
        expr = self._parse_primary()
        while self._accept("["):
            key = self._parse_or()
            self._expect("]")
            expr = BracketOp(expr, key)
        return expr

    def _parse_primary(self) -> ExprAST:
        tok = self._next()
        if tok.kind == "NUMBER":
            return ValueNode(tok.value)
        if tok.kind == "STRING":
            return ValueNode(tok.value)
        if tok.kind == "TRUE":
            return ValueNode(True)
        if tok.kind == "FALSE":
            return ValueNode(False)
        if tok.kind == "NULL":
            return NullNode()
        if tok.kind == "(":
            inner = self._parse_or()
            self._expect(")")
            return GroupNode(inner)
        if tok.kind in ("CAST", "TRY_CAST"):
            self._expect("(")
            child = self._parse_or()
            self._expect("AS")
            type_name = self._expect("ID").value
            self._expect(")")
            return CastOp(child, type_name, safe=(tok.kind == "TRY_CAST"))
        if tok.kind == "CASE":
            return self._parse_case()
        if tok.kind == "ID":
            if self._peek().kind == "(":
                self._next()
                args: List[ExprAST] = []
                if self._peek().kind != ")":
                    args.append(self._parse_or())
                    while self._accept(","):
                        args.append(self._parse_or())
                self._expect(")")
                return FuncCallOp(tok.value, args)
            return VariableNode(tok.value)
        raise ExpressionError(f"Unexpected token {tok!r} in expression.")

    def _parse_case(self) -> ExprAST:
        whens: List[ExprAST] = []
        thens: List[ExprAST] = []
        default: Optional[ExprAST] = None
        self._expect("WHEN")
        whens.append(self._parse_or())
        self._expect("THEN")
        thens.append(self._parse_or())
        while self._accept("WHEN"):
            whens.append(self._parse_or())
            self._expect("THEN")
            thens.append(self._parse_or())
        if self._accept("ELSE"):
            default = self._parse_or()
        self._expect("END")
        return CaseOp(whens, thens, default)


@functools.lru_cache(maxsize=4096)
def parse_expr(text: str) -> ExprAST:
    """The AST of ``text``, parsed once per distinct string: a node is
    never changed after parsing, so every caller can share it."""
    # a parser per parse: it keeps its position in its own fields, and
    # concurrent serving threads may parse at the same time
    return ExprParser().parse(text)


def to_spark_sql(expr: str) -> str:
    """FeatHub expression string → Spark SQL expression string."""
    return parse_expr(expr).to_spark_sql()


def derive_dtype(expr: str, variable_types: Dict[str, DType]) -> DType:
    return parse_expr(expr).eval_dtype(variable_types)


def expr_and_dtype(expr: str, variable_types: Dict[str, DType]) -> Tuple[str, DType]:
    ast = parse_expr(expr)
    return ast.to_spark_sql(), ast.eval_dtype(variable_types)


def evaluate(expr: str, columns: Mapping[str, Any], num_rows: int) -> pa.Array:
    """The value of ``expr`` in each of ``num_rows`` rows of ``columns``
    (arrays by name), computed in-process as Spark SQL computes it."""
    try:
        return spark_semantics.broadcast(parse_expr(expr).evaluate(columns), num_rows)
    except pa.ArrowException as e:
        raise ExpressionError(f"Cannot evaluate {expr!r}: {e}") from e
