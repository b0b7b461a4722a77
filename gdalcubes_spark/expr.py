"""Safe tinyexpr-compatible expression compiler → vectorized numpy.

The reference evaluates per-pixel arithmetic strings with tinyexpr
(src/gdalcubes/src/external/tinyexpr; grammar: + - * / ^ %, comparisons,
abs acos asin atan atan2 ceil cos cosh exp floor ln log log10 pow sin sinh
sqrt tan tanh, constants pi/e) over lowercase band names plus coordinate
variables t0,t1,left,right,top,bottom,ix,iy,it (apply_pixel.cpp:61-69).

We compile the same grammar with Python's ast module into a numpy-vectorized
callable — whole arrays per chunk, never per-pixel Python. A second code path
(to_spark_sql) renders the expression as a Spark SQL / ANSI-SQL string so the
same queries run through Catalyst on long-format DataFrames and through DuckDB
oracles.
"""

from __future__ import annotations

import ast
from typing import Callable, Dict, Set

import numpy as np

_FUNCS: Dict[str, Callable] = {
    "abs": np.abs, "acos": np.arccos, "asin": np.arcsin, "atan": np.arctan,
    "atan2": np.arctan2, "ceil": np.ceil, "cos": np.cos, "cosh": np.cosh,
    "exp": np.exp, "floor": np.floor, "ln": np.log, "log": np.log,
    "log10": np.log10, "pow": np.power, "sin": np.sin, "sinh": np.sinh,
    "sqrt": np.sqrt, "tan": np.tan, "tanh": np.tanh, "fmod": np.fmod,
    "min": np.minimum, "max": np.maximum,
}


def _gamma1p(x):
    """Vectorized gamma(x+1) — tinyexpr's fac() on doubles (te builtin)."""
    import math
    return np.vectorize(lambda v: math.gamma(v + 1.0), otypes=[np.float64])(np.asarray(x, dtype="float64"))


_FUNCS["fac"] = _gamma1p
_FUNCS["ncr"] = lambda n, r: np.round(_gamma1p(n) / (_gamma1p(r) * _gamma1p(np.asarray(n, dtype="float64") - r)))
_FUNCS["npr"] = lambda n, r: np.round(_gamma1p(n) / _gamma1p(np.asarray(n, dtype="float64") - r))
_CONSTS = {"pi": np.pi, "e": np.e}

COORD_VARS = ("t0", "t1", "left", "right", "top", "bottom", "ix", "iy", "it")

_ALLOWED_NODES = (
    ast.Expression, ast.BinOp, ast.UnaryOp, ast.Compare, ast.BoolOp, ast.Call,
    ast.Name, ast.Load, ast.Constant, ast.Add, ast.Sub, ast.Mult, ast.Div,
    ast.Mod, ast.Pow, ast.USub, ast.UAdd, ast.Eq, ast.NotEq, ast.Lt, ast.LtE,
    ast.Gt, ast.GtE, ast.And, ast.Or, ast.Not, ast.IfExp,
)


def _normalize(expr: str) -> str:
    """tinyexpr `^` is power; `==`/`!=`/... are as in C. Keep `**` working too."""
    out, i, n = [], 0, len(expr)
    while i < n:
        c = expr[i]
        if c == "^":
            out.append("**")
        elif c == "&" and i + 1 < n and expr[i + 1] == "&":
            out.append(" and "); i += 1
        elif c == "|" and i + 1 < n and expr[i + 1] == "|":
            out.append(" or "); i += 1
        else:
            out.append(c)
        i += 1
    return "".join(out)


class _Vectorize(ast.NodeTransformer):
    """Rewrite Python-level boolean logic into numpy-safe element-wise ops:
    `a and b` → `(a != 0) & (b != 0)`, `not a` → `a == 0`,
    `x if c else y` → `_where(c, x, y)`."""

    def _truthy(self, node):
        return ast.Compare(left=node, ops=[ast.NotEq()], comparators=[ast.Constant(0.0)])

    def visit_BoolOp(self, node):
        self.generic_visit(node)
        op = ast.BitAnd() if isinstance(node.op, ast.And) else ast.BitOr()
        cur = self._truthy(node.values[0])
        for v in node.values[1:]:
            cur = ast.BinOp(left=cur, op=op, right=self._truthy(v))
        return cur

    def visit_UnaryOp(self, node):
        self.generic_visit(node)
        if isinstance(node.op, ast.Not):
            return ast.Compare(left=node.operand, ops=[ast.Eq()], comparators=[ast.Constant(0.0)])
        return node

    def visit_IfExp(self, node):
        self.generic_visit(node)
        return ast.Call(func=ast.Name(id="_where", ctx=ast.Load()),
                        args=[node.test, node.body, node.orelse], keywords=[])


class CompiledExpr:
    def __init__(self, source: str):
        self.source = source
        tree = ast.parse(_normalize(source), mode="eval")
        for node in ast.walk(tree):
            if not isinstance(node, _ALLOWED_NODES):
                raise ValueError(f"disallowed syntax {type(node).__name__!r} in expression {source!r}")
            if isinstance(node, ast.Call):
                if not isinstance(node.func, ast.Name) or node.func.id not in _FUNCS:
                    raise ValueError(f"unknown function in expression {source!r}")
        self._tree = tree
        self.variables: Set[str] = {
            n.id for n in ast.walk(tree)
            if isinstance(n, ast.Name) and n.id not in _FUNCS and n.id not in _CONSTS
        }
        vtree = ast.fix_missing_locations(_Vectorize().visit(tree))
        self._code = compile(vtree, "<cube-expr>", "eval")

    def __call__(self, env: Dict[str, np.ndarray]) -> np.ndarray:
        ns = dict(_FUNCS)
        ns["_where"] = np.where
        ns.update(_CONSTS)
        ns.update(env)
        with np.errstate(all="ignore"):
            r = eval(self._code, {"__builtins__": {}}, ns)  # noqa: S307 — AST-whitelisted above
        return np.asarray(r, dtype="float64")


def compile_expr(source: str) -> CompiledExpr:
    return CompiledExpr(source)


_SQL_FUNCS = {"ln": "ln", "log": "ln", "log10": "log10", "atan2": "atan2", "pow": "power",
              "min": "least", "max": "greatest"}

# fac/ncr/npr must match the Python path, which is gamma-based for ANY real
# input (tinyexpr semantics). SQL `factorial` is integer-typed and NULL for
# n>20, so render through gamma(x+1) instead (DuckDB `gamma`; on engines
# without it, exp(lgamma) is the equivalent rewrite).
_GAMMA_FN = "gamma"


def _sql_gamma1p(x: str) -> str:
    return f"{_GAMMA_FN}(({x}) + 1.0)"


def to_sql(source: str, col_of: Dict[str, str]) -> str:
    """Render a tinyexpr string as an ANSI SQL expression; col_of maps variable
    names (lowercase band / coordinate vars) to SQL column expressions."""
    tree = ast.parse(_normalize(source), mode="eval")

    def emit(n) -> str:
        if isinstance(n, ast.Expression):
            return emit(n.body)
        if isinstance(n, ast.Constant):
            return repr(float(n.value)) if isinstance(n.value, (int, float)) else repr(n.value)
        if isinstance(n, ast.Name):
            if n.id in _CONSTS:
                return repr(_CONSTS[n.id])
            key = n.id.lower()
            if key not in col_of and n.id not in col_of:
                raise ValueError(f"unknown variable {n.id!r}")
            return col_of.get(key, col_of.get(n.id))
        if isinstance(n, ast.BinOp):
            op = {ast.Add: "+", ast.Sub: "-", ast.Mult: "*", ast.Div: "/", ast.Mod: "%"}.get(type(n.op))
            if op:
                return f"({emit(n.left)} {op} {emit(n.right)})"
            if isinstance(n.op, ast.Pow):
                return f"power({emit(n.left)}, {emit(n.right)})"
        if isinstance(n, ast.UnaryOp):
            if isinstance(n.op, ast.USub):
                return f"(-{emit(n.operand)})"
            if isinstance(n.op, ast.Not):
                return f"(NOT {emit(n.operand)})"
            return emit(n.operand)
        if isinstance(n, ast.Compare):
            op = {ast.Eq: "=", ast.NotEq: "<>", ast.Lt: "<", ast.LtE: "<=", ast.Gt: ">", ast.GtE: ">="}[
                type(n.ops[0])]
            return f"({emit(n.left)} {op} {emit(n.comparators[0])})"
        if isinstance(n, ast.BoolOp):
            op = " AND " if isinstance(n.op, ast.And) else " OR "
            return "(" + op.join(emit(v) for v in n.values) + ")"
        if isinstance(n, ast.Call):
            if n.func.id == "fac":
                return _sql_gamma1p(emit(n.args[0]))
            if n.func.id in ("ncr", "npr"):
                nn, rr = emit(n.args[0]), emit(n.args[1])
                denom = _sql_gamma1p(f"({nn}) - ({rr})")
                if n.func.id == "ncr":
                    denom = f"({_sql_gamma1p(rr)} * {denom})"
                return f"round({_sql_gamma1p(nn)} / {denom})"
            fname = _SQL_FUNCS.get(n.func.id, n.func.id)
            return f"{fname}({', '.join(emit(a) for a in n.args)})"
        if isinstance(n, ast.IfExp):
            return f"(CASE WHEN {emit(n.test)} THEN {emit(n.body)} ELSE {emit(n.orelse)} END)"
        raise ValueError(f"cannot render {type(n).__name__} to SQL")

    return emit(tree)
