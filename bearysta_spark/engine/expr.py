"""Precompute expression compiler: Python lambda-string → Spark Column.

The reference eval()s arbitrary Python from recipe YAML, row-at-a-time
(`df.apply(axis=1)`, aggregate.py:478-492) — its hottest path and an
injection hole. We compile the documented idiom surface (SURVEY §2.8) to
native Column expressions instead, so precomputes run inside
whole-stage codegen; there is no Python in the row path at all.

Supported surface (the complete set used by the 24 shipped recipes):
  row['col'] / df['col']          column refs
  == != < <= > >= in not-in      comparisons (pandas NaN semantics:
                                  NaN == x → False, NaN != x → True)
  and / or / not                  boolean ops
  X if COND else Y                conditionals
  + - * / // % **                 arithmetic
  s.split(sep)[i] / [a:b]         split + index/slice (negative ok)
  list + list concat              e.g. split(...)[-3:-2] + ['Unknown']
  len(x)                          size (arrays) / length (strings)
  '{}x{}'.format(a, b)            format_string
  int(x) float(x) str(x) abs(x)   casts / math
  x.capitalize() .lower() .upper() .strip()
  df['c'].fillna(value=v)         coalesce
  (lambda p: EXPR)(ARG)           immediately-invoked lambda
  read_csv_fd('t.csv')            cached sidecar-CSV lookup table
                                  (.set_index/.to_dict/['col'] shaping
                                  folds at compile time; indexing by a
                                  row column becomes a literal-map
                                  lookup; missing key → NULL)
  ratio_of family                 handled by the engine (extracted
                                  before compilation → temp columns)
  truthiness: `x if row['c'] else y` (string: non-null & non-empty;
                                  numeric: non-null & non-zero)

Anything outside this surface raises ExprCompileError; the engine can
optionally fall back to an Arrow-batched pandas eval (allow_python=True)
which reproduces the reference behavior on explicitly-trusted recipes.
"""

from __future__ import annotations

import ast
import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BooleanType, NumericType, StringType


class ExprCompileError(ValueError):
    pass


_CSV_CACHE: dict[str, object] = {}


def read_csv_cached(path, *args, **kwargs):
    """S9 (aggregate.py:287-293): pd.read_csv cached by absolute path —
    the `read_csv_fd` helper recipes use inside precompute expressions
    to pull a small lookup table (targets, labels). Driver-side by
    design: these are kilobyte-scale sidecar CSVs, and the compiler
    folds them into the plan as literals."""
    import os as _os

    import pandas as _pd

    key = _os.path.abspath(path) if _os.path.isfile(path) else path
    if key not in _CSV_CACHE:
        _CSV_CACHE[key] = _pd.read_csv(path, *args, **kwargs)
    return _CSV_CACHE[key]


def _is_pandas(obj) -> bool:
    return type(obj).__module__.startswith("pandas")


RATIO_FUNCS = (
    "ratio_of",
    "ratio_of_inv",
    "ratio_diff",
    "ratio_diff_inv",
    "percent_of",
    "percent_of_inv",
    "percent_diff",
    "percent_diff_inv",
)


def extract_ratio_calls(expr: str) -> tuple[str, list[tuple[str, dict]]]:
    """Replace every ratio-family call in `expr` with a generated column
    name and return (rewritten_expr, [(tmp_col, spec)...]).

    spec = {func, value, base:{series_col: literal,...}, invert}. The
    engine materializes each spec as a temp column (a DataFrame-level
    join operator — not expressible as a scalar Column), then compiles
    the rewritten expression, which may do arbitrary arithmetic on the
    temp column (e.g. `1 / ratio_of(...)`).
    """
    try:
        tree = ast.parse(expr, mode="eval")
    except SyntaxError as e:
        raise ExprCompileError(f"cannot parse precompute {expr!r}: {e}") from e

    calls: list[tuple[str, dict]] = []

    class Rewriter(ast.NodeTransformer):
        def visit_Call(self, node: ast.Call):
            self.generic_visit(node)
            if isinstance(node.func, ast.Name) and node.func.id in RATIO_FUNCS:
                if not (node.args and isinstance(node.args[0], ast.Constant)):
                    raise ExprCompileError(
                        f"{node.func.id} first arg must be a column-name literal"
                    )
                # keywords, plus `**{...}` dict literals, which let a base
                # name a column that is no Python identifier ('Algo.name')
                named = []
                for kw in node.keywords:
                    if kw.arg is not None:
                        named.append((kw.arg, kw.value))
                    elif isinstance(kw.value, ast.Dict) and all(
                        isinstance(k, ast.Constant) and isinstance(k.value, str)
                        for k in kw.value.keys
                    ):
                        named += [
                            (k.value, v) for k, v in zip(kw.value.keys, kw.value.values)
                        ]
                    else:
                        raise ExprCompileError(
                            f"{node.func.id} ** must be a dict literal with "
                            "string-literal keys"
                        )
                base = {}
                invert = node.func.id.endswith("_inv")
                for name, value in named:
                    if name == "invert":
                        if not isinstance(value, ast.Constant):
                            raise ExprCompileError("invert must be a literal")
                        invert = bool(value.value)
                        continue
                    if not isinstance(value, ast.Constant):
                        raise ExprCompileError(
                            f"{node.func.id} base values must be literals"
                        )
                    base[name] = value.value
                tmp = f"_ratio_tmp_{len(calls)}"
                calls.append(
                    (
                        tmp,
                        {
                            "func": node.func.id,
                            "value": node.args[0].value,
                            "base": base,
                            "invert": invert,
                        },
                    )
                )
                return ast.copy_location(
                    ast.Subscript(
                        value=ast.Name(id="row", ctx=ast.Load()),
                        slice=ast.Constant(value=tmp),
                        ctx=ast.Load(),
                    ),
                    node,
                )
            return node

    new_tree = Rewriter().visit(tree)
    ast.fix_missing_locations(new_tree)
    return ast.unparse(new_tree), calls


class SparkExprCompiler:
    """Walk a parsed Python expression, emitting a Column.

    `df` provides the schema for type-directed choices (len → size vs
    length, truthiness, fillna). Both `row[...]` and `df[...]` resolve
    to F.col — row-wise vs frame-wise is a distinction without a
    difference once everything is a columnar expression.
    """

    def __init__(self, df: DataFrame, env: dict | None = None):
        self.df = df
        self.env = env or {}
        # track static type info for compiled sub-expressions where known
        self._types: dict[int, str] = {}

    # -- helpers ------------------------------------------------------

    def _dtype_of(self, name: str):
        try:
            return self.df.schema[name].dataType
        except KeyError:
            return None

    def _mark(self, col: Column, kind: str) -> Column:
        self._types[id(col)] = kind
        return col

    def _kind(self, col: Column) -> str | None:
        return self._types.get(id(col))

    def truthy(self, node: ast.expr, col) -> Column:
        if not isinstance(col, Column):
            return F.lit(bool(col))
        # already-boolean expressions (comparisons, and/or, not): the
        # column IS the truth value — casting it to string would make
        # 'false' truthy (non-empty string).  NULL → False matches the
        # row-wise python reference (bool(None) is False).
        if self._is_boolish(node):
            return F.coalesce(col, F.lit(False))
        kind = None
        if isinstance(node, ast.Subscript) and isinstance(node.slice, ast.Constant):
            dt = self._dtype_of(node.slice.value)
            if isinstance(dt, BooleanType):
                kind = "bool"
            elif isinstance(dt, StringType):
                kind = "str"
            elif isinstance(dt, NumericType):
                kind = "num"
        if kind == "bool":
            return F.coalesce(col, F.lit(False))
        if kind == "str":
            return col.isNotNull() & (col != "")
        if kind == "num":
            return col.isNotNull() & (col != 0)
        # unknown: non-null and not empty-string/zero via string form
        s = col.cast("string")
        return col.isNotNull() & (s != "") & (s != "0") & (s != "0.0")

    # -- dispatch -----------------------------------------------------

    def compile(self, expr: str) -> Column:
        try:
            tree = ast.parse(expr, mode="eval")
        except SyntaxError as e:
            raise ExprCompileError(f"cannot parse {expr!r}: {e}") from e
        out = self.visit(tree.body)
        if isinstance(out, tuple):
            # P5 (aggregate.py:500-506): the reference's general
            # (df, origin_col) merge-back form. Every shipped use is the
            # ratio_of family, which the engine extracts and joins
            # natively (engine/core.py); a hand-rolled tuple return has
            # no batch-safe Spark translation — reject it loudly.
            raise ExprCompileError(
                "tuple-returning precompute (df, origin_col) is not "
                "supported; use the ratio_of/percent_of family, which "
                "the engine merges back as a native join"
            )
        if _is_pandas(out):
            raise ExprCompileError(
                "precompute evaluated to a whole lookup table — index it "
                "(e.g. read_csv_fd('t.csv').set_index('k')['v'][row['c']])"
            )
        return out if isinstance(out, Column) else F.lit(out)

    def visit(self, node: ast.expr):
        meth = getattr(self, f"visit_{type(node).__name__}", None)
        if meth is None:
            raise ExprCompileError(
                f"unsupported syntax {type(node).__name__} in precompute"
            )
        return meth(node)

    # -- leaves -------------------------------------------------------

    def visit_Constant(self, node: ast.Constant):
        return node.value

    def visit_Name(self, node: ast.Name):
        if node.id in self.env:
            return self.env[node.id]
        raise ExprCompileError(f"unknown name {node.id!r}")

    def visit_List(self, node: ast.List):
        return [self.visit(e) for e in node.elts]

    def visit_Tuple(self, node: ast.Tuple):
        return tuple(self.visit(e) for e in node.elts)

    def visit_Subscript(self, node: ast.Subscript):
        # row['col'] / df['col']
        if (
            isinstance(node.value, ast.Name)
            and node.value.id in ("row", "df")
            and isinstance(node.slice, ast.Constant)
            and isinstance(node.slice.value, str)
        ):
            # backtick-quote: packed/renamed recipe columns may contain
            # dots (SVM.fit) which bare F.col parses as a struct path
            from bearysta_spark.colnames import qcol

            return qcol(node.slice.value)
        base = self.visit(node.value)
        if isinstance(node.slice, ast.Slice):
            lo = self.visit(node.slice.lower) if node.slice.lower else None
            hi = self.visit(node.slice.upper) if node.slice.upper else None
            return self._slice(base, lo, hi)
        idx = self.visit(node.slice)
        if isinstance(base, dict) or _is_pandas(base):
            # compile-time lookup table (read_csv_fd result): constant
            # index folds now; a Column index becomes a literal-map
            # lookup that runs inside codegen
            if isinstance(idx, Column):
                return self._map_lookup(base, idx)
            try:
                return base[idx]
            except (KeyError, IndexError) as e:
                raise ExprCompileError(f"lookup-table index {idx!r} not found") from e
        if not isinstance(idx, int):
            raise ExprCompileError("only integer indexing is supported")
        return self._index(base, idx)

    def _map_lookup(self, obj, key: Column) -> Column:
        if _is_pandas(obj):
            if getattr(obj, "ndim", 1) != 1:
                raise ExprCompileError(
                    "Column lookup needs a Series or dict — e.g. "
                    "read_csv_fd('t.csv').set_index('k')['v']"
                )
            obj = obj.to_dict()
        pairs: list[Column] = []
        for k, v in obj.items():
            pairs += [F.lit(k), F.lit(v)]
        if not pairs:
            return F.lit(None)
        # missing key → NULL (Spark map semantics; pandas would raise —
        # recipes pair this with .fillna when absence is expected)
        return F.element_at(F.create_map(*pairs), key)

    def _as_array(self, base) -> Column:
        if isinstance(base, (list, tuple)):
            parts = [p if isinstance(p, Column) else F.lit(p) for p in base]
            return F.array(*parts)
        if isinstance(base, Column):
            return base
        raise ExprCompileError(f"cannot index into {type(base).__name__}")

    def _index(self, base, idx: int) -> Column:
        arr = self._as_array(base)
        # python [i] → 1-based element_at; element_at supports negatives.
        # Out-of-range: pandas raises, Spark yields NULL (documented).
        return F.element_at(arr, idx + 1 if idx >= 0 else idx)

    def _slice(self, base, lo, hi) -> Column:
        arr = self._as_array(base)
        if lo is None and hi is None:
            return arr
        n = F.size(arr)
        lo = 0 if lo is None else lo
        start = F.lit(lo + 1) if lo >= 0 else F.greatest(n + F.lit(lo + 1), F.lit(1))
        if hi is None:
            length = F.greatest(n - start + 1, F.lit(0))
        else:
            stop = F.lit(hi) if hi >= 0 else n + F.lit(hi)  # exclusive, 0-based count
            length = F.greatest(stop - start + F.lit(1), F.lit(0))
        return F.slice(arr, start, length)

    # -- operators ----------------------------------------------------

    _BINOPS = {
        ast.Add: lambda a, b: a + b,
        ast.Sub: lambda a, b: a - b,
        ast.Mult: lambda a, b: a * b,
        ast.Div: lambda a, b: a / b,
        ast.FloorDiv: lambda a, b: F.floor(a / b),
        ast.Mod: lambda a, b: a % b,
        ast.Pow: lambda a, b: a**b,
    }

    def visit_BinOp(self, node: ast.BinOp):
        a, b = self.visit(node.left), self.visit(node.right)
        if isinstance(node.op, ast.Add) and (
            isinstance(a, list) or isinstance(b, list)
        ):
            # list concat, e.g. split(...)[-3:-2] + ['Unknown']
            aa = self._as_array(a) if not isinstance(a, Column) else a
            bb = self._as_array(b) if not isinstance(b, Column) else b
            return F.concat(aa, bb)
        op = self._BINOPS.get(type(node.op))
        if op is None:
            raise ExprCompileError(f"unsupported operator {type(node.op).__name__}")
        return op(a, b)

    def visit_UnaryOp(self, node: ast.UnaryOp):
        v = self.visit(node.operand)
        if isinstance(node.op, ast.USub):
            return -v
        if isinstance(node.op, ast.UAdd):
            return v
        if isinstance(node.op, ast.Not):
            if isinstance(v, Column) and self._is_boolish(node.operand):
                # operand is already boolean: negate directly.  NULL (a
                # comparison over NaN) negates to True, matching pandas
                # where NaN-comparisons yield False and `not False` → True.
                return F.coalesce(~v, F.lit(True))
            return ~self.truthy(node.operand, v)
        raise ExprCompileError("unsupported unary operator")

    def visit_BoolOp(self, node: ast.BoolOp):
        vals = [
            (sub, self.visit(sub)) for sub in node.values
        ]
        cols = [
            v if isinstance(v, Column) and self._is_boolish(s) else self.truthy(s, v)
            for s, v in vals
        ]
        out = cols[0]
        for c in cols[1:]:
            out = (out & c) if isinstance(node.op, ast.And) else (out | c)
        return out

    @staticmethod
    def _is_boolish(node: ast.expr) -> bool:
        # NB: only `not` among the unary ops yields a boolean — `-x`
        # must NOT be treated as boolish or `&`/`~` would apply bitwise
        # semantics to a numeric column.
        return isinstance(node, (ast.Compare, ast.BoolOp)) or (
            isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.Not)
        )

    def _static_dtype(self, node: ast.expr):
        if (
            isinstance(node, ast.Subscript)
            and isinstance(node.slice, ast.Constant)
            and isinstance(node.slice.value, str)
        ):
            return self._dtype_of(node.slice.value)
        return None

    def _mixed_eq(self, col: Column, col_dt, v) -> Column | None:
        """Cross-type equality with the reference's semantics, ANSI-safe.

        Spark ANSI casts the literal to the column type and THROWS on
        'Serial' vs a bigint column; pandas (read_csv object columns
        hold per-cell parsed values) yields plain False for number-vs-
        word and True for '1'-cell vs 1. Returns None when the default
        typed comparison is already correct."""
        if isinstance(col_dt, NumericType) and isinstance(v, str):
            # numeric column never equals a non-numeric word; a numeric
            # string literal compares through its parsed value
            try:
                return col == F.lit(float(v))
            except ValueError:
                return F.lit(False)
        if (
            isinstance(col_dt, StringType)
            and isinstance(v, (int, float))
            and not isinstance(v, bool)
        ):
            # string column kept mixed content ('Serial', '8'): compare
            # numerically where the cell parses, never equal otherwise
            return col.try_cast("double") == F.lit(float(v))
        return None

    def visit_Compare(self, node: ast.Compare):
        if len(node.ops) != 1:
            raise ExprCompileError("chained comparisons unsupported")
        a = self.visit(node.left)
        b = self.visit(node.comparators[0])
        op = node.ops[0]
        a_col = a if isinstance(a, Column) else F.lit(a)
        a_dt = self._static_dtype(node.left)
        if _is_pandas(b):
            b = b.tolist() if hasattr(b, "tolist") else list(b)
        elif isinstance(b, dict):
            b = list(b)  # python `in dict` checks keys
        if isinstance(op, (ast.In, ast.NotIn)):
            vals = list(b) if isinstance(b, (list, tuple)) else [b]
            hits = []
            direct = []
            for v in vals:
                mixed = (
                    self._mixed_eq(a_col, a_dt, v)
                    if not isinstance(v, Column)
                    else None
                )
                if mixed is not None:
                    hits.append(mixed)
                else:
                    direct.append(v)
            if direct:
                hits.append(a_col.isin(direct))
            out = hits[0] if hits else F.lit(False)
            for h in hits[1:]:
                out = out | h
            if isinstance(op, ast.In):
                return F.coalesce(out, F.lit(False))
            return F.coalesce(~out, F.lit(True))
        if isinstance(op, (ast.Eq, ast.NotEq)) and not isinstance(b, Column):
            mixed = self._mixed_eq(a_col, a_dt, b)
            if mixed is not None:
                if isinstance(op, ast.Eq):
                    return F.coalesce(mixed, F.lit(False))
                return F.coalesce(~mixed, F.lit(True))
        if isinstance(op, (ast.Eq, ast.NotEq)) and not isinstance(a, Column) and isinstance(b, Column):
            # literal == row['col'] (mirrored operands)
            mixed = self._mixed_eq(b, self._static_dtype(node.comparators[0]), a)
            if mixed is not None:
                if isinstance(op, ast.Eq):
                    return F.coalesce(mixed, F.lit(False))
                return F.coalesce(~mixed, F.lit(True))
        b_col = b if isinstance(b, Column) else F.lit(b)
        if isinstance(op, ast.Eq):
            # pandas: NaN == x → False
            return F.coalesce(a_col == b_col, F.lit(False))
        if isinstance(op, ast.NotEq):
            # pandas: NaN != x → True
            return F.coalesce(a_col != b_col, F.lit(True))
        cmap = {ast.Lt: "__lt__", ast.LtE: "__le__", ast.Gt: "__gt__", ast.GtE: "__ge__"}
        if type(op) in cmap:
            return getattr(a_col, cmap[type(op)])(b_col)
        raise ExprCompileError(f"unsupported comparison {type(op).__name__}")

    def visit_IfExp(self, node: ast.IfExp):
        test = self.visit(node.test)
        cond = (
            test
            if isinstance(test, Column) and self._is_boolish(node.test)
            else self.truthy(node.test, test)
        )
        a = self.visit(node.body)
        b = self.visit(node.orelse)
        a = a if isinstance(a, Column) else F.lit(a)
        b = b if isinstance(b, Column) else F.lit(b)
        return F.when(cond, a).otherwise(b)

    def visit_Lambda(self, node: ast.Lambda):
        raise ExprCompileError("bare lambda (only immediately-invoked supported)")

    # -- calls --------------------------------------------------------

    def visit_Call(self, node: ast.Call):
        # immediately-invoked lambda: (lambda p: EXPR)(ARG)
        if isinstance(node.func, ast.Lambda):
            lam = node.func
            if len(lam.args.args) != len(node.args):
                raise ExprCompileError("lambda arg count mismatch")
            inner_env = dict(self.env)
            for arg, val in zip(lam.args.args, node.args):
                inner_env[arg.arg] = self.visit(val)
            inner = SparkExprCompiler(self.df, inner_env)
            out = inner.visit(lam.body)
            return out

        if isinstance(node.func, ast.Name):
            return self._call_builtin(node)

        if isinstance(node.func, ast.Attribute):
            return self._call_method(node)

        raise ExprCompileError("unsupported call")

    def _call_builtin(self, node: ast.Call):
        name = node.func.id
        args = [self.visit(a) for a in node.args]

        def col0():
            return args[0] if isinstance(args[0], Column) else F.lit(args[0])

        if name == "int":
            return col0().cast("long")
        if name == "float":
            return col0().cast("double")
        if name == "str":
            return col0().cast("string")
        if name == "abs":
            return F.abs(col0())
        if name == "round":
            return F.round(col0(), args[1] if len(args) > 1 else 0)
        if name == "len":
            a = args[0]
            if isinstance(a, list):
                return F.size(self._as_array(a))
            c = col0()
            # arrays → size, strings → length (type-directed when possible)
            if isinstance(a, Column):
                for f in self.df.schema.fields:
                    if isinstance(f.dataType, ArrayType) and repr(F.col(f.name)) == repr(a):
                        return F.size(c)
            return F.size(c) if self._returns_array(node.args[0]) else F.length(c)
        if name in ("min", "max"):
            cols = [x if isinstance(x, Column) else F.lit(x) for x in args]
            return F.least(*cols) if name == "min" else F.greatest(*cols)
        if name == "read_csv_fd":
            # S9 (aggregate.py:287-293,483): cached lookup-CSV accessor.
            # Path must be a literal — the table folds into the plan.
            if any(isinstance(a, Column) for a in args):
                raise ExprCompileError("read_csv_fd path must be a literal")
            reader = self.env.get("read_csv_fd", read_csv_cached)
            kwargs = {kw.arg: self.visit(kw.value) for kw in node.keywords}
            return reader(*args, **kwargs)
        if name == "list" and len(args) == 1 and not isinstance(args[0], Column):
            return list(args[0])
        if name in RATIO_FUNCS:
            raise ExprCompileError(
                f"{name} must be extracted via extract_ratio_calls before compile"
            )
        raise ExprCompileError(f"unsupported function {name!r}")

    def _returns_array(self, node: ast.expr) -> bool:
        """Static check: does this sub-expression produce an array?"""
        if isinstance(node, (ast.List, ast.Tuple)):
            return True
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            if node.func.attr == "split":
                return True
        if isinstance(node, ast.BinOp) and isinstance(node.op, ast.Add):
            return self._returns_array(node.left) or self._returns_array(node.right)
        if isinstance(node, ast.Subscript) and isinstance(node.slice, ast.Slice):
            return True
        if isinstance(node, ast.Subscript) and isinstance(node.slice, ast.Constant) and isinstance(node.slice.value, str):
            dt = self._dtype_of(node.slice.value)
            return isinstance(dt, ArrayType)
        return False

    _NP_FUNCS = {
        "max": F.greatest,
        "maximum": F.greatest,
        "min": F.least,
        "minimum": F.least,
        "abs": F.abs,
        "log": F.log,
        "log10": F.log10,
        "exp": F.exp,
        "sqrt": F.sqrt,
    }

    def _call_method(self, node: ast.Call):
        attr = node.func.attr

        # np.max(df['Ratio'], 0.01) family
        if isinstance(node.func.value, ast.Name) and node.func.value.id == "np":
            if attr not in self._NP_FUNCS:
                raise ExprCompileError(f"unsupported np.{attr}")
            args = [
                a if isinstance(a, Column) else F.lit(a)
                for a in (self.visit(x) for x in node.args)
            ]
            return self._NP_FUNCS[attr](*args)

        recv = self.visit(node.func.value)
        args = [self.visit(a) for a in node.args]
        kwargs = {kw.arg: self.visit(kw.value) for kw in node.keywords}

        if _is_pandas(recv):
            # lookup-table shaping on a read_csv_fd result — pure
            # compile-time pandas, folded before the plan is built
            allowed = {"set_index", "to_dict", "get", "tolist", "to_list", "astype", "dropna", "unique"}
            if attr not in allowed:
                raise ExprCompileError(
                    f"unsupported method .{attr}() on a lookup table "
                    f"(supported: {', '.join(sorted(allowed))})"
                )
            if any(isinstance(a, Column) for a in args) or any(
                isinstance(v, Column) for v in kwargs.values()
            ):
                raise ExprCompileError("lookup-table methods take literal args")
            return getattr(recv, attr)(*args, **kwargs)

        if attr == "format":
            if not isinstance(recv, str):
                raise ExprCompileError(".format receiver must be a literal string")
            if re.search(r"\{[^}]+\}", recv):
                raise ExprCompileError("only positional '{}' format fields supported")
            fmt = recv.replace("%", "%%").replace("{}", "%s")
            cols = [a if isinstance(a, Column) else F.lit(a) for a in args]
            return F.format_string(fmt, *cols)

        recv_col = recv if isinstance(recv, Column) else F.lit(recv)
        if attr == "split":
            sep = args[0] if args else None
            if sep is None:
                return F.split(F.trim(recv_col), r"\s+")
            return F.split(recv_col, re.escape(sep))
        if attr == "fillna":
            v = kwargs.get("value", args[0] if args else None)
            vc = v if isinstance(v, Column) else F.lit(v)
            if self._maybe_numeric(node.func.value):
                # pandas fillna fills both null and float NaN; a string
                # fill value turns the column into object dtype → here,
                # the surviving numbers render via str() (cast to string)
                missing = recv_col.isNull() | F.isnan(recv_col.cast("double"))
                kept = recv_col.cast("string") if isinstance(v, str) else recv_col
                return F.when(missing, vc).otherwise(kept)
            return F.coalesce(recv_col, vc)
        if attr == "lower":
            return F.lower(recv_col)
        if attr == "upper":
            return F.upper(recv_col)
        if attr == "strip":
            return F.trim(recv_col)
        if attr == "capitalize":
            s = recv_col.cast("string")
            return F.concat(
                F.upper(F.substring(s, 1, 1)),
                F.lower(s.substr(F.lit(2), F.length(s))),
            )
        if attr == "startswith":
            return recv_col.startswith(args[0])
        if attr == "endswith":
            return recv_col.endswith(args[0])
        if attr == "replace":
            return F.replace(recv_col, F.lit(args[0]), F.lit(args[1]))
        raise ExprCompileError(f"unsupported method .{attr}()")

    def _maybe_numeric(self, node: ast.expr) -> bool:
        if isinstance(node, ast.Subscript) and isinstance(node.slice, ast.Constant):
            dt = self._dtype_of(node.slice.value)
            return isinstance(dt, NumericType)
        return False


def compile_expr(df: DataFrame, expr: str, env: dict | None = None) -> Column:
    """Compile one precompute expression string against df's schema."""
    if not isinstance(expr, str):
        return F.lit(expr)
    return SparkExprCompiler(df, env).compile(expr)
