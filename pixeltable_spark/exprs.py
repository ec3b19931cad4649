"""Expression tree + Expr -> pyspark.sql.Column compiler.

This is the engine's single highest-leverage component (SURVEY §7.2): the
analog of the reference's ``exprs/`` package (reference pixeltable/exprs/,
6,246 LoC — expr.py, arithmetic_expr.py:17, comparison.py:19,
compound_predicate.py:17, in_predicate.py:16, is_null.py:16, type_cast.py:13,
json_path.py:22-140, inline_expr.py:18,100,139, method_ref.py:14,
function_call.py) re-designed for Spark:

* every Expr compiles to a ``pyspark.sql.Column`` via :meth:`Expr.to_column`
  whenever the semantics are expressible in Catalyst (the analog of the
  reference's ``Expr.sql_expr`` / SqlElementCache split,
  reference exprs/sql_element_cache.py:9-40) — those run JVM-side inside
  WholeStageCodegen, fully vectorized, with predicate pushdown for free;
* anything not expressible (arbitrary Python ``apply``, Python UDFs) falls
  back to an Arrow-batched pandas UDF over exactly the input columns the
  subtree needs — never row-at-a-time Python.

At 100 TB scale this split is the whole ballgame: the compiled path keeps
filters/projections inside the parquet scan and codegen; the fallback path
is Arrow-vectorized and only ships the referenced columns.
"""

from __future__ import annotations

import datetime
import json as _json
from typing import Any, Callable, Iterable, Optional, Sequence

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .type_system import ArrayType, ColumnType, TypeKind


class CompileCtx:
    """Resolution context handed to to_column(): maps a ColumnRef to the
    concrete Column of the bound DataFrame (qualified when joining)."""

    def __init__(self, resolve: Optional[Callable[["ColumnRef"], Column]] = None):
        self._resolve = resolve

    def col(self, ref: "ColumnRef") -> Column:
        if self._resolve is not None:
            return self._resolve(ref)
        return F.col(ref.name)


_DEFAULT_CTX = CompileCtx()


class Expr:
    """Base expression node (reference exprs/expr.py)."""

    def __init__(self, col_type: ColumnType, components: Sequence["Expr"] = ()):
        self.col_type = col_type
        self.components: list[Expr] = list(components)

    # -- compilation -------------------------------------------------------
    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        """Spark Column for this expr, or None if not Catalyst-expressible."""
        raise NotImplementedError

    def eval_py(self, row: dict) -> Any:
        """Python fallback evaluation against a dict row (pandas UDF path)."""
        raise NotImplementedError(f"{type(self).__name__} has no Python fallback")

    def compile(self, ctx: Optional[CompileCtx] = None) -> Column:
        """Column for this expr, falling back to a pandas UDF when needed."""
        ctx = ctx or _DEFAULT_CTX
        col = self.to_column(ctx)
        if col is not None:
            return col
        return compile_via_pandas_udf(self, ctx)

    # -- traversal ---------------------------------------------------------
    def column_refs(self) -> list["ColumnRef"]:
        out: list[ColumnRef] = []
        seen: set[str] = set()

        def walk(e: Expr) -> None:
            if isinstance(e, ColumnRef):
                if e.name not in seen:
                    seen.add(e.name)
                    out.append(e)
            for c in e.components:
                walk(c)

        walk(self)
        return out

    def is_agg(self) -> bool:
        if isinstance(self, FunctionCall) and self.fn.is_agg and not self.is_window():
            return True
        return any(c.is_agg() for c in self.components)

    def has_window(self) -> bool:
        if isinstance(self, FunctionCall) and self.is_window():
            return True
        return any(c.has_window() for c in self.components)

    # -- serialization (reference exprs/expr.py as_dict/from_dict: every
    # expr round-trips through a JSON dict so queries can be persisted;
    # registered functions serialize by name, arbitrary callables refuse
    # loudly — same constraint as the reference's FunctionRegistry) -----
    def as_dict(self) -> dict:
        d: dict = {"_classname": type(self).__name__,
                   "col_type": self.col_type.as_dict(),
                   "components": [c.as_dict() for c in self.components],
                   "attrs": {}}
        for k, v in self.__dict__.items():
            if k in ("col_type", "components") or k == "tbl":
                continue  # tbl rebinds at from_dict time
            d["attrs"][k] = _attr_to_dict(type(self).__name__, k, v)
        return d

    @classmethod
    def from_dict(cls, d: dict, tbl: Any = None) -> "Expr":
        sub = _expr_class(d["_classname"])
        obj = sub.__new__(sub)
        obj.col_type = ColumnType.from_dict(d["col_type"])
        obj.components = [Expr.from_dict(c, tbl) for c in d["components"]]
        for k, spec in d["attrs"].items():
            setattr(obj, k, _attr_from_dict(spec, tbl))
        if isinstance(obj, ColumnRef):
            obj.tbl = tbl
        return obj

    # -- operator overloads (build the tree) -------------------------------
    def __add__(self, o):  return _arith("+", self, o)
    def __radd__(self, o): return _arith("+", o, self)
    def __sub__(self, o):  return _arith("-", self, o)
    def __rsub__(self, o): return _arith("-", o, self)
    def __mul__(self, o):  return _arith("*", self, o)
    def __rmul__(self, o): return _arith("*", o, self)
    def __truediv__(self, o):  return _arith("/", self, o)
    def __rtruediv__(self, o): return _arith("/", o, self)
    def __mod__(self, o):  return _arith("%", self, o)
    def __rmod__(self, o): return _arith("%", o, self)
    def __floordiv__(self, o):  return _arith("//", self, o)
    def __rfloordiv__(self, o): return _arith("//", o, self)
    def __pow__(self, o):  return _arith("**", self, o)
    def __rpow__(self, o): return _arith("**", o, self)
    # -x as -1*x (not 0-x, which maps float -0.0 to +0.0)
    def __neg__(self): return _arith("*", Literal(-1), self)

    def __eq__(self, o):  # type: ignore[override]
        if o is None:
            return IsNull(self)
        return Comparison("==", self, to_expr(o))

    def __ne__(self, o):  # type: ignore[override]
        if o is None:
            return CompoundPredicate("not", [IsNull(self)])
        return Comparison("!=", self, to_expr(o))

    def __lt__(self, o): return Comparison("<", self, to_expr(o))
    def __le__(self, o): return Comparison("<=", self, to_expr(o))
    def __gt__(self, o): return Comparison(">", self, to_expr(o))
    def __ge__(self, o): return Comparison(">=", self, to_expr(o))

    def __rshift__(self, o):
        # JsonMapper sugar: t.c7 >> (R.f2 * 2) maps over a JSON list
        # (reference exprs/json_mapper.py:20-60)
        return JsonMapperExpr(self, to_expr(o))

    def __and__(self, o):  return CompoundPredicate("and", [self, to_expr(o)])
    def __rand__(self, o): return CompoundPredicate("and", [to_expr(o), self])
    def __or__(self, o):   return CompoundPredicate("or", [self, to_expr(o)])
    def __ror__(self, o):  return CompoundPredicate("or", [to_expr(o), self])
    def __invert__(self):  return CompoundPredicate("not", [self])

    def __hash__(self):
        return id(self)

    # -- method-style sugar --------------------------------------------------
    def isin(self, values) -> "InPredicate":
        return InPredicate(self, values)

    def astype(self, t: ColumnType) -> "TypeCast":
        return TypeCast(self, t)

    def apply(self, fn: Callable, col_type: Optional[ColumnType] = None) -> "AppliedExpr":
        return AppliedExpr(self, fn, col_type or ColumnType.json())

    def alias(self, name: str) -> "AliasedExpr":
        return AliasedExpr(self, name)

    def is_null(self) -> "IsNull":
        return IsNull(self)

    def between(self, lo, hi) -> "CompoundPredicate":
        return (self >= lo) & (self <= hi)

    def __getitem__(self, item) -> "Expr":
        if self.col_type.is_json:
            return JsonPath(self, [item])
        if self.col_type.kind == TypeKind.ARRAY:
            return ArraySlice(self, item)
        if self.col_type.is_string:
            from .functions import string as _s
            if isinstance(item, slice):
                return _s.slice_(self, item.start, item.stop)
            raise TypeError("string subscript must be a slice")
        return JsonPath(self, [item])

    def __getattr__(self, name: str) -> "Expr":
        # JSON path navigation sugar: t.c6.f1 (reference exprs/json_path.py:22)
        if name.startswith("_") or name in ("col_type", "components"):
            raise AttributeError(name)
        ct = self.__dict__.get("col_type")
        if ct is not None and ct.is_json:
            # json path navigation takes precedence on json-typed columns
            return JsonPath(self, [name])
        # ColumnPropertyRef sugar (reference exprs/column_property_ref.py:
        # 18-31): per-cell metadata of computed/media columns
        if isinstance(self, ColumnRef) and name in ("errortype", "errormsg"):
            if self.tbl is not None and hasattr(self.tbl, "_schema") \
                    and f"_cellmd_{self.name}" not in self.tbl._schema:
                raise AttributeError(
                    f"column {self.name!r} has no cell metadata — only "
                    f"computed columns created with on_error='ignore' carry "
                    f".errortype/.errormsg")
            return ColumnRef(f"_cellmd_{self.name}.{name}",
                             ColumnType.string(), tbl=None)
        if isinstance(self, ColumnRef) and name in ("fileurl", "localpath"):
            # media is by-reference: the cell value IS the url/path
            return ColumnRef(self.name, ColumnType.string(), tbl=self.tbl)
        if isinstance(self, ColumnRef) and name == "cellmd":
            from pyspark.sql import functions as _F
            cm = f"_cellmd_{self.name}"
            fn = Function("cellmd", ColumnType.json(),
                          spark_fn=lambda c: _F.to_json(c))
            return fn(ColumnRef(cm, ColumnType.json(), tbl=None))
        # method-style sugar only for registered methods — everything else
        # must raise so getattr(expr, x, default) behaves normally
        if ct is not None:
            from . import functions as _fns
            if _fns.lookup_method(ct, name) is not None:
                return MethodRef(self, name)
        raise AttributeError(name)


def to_expr(v: Any) -> Expr:
    return v if isinstance(v, Expr) else Literal(v)


def _arith(op: str, a, b) -> "ArithmeticExpr":
    a, b = to_expr(a), to_expr(b)
    if op == "+" and (a.col_type.is_string or b.col_type.is_string):
        return StringOp("+", a, b)  # type: ignore[return-value]
    if op == "*" and a.col_type.is_string:
        return StringOp("*", a, b)  # type: ignore[return-value]
    return ArithmeticExpr(op, a, b)


# ---------------------------------------------------------------------------
# Leaf nodes
# ---------------------------------------------------------------------------


class ColumnRef(Expr):
    """Reference to a table column (reference exprs/column_ref.py)."""

    def __init__(self, name: str, col_type: ColumnType, tbl: Any = None):
        super().__init__(col_type)
        self.name = name
        self.tbl = tbl  # owning TableRef (for join disambiguation)

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        return ctx.col(self)

    def eval_py(self, row: dict) -> Any:
        return row[self.name]

    def __getstate__(self):
        # the owning TableRef holds a DataFrame -> SparkContext, which must
        # never ride along into a pickled UDF closure (SPARK-5063)
        st = self.__dict__.copy()
        st["tbl"] = None
        return st

    def as_dict(self) -> dict:
        # qualify with the owning catalog table's name so a deserialized
        # multi-table query rebinds same-named columns correctly
        d = super().as_dict()
        ct = getattr(self.tbl, "_catalog_tbl", None) \
            if self.tbl is not None else None
        if ct is not None:
            d["attrs"]["tbl_name"] = {"_value": ct.name}
        return d

    def similarity(self, item: Any = None, *, string: Optional[str] = None,
                   vector: Any = None, idx: Optional[str] = None,
                   **modal: Any) -> "SimilarityExpr":
        """Similarity score between this indexed column and a constant
        query (reference exprs/column_ref.py:195 ColumnRef.similarity).
        Requires an embedding index on this column
        (Table.add_embedding_index). Exactly one of `string`/`vector`
        (or a modality kwarg: image/audio/video/document, all path-like
        here) identifies the query; `idx` disambiguates when the column
        carries several indexes. The score follows the index's metric."""
        tbl = self.tbl
        cat_tbl = getattr(tbl, "_catalog_tbl", None) if tbl is not None \
            else None
        if cat_tbl is None:
            raise ValueError(
                "similarity() requires a column of a catalog table with "
                "an embedding index (see Table.add_embedding_index)")
        cands = [ix for ix in cat_tbl._indexes.values()
                 if ix.column == self.name]
        if idx is not None:
            cands = [ix for ix in cands if ix.name == idx]
        if not cands:
            raise ValueError(
                f"column {self.name!r} has no embedding index"
                + (f" named {idx!r}" if idx else ""))
        if len(cands) > 1:
            raise ValueError(
                f"column {self.name!r} has {len(cands)} embedding "
                "indexes; disambiguate with idx=<name>")
        ix = cands[0]
        queries = [q for q in
                   (item, string, vector, *modal.values()) if q is not None]
        if len(queries) != 1:
            raise ValueError(
                "similarity() takes exactly one query (string=, vector=, "
                "or a modality kwarg)")
        q = queries[0]
        if vector is not None or isinstance(q, (list, tuple)) \
                or hasattr(q, "tolist"):
            qvec = [float(x) for x in
                    (q.tolist() if hasattr(q, "tolist") else q)]
        else:
            embed = ix.embed_fn
            if embed is None:
                raise ValueError(
                    f"index on {self.name!r} has no embedding function; "
                    "pass vector= instead")
            qvec = [float(x) for x in embed(q)]
        cc = cat_tbl.computed.get(ix.embed_col)
        embed_type = cc.col_type if cc is not None \
            else ArrayType(ColumnType.float_())
        embed_ref = ColumnRef(ix.embed_col, embed_type, tbl=tbl)
        return SimilarityExpr(embed_ref, qvec,
                              metric=ix.metric)

    def __repr__(self):
        return f"ColumnRef({self.name})"


class SimilarityExpr(Expr):
    """Similarity score between an indexed column and a constant query
    (reference exprs/similarity_expr.py, index/embedding_index.py:270-295
    similarity_clause). Higher = more similar for cosine/ip; l2 is a
    distance (lower = nearer), matching pgvector's operator semantics:
    cosine -> 1 - cosine_distance, ip -> inner product, l2 -> euclidean.

    Compiles to pure-JVM array math (zip_with + aggregate) over the
    index's embedding computed column with the query vector inlined as a
    literal array — ordering by it with a limit is a
    TakeOrderedAndProject, no shuffle, no Python."""

    def __init__(self, embed_ref: "ColumnRef", qvec: Sequence[float],
                 metric: str = "cosine"):
        if metric not in ("cosine", "ip", "l2"):
            raise ValueError(f"unknown similarity metric {metric!r}")
        super().__init__(ColumnType.float_(), [embed_ref])
        self.qvec = [float(x) for x in qvec]
        self.metric = metric

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        a = self.components[0].to_column(ctx)
        if a is None:
            return None
        q = F.array(*[F.lit(x) for x in self.qvec])
        if self.metric == "l2":
            sq = F.aggregate(
                F.zip_with(a, q, lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda acc, v: acc + v)
            return F.sqrt(sq)
        dot = F.aggregate(F.zip_with(a, q, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, v: acc + v)
        if self.metric == "ip":
            return dot
        import math
        nq = math.sqrt(sum(x * x for x in self.qvec))
        na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
        denom = na * F.lit(nq)
        # ANSI-safe: zero-norm vectors score 0.0 instead of dividing by 0
        return F.when(denom > F.lit(0.0), dot / denom).otherwise(F.lit(0.0))

    def eval_py(self, row: dict) -> Any:
        import math
        a = self.components[0].eval_py(row)
        if a is None:
            return None
        a = [float(x) for x in a]
        q = self.qvec
        if self.metric == "l2":
            return math.sqrt(sum((x - y) ** 2 for x, y in zip(a, q)))
        dot = sum(x * y for x, y in zip(a, q))
        if self.metric == "ip":
            return dot
        denom = math.sqrt(sum(x * x for x in a)) \
            * math.sqrt(sum(x * x for x in q))
        return dot / denom if denom > 0 else 0.0

    def __repr__(self):
        return (f"similarity({self.components[0]!r}, "
                f"dim={len(self.qvec)}, metric={self.metric!r})")


class Literal(Expr):
    """Constant (reference exprs/literal.py)."""

    def __init__(self, val: Any, col_type: Optional[ColumnType] = None):
        super().__init__(col_type or ColumnType.infer_literal(val))
        self.val = val

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        v = self.val
        if isinstance(v, (list, tuple)):
            return F.array(*[F.lit(x) for x in v])
        if isinstance(v, dict):
            return F.lit(_json.dumps(v))
        return F.lit(v)

    def eval_py(self, row: dict) -> Any:
        return self.val

    def __repr__(self):
        return f"Literal({self.val!r})"


class Variable(Expr):
    """Named query-template parameter (reference exprs/variable.py:15).
    Bound to a literal at call time by QueryTemplate."""

    def __init__(self, name: str, col_type: ColumnType):
        super().__init__(col_type)
        self.name = name

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        raise RuntimeError(f"unbound query parameter: {self.name}")


# ---------------------------------------------------------------------------
# Operators
# ---------------------------------------------------------------------------

_CMP_PY = {
    "==": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}


class Comparison(Expr):
    """== != < <= > >= (reference exprs/comparison.py:19)."""

    def __init__(self, op: str, a: Expr, b: Expr):
        super().__init__(ColumnType.bool_(), [a, b])
        self.op = op

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        a = self.components[0].to_column(ctx)
        b = self.components[1].to_column(ctx)
        if a is None or b is None:
            return None
        return {
            "==": a == b, "!=": a != b, "<": a < b,
            "<=": a <= b, ">": a > b, ">=": a >= b,
        }[self.op]

    def eval_py(self, row: dict) -> Any:
        a = self.components[0].eval_py(row)
        b = self.components[1].eval_py(row)
        if a is None or b is None:
            return None
        return _CMP_PY[self.op](a, b)


class CompoundPredicate(Expr):
    """AND / OR / NOT with conjunct flattening
    (reference exprs/compound_predicate.py:17)."""

    def __init__(self, op: str, operands: Sequence[Expr]):
        flat: list[Expr] = []
        for o in operands:
            if isinstance(o, CompoundPredicate) and o.op == op and op != "not":
                flat.extend(o.components)
            else:
                flat.append(o)
        super().__init__(ColumnType.bool_(), flat)
        self.op = op

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        cols = [c.to_column(ctx) for c in self.components]
        if any(c is None for c in cols):
            return None
        if self.op == "not":
            return ~cols[0]
        out = cols[0]
        for c in cols[1:]:
            out = (out & c) if self.op == "and" else (out | c)
        return out

    def eval_py(self, row: dict) -> Any:
        vals = [c.eval_py(row) for c in self.components]
        if self.op == "not":
            return None if vals[0] is None else not vals[0]
        if self.op == "and":
            return all(bool(v) for v in vals)
        return any(bool(v) for v in vals)

    def split_conjuncts(self) -> list[Expr]:
        """Top-level AND conjuncts (used by the planner for pushdown split,
        reference plan.py:64-70)."""
        if self.op == "and":
            return list(self.components)
        return [self]


class InPredicate(Expr):
    """isin (reference exprs/in_predicate.py:16)."""

    def __init__(self, operand: Expr, values: Iterable[Any]):
        super().__init__(ColumnType.bool_(), [operand])
        self.values = list(values)

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        c = self.components[0].to_column(ctx)
        if c is None:
            return None
        return c.isin(self.values)

    def eval_py(self, row: dict) -> Any:
        return self.components[0].eval_py(row) in self.values


class IsNull(Expr):
    """IS NULL (reference exprs/is_null.py:16)."""

    def __init__(self, operand: Expr):
        super().__init__(ColumnType.bool_(), [operand])

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        c = self.components[0].to_column(ctx)
        return None if c is None else c.isNull()

    def eval_py(self, row: dict) -> Any:
        return self.components[0].eval_py(row) is None


class ArithmeticExpr(Expr):
    """+ - * / % // ** with Python semantics for % and //
    (reference exprs/arithmetic_expr.py:17; enum exprs/globals.py:68-75).

    Note: ``%`` and ``//`` follow Python sign semantics (result takes the
    sign of the divisor), which differ from SQL; compiled as
    ``((a % b) + b) % b`` and ``floor(a / b)`` respectively so the whole
    thing stays JVM-side."""

    def __init__(self, op: str, a: Expr, b: Expr):
        st = a.col_type.supertype(b.col_type) or ColumnType.float_()
        if op in ("/", "**"):
            st = ColumnType.float_(st.nullable)
        super().__init__(st, [a, b])
        self.op = op

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        a = self.components[0].to_column(ctx)
        b = self.components[1].to_column(ctx)
        if a is None or b is None:
            return None
        op = self.op
        if op == "+":
            return a + b
        if op == "-":
            return a - b
        if op == "*":
            return a * b
        if op == "/":
            return a / b
        if op == "%":
            return ((a % b) + b) % b
        if op == "//":
            res = F.floor(a / b)
            if self.col_type.kind == TypeKind.FLOAT:
                res = res.cast(T.DoubleType())
            return res
        if op == "**":
            return F.pow(a, b)
        return None

    def eval_py(self, row: dict) -> Any:
        a = self.components[0].eval_py(row)
        b = self.components[1].eval_py(row)
        if a is None or b is None:
            return None
        return {
            "+": lambda: a + b, "-": lambda: a - b, "*": lambda: a * b,
            "/": lambda: a / b, "%": lambda: a % b, "//": lambda: a // b,
            "**": lambda: a ** b,
        }[self.op]()


class StringOp(Expr):
    """String concat (+) and repeat (*) (reference exprs/string_op.py:17)."""

    def __init__(self, op: str, a: Expr, b: Expr):
        super().__init__(ColumnType.string(), [a, b])
        self.op = op

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        a = self.components[0].to_column(ctx)
        b = self.components[1].to_column(ctx)
        if a is None or b is None:
            return None
        if self.op == "+":
            return F.concat(a, b)
        return F.repeat(a, b.cast(T.IntegerType()))

    def eval_py(self, row: dict) -> Any:
        a = self.components[0].eval_py(row)
        b = self.components[1].eval_py(row)
        if a is None or b is None:
            return None
        return a + b if self.op == "+" else a * b


_CAST_SPARK = {
    TypeKind.STRING: T.StringType(),
    TypeKind.INT: T.LongType(),
    TypeKind.FLOAT: T.DoubleType(),
    TypeKind.BOOL: T.BooleanType(),
    TypeKind.TIMESTAMP: T.TimestampType(),
    TypeKind.DATE: T.DateType(),
}


class TypeCast(Expr):
    """astype (reference exprs/type_cast.py:13)."""

    def __init__(self, operand: Expr, target: ColumnType):
        super().__init__(target, [operand])

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        c = self.components[0].to_column(ctx)
        if c is None:
            return None
        k = self.col_type.kind
        if k in _CAST_SPARK:
            return c.cast(_CAST_SPARK[k])
        if k == TypeKind.JSON:
            return F.to_json(c)
        if isinstance(self.col_type, ArrayType):
            return c.cast(self.col_type.spark_type())
        return None  # media casts handled by UDF fallback

    def eval_py(self, row: dict) -> Any:
        v = self.components[0].eval_py(row)
        if v is None:
            return None
        k = self.col_type.kind
        py = {TypeKind.STRING: str, TypeKind.INT: int, TypeKind.FLOAT: float,
              TypeKind.BOOL: bool}
        if k in py:
            return py[k](v)
        return v


class ArraySlice(Expr):
    """numpy-style array slicing (reference exprs/array_slice.py:14)."""

    def __init__(self, operand: Expr, index: Any):
        el = operand.col_type.element if isinstance(operand.col_type, ArrayType) else ColumnType.float_()
        ct = el if isinstance(index, int) else operand.col_type
        super().__init__(ct, [operand])
        self.index = index

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        c = self.components[0].to_column(ctx)
        if c is None:
            return None
        ix = self.index
        if isinstance(ix, int):
            # python semantics: 0-based, negative from end
            return F.element_at(c, ix + 1) if ix >= 0 else F.element_at(c, ix)
        if isinstance(ix, slice) and ix.step is None:
            start = ix.start or 0
            if start >= 0 and (ix.stop is None or ix.stop >= 0):
                length = (ix.stop - start) if ix.stop is not None else (1 << 30)
                return F.slice(c, start + 1, F.lit(length))
        return None

    def eval_py(self, row: dict) -> Any:
        v = self.components[0].eval_py(row)
        return None if v is None else v[self.index]


class JsonPath(Expr):
    """JSON path navigation t.c.f1[0].f2 (reference exprs/json_path.py:22-140).
    Compiled to get_json_object on the JSON string column."""

    def __init__(self, anchor: Expr, path: list):
        base_path = anchor.path if isinstance(anchor, JsonPath) else []
        base = anchor.components[0] if isinstance(anchor, JsonPath) else anchor
        full_path = base_path + list(path)
        # typed extraction: resolve the path against a declared JSON
        # structural schema when present (reference type_system.py:497-533
        # json_schema path typing)
        ct: ColumnType = ColumnType.json()
        t = base.col_type
        for p in full_path:
            ft = t.field_type(p) if (hasattr(t, "field_type")
                                     and isinstance(p, str)) else None
            if ft is None:
                t = ColumnType.json()
                break
            t = ft
        else:
            ct = t
        super().__init__(ct, [base])
        self.path = full_path

    def __getattr__(self, name: str) -> "Expr":
        if name.startswith("_") or name in ("col_type", "components", "path"):
            raise AttributeError(name)
        return JsonPath(self, [name])

    def __getitem__(self, item) -> "Expr":
        return JsonPath(self, [item])

    def json_path_str(self) -> str:
        parts = ["$"]
        for p in self.path:
            if isinstance(p, str):
                parts.append(f".{p}" if p != "*" else "[*]")
            elif isinstance(p, int):
                parts.append(f"[{p}]")
            elif isinstance(p, slice):
                parts.append("[*]")
        return "".join(parts)

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        c = self.components[0].to_column(ctx)
        if c is None:
            return None
        out = F.get_json_object(c.cast(T.StringType()), self.json_path_str())
        if not self.col_type.is_json:
            # schema-typed path: cast the extraction to the declared type
            out = out.cast(self.col_type.spark_type())
        return out

    def eval_py(self, row: dict) -> Any:
        v = self.components[0].eval_py(row)
        if isinstance(v, str):
            v = _json.loads(v)
        for p in self.path:
            if v is None:
                return None
            try:
                v = v[p]
            except (KeyError, IndexError, TypeError):
                return None
        return v

    def astype(self, t: ColumnType) -> Expr:
        """Typed extraction: cast the string that get_json_object returns."""
        return TypeCast(self, t)


class InlineArray(Expr):
    """Literal array constructor from exprs (reference exprs/inline_expr.py:18)."""

    def __init__(self, elements: Sequence[Any]):
        exprs = [to_expr(e) for e in elements]
        el = exprs[0].col_type if exprs else ColumnType.float_()
        super().__init__(ArrayType(el, (len(exprs),)), exprs)

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        cols = [c.to_column(ctx) for c in self.components]
        if any(c is None for c in cols):
            return None
        return F.array(*cols)

    def eval_py(self, row: dict) -> Any:
        return [c.eval_py(row) for c in self.components]


class InlineDict(Expr):
    """Literal dict constructor -> JSON string (reference exprs/inline_expr.py:139)."""

    def __init__(self, items: dict):
        self.keys = list(items.keys())
        exprs = [to_expr(v) for v in items.values()]
        super().__init__(ColumnType.json(), exprs)

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        cols = [c.to_column(ctx) for c in self.components]
        if any(c is None for c in cols):
            return None
        return F.to_json(F.struct(*[c.alias(k) for k, c in zip(self.keys, cols)]))

    def eval_py(self, row: dict) -> Any:
        return {k: c.eval_py(row) for k, c in zip(self.keys, self.components)}


class RelativePath(Expr):
    """The ``R`` variable: refers to the current element inside a
    JsonMapper scope (reference exprs/json_mapper.py relative-path scope).
    Only meaningful under a ``>>`` mapper."""

    def __init__(self):
        super().__init__(ColumnType.json())

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        # bound only inside a JsonMapperExpr transform() lambda — there the
        # ctx carries the lambda variable (element JSON text)
        return getattr(ctx, "r_col", None)

    def eval_py(self, row: dict) -> Any:
        return row["__R__"]

    def column_refs(self) -> list["ColumnRef"]:
        return []


R = RelativePath()


class JsonMapperExpr(Expr):
    """``target >> mapper``: per-element map over a JSON list, with R bound
    to each element (reference exprs/json_mapper.py:20-60,
    JsonMapperDispatch).

    Compilation: when the mapper subtree has a concrete (non-JSON) result
    type AND compiles to a Column, the whole mapper stays JVM-side as
    ``transform(from_json(target, 'array<string>'), x -> mapper(x))`` —
    from_json with string elements yields each element's raw JSON text, so
    R-paths compile to get_json_object(x, ...). The result is then a real
    typed array column (array<mapper type>), not a JSON string. Untyped
    (JSON-result) mappers keep the Arrow-batched Python path with Python
    number/object semantics (reference forces json-operand arithmetic to
    Python too)."""

    def __init__(self, target: Expr, mapper: Expr, op: str = "map",
                 asc: bool = True):
        assert op in ("map", "filter", "sort")
        # filter/sort preserve the (JSON) elements; map yields the mapper's
        # type per element
        out_t = (ColumnType.json() if (op != "map" or mapper.col_type.is_json)
                 else ArrayType(mapper.col_type, None, True))
        super().__init__(out_t, [target, mapper])
        self.op = op
        self.asc = asc

    def _bound_ctx(self, ctx: CompileCtx):
        def bound(x: Column) -> CompileCtx:
            sub = CompileCtx(ctx._resolve)
            sub.r_col = x  # type: ignore[attr-defined]
            return sub
        return bound

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        mapper = self.components[1]
        if self.op == "map" and self.col_type.is_json:
            return None  # untyped mapper: Python semantics
        tgt = self.components[0].to_column(ctx)
        if tgt is None:
            return None
        bound_ctx = self._bound_ctx(ctx)
        # probe-compile before committing: the lambda passed to the
        # higher-order function must return a Column
        if mapper.to_column(bound_ctx(F.lit(""))) is None:
            return None
        raw = F.from_json(tgt.cast(T.StringType()), "array<string>")
        if self.op == "map":
            return F.transform(raw, lambda x: mapper.to_column(bound_ctx(x)))
        if self.op == "filter":
            kept = F.filter(raw, lambda x: mapper.to_column(bound_ctx(x)))
            # elements keep their RAW json text, so re-wrapping is exact
            return F.when(
                tgt.isNotNull(),
                F.concat(F.lit("["), F.array_join(kept, ","), F.lit("]")))
        # sort by key(R); comparator on the compiled key columns
        if mapper.col_type.is_json:
            return None  # identity/json key: Python value semantics
        sign = 1 if self.asc else -1

        def cmp(a: Column, b: Column) -> Column:
            ka = mapper.to_column(bound_ctx(a))
            kb = mapper.to_column(bound_ctx(b))
            return (F.when(ka < kb, F.lit(-sign))
                    .when(ka > kb, F.lit(sign)).otherwise(F.lit(0)))

        s = F.array_sort(raw, cmp)
        return F.when(
            tgt.isNotNull(),
            F.concat(F.lit("["), F.array_join(s, ","), F.lit("]")))

    def eval_py(self, row: dict) -> Any:
        v = self.components[0].eval_py(row)
        if isinstance(v, str):
            v = _json.loads(v)
        if v is None:
            return None
        mapper = self.components[1]
        if self.op == "map":
            return [mapper.eval_py({**row, "__R__": el}) for el in v]
        if self.op == "filter":
            return [el for el in v
                    if bool(mapper.eval_py({**row, "__R__": el}))]
        key = (None if isinstance(mapper, RelativePath)
               else (lambda el: mapper.eval_py({**row, "__R__": el})))
        return sorted(v, key=key, reverse=not self.asc)


class AliasedExpr(Expr):
    def __init__(self, operand: Expr, name: str):
        super().__init__(operand.col_type, [operand])
        self.name = name

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        c = self.components[0].to_column(ctx)
        return None if c is None else c.alias(self.name)

    def eval_py(self, row: dict) -> Any:
        return self.components[0].eval_py(row)


class AppliedExpr(Expr):
    """.apply(python_fn) — always the pandas-UDF fallback path
    (reference exprs/expr.py apply)."""

    def __init__(self, operand: Expr, fn: Callable, col_type: ColumnType):
        super().__init__(col_type, [operand])
        self.fn = fn

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        return None

    def eval_py(self, row: dict) -> Any:
        v = self.components[0].eval_py(row)
        return None if v is None else self.fn(v)


class MethodRef:
    """Method-style call sugar on typed columns: t.s.upper(), t.img.resize()
    (reference exprs/method_ref.py:14). Resolution happens at call time
    against the function registry."""

    def __init__(self, base: Expr, name: str):
        self.base = base
        self.name = name

    def __call__(self, *args, **kwargs) -> Expr:
        from . import functions as _fns
        fn = _fns.lookup_method(self.base.col_type, self.name)
        if fn is None:
            raise AttributeError(
                f"no method {self.name!r} for type {self.base.col_type!r}"
            )
        return fn(self.base, *args, **kwargs)

    def __repr__(self):
        return f"MethodRef({self.name})"


# ---------------------------------------------------------------------------
# Function calls (scalar / aggregate / window)
# ---------------------------------------------------------------------------


class Function:
    """A registered scalar or aggregate function (the analog of
    reference func/function.py + functions/globals.py registrations).

    spark_fn: builds a Column from arg Columns (JVM-side fast path).
    py_fn: per-row Python fallback.
    pandas_fn: optional vectorized pandas batch implementation.
    agg_spark_fn: for aggregates, builds the aggregate Column.
    """

    def __init__(
        self,
        name: str,
        ret_type: ColumnType,
        spark_fn: Optional[Callable[..., Column]] = None,
        py_fn: Optional[Callable] = None,
        pandas_fn: Optional[Callable] = None,
        is_agg: bool = False,
        allows_window: bool = False,
        ranking: bool = False,
    ):
        self.name = name
        self.ret_type = ret_type
        self.spark_fn = spark_fn
        self.py_fn = py_fn
        self.pandas_fn = pandas_fn
        self.is_agg = is_agg
        self.allows_window = allows_window
        # ranking=True: window-only function (row_number/rank/lag/...) that
        # must NOT get an explicit ROWS frame
        self.ranking = ranking

    def __call__(self, *args, group_by: Any = None, order_by: Any = None, **kwargs) -> "FunctionCall":
        return FunctionCall(self, [to_expr(a) for a in args],
                            group_by=group_by, order_by=order_by, kwargs=kwargs)

    def __repr__(self):
        return f"Function({self.name})"


class FunctionCall(Expr):
    """Call of a registered function (reference exprs/function_call.py).

    Window form (reference exprs/function_call.py:239-253,447-461): an
    aggregate called with group_by=/order_by= becomes a running aggregate
    over ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW.
    """

    def __init__(self, fn: Function, args: list[Expr], group_by=None, order_by=None,
                 kwargs: Optional[dict] = None):
        super().__init__(fn.ret_type, args)
        self.fn = fn
        self.kwargs = kwargs or {}
        self.window_group_by = _as_expr_list(group_by)
        self.window_order_by = _as_expr_list(order_by)
        # reference func/aggregate_function.py:35-59 requires_order_by flag
        if (getattr(fn, "requires_order_by", False)
                and (self.window_group_by or self.window_order_by)
                and not self.window_order_by):
            raise ValueError(
                f"{fn.name} requires order_by= when used as a window function")

    def is_window(self) -> bool:
        if self.fn.ranking:
            return True
        return self.fn.is_agg and (self.window_group_by or self.window_order_by) != []

    def to_column(self, ctx: CompileCtx) -> Optional[Column]:
        # async calls hoisted by the planner read their materialized column
        acols = getattr(ctx, "async_cols", None)
        if acols is not None and id(self) in acols:
            return F.col(acols[id(self)])
        cols = [c.to_column(ctx) for c in self.components]
        if any(c is None for c in cols):
            return None
        if self.fn.spark_fn is None:
            return None
        col = self.fn.spark_fn(*cols, **self.kwargs)
        if self.is_window():
            from pyspark.sql import Window as W
            parts = [e.to_column(ctx) for e in self.window_group_by]
            orders = [e.to_column(ctx) for e in self.window_order_by]
            if any(c is None for c in parts + orders):
                return None
            w = W.partitionBy(*parts) if parts else W.partitionBy(F.lit(1))
            if orders:
                w = w.orderBy(*orders)
            if not self.fn.ranking:
                # running-aggregate frame (reference exprs/function_call.py:447)
                w = w.rowsBetween(W.unboundedPreceding, W.currentRow)
            col = col.over(w)
        return col

    def eval_py(self, row: dict) -> Any:
        if getattr(self.fn, "is_async", False):
            # async calls are batch-evaluated ahead of the per-row pass
            # (compile_via_pandas_udf) and their results stashed in the row
            vals = row.get("__async_vals__")
            if vals is None or id(self) not in vals:
                raise NotImplementedError(
                    f"async UDF {self.fn.name!r} evaluates on the batched "
                    "async runtime; it cannot be called row-at-a-time")
            return vals[id(self)]
        if self.fn.py_fn is None:
            raise NotImplementedError(f"{self.fn.name} has no Python fallback")
        args = [c.eval_py(row) for c in self.components]
        return self.fn.py_fn(*args, **self.kwargs)


def _as_expr_list(v) -> list[Expr]:
    if v is None:
        return []
    if isinstance(v, (list, tuple)):
        return [to_expr(x) for x in v]
    return [to_expr(v)]


# ---------------------------------------------------------------------------
# pandas-UDF fallback compilation
# ---------------------------------------------------------------------------


def compile_via_pandas_udf(expr: Expr, ctx: CompileCtx) -> Column:
    """Compile a non-Catalyst-expressible expr subtree into one Arrow-batched
    pandas UDF over exactly the columns the subtree references.

    The analog of the reference's ExprEvalNode Python path
    (reference exec/expr_eval/expr_eval_node.py:25-60), but vectorized:
    one Arrow batch in, one out — never row-at-a-time over the wire.
    """
    async_nodes = _find_async_nodes(expr)
    for n in async_nodes:
        # resolved driver-side; id()s don't survive pickling, attributes do
        n._resolved_rate = _async_rate(n.fn)

    refs = expr.column_refs()
    names = [r.name for r in refs]
    ret_spark = expr.col_type.spark_type()
    is_json_ret = expr.col_type.is_json

    def batch_eval(*series: pd.Series) -> pd.Series:
        n = len(series[0]) if series else 0
        rows = [
            {nm: _from_pandas(series[j].iloc[i]) for j, nm in enumerate(names)}
            for i in range(n)
        ]
        # phase 1: each async subtree evaluates as ONE bounded-concurrency
        # gather over the whole Arrow batch (worker-shared rate limiter,
        # retries) — the reference's resource-pool scheduler shape
        # (reference exec/expr_eval/schedulers.py:25-417). Inner-to-outer
        # order lets chained provider calls feed each other.
        if async_nodes:
            from .functions.llm import run_async_batch
            for node in async_nodes:
                afn = node.fn.async_fn  # type: ignore[attr-defined]
                kw = dict(node.kwargs)
                argsets = [[c.eval_py(row) for c in node.components]
                           for row in rows]
                results = run_async_batch(
                    [(lambda a=a: afn(*a, **kw)) for a in argsets],
                    pool=node.fn.name, rate=node._resolved_rate,
                    concurrency=getattr(node.fn, "concurrency", 16))
                for row, r in zip(rows, results):
                    if isinstance(r, Exception):
                        raise r
                    row.setdefault("__async_vals__", {})[id(node)] = r
        out = []
        for row in rows:
            v = expr.eval_py(row)
            if is_json_ret and v is not None and not isinstance(v, str):
                # JSON travels as a string column: serialize structured
                # results; scalar strings stay raw (get_json_object parity)
                v = _json.dumps(v)
            out.append(v)
        return pd.Series(out, dtype=object)

    def batch_eval_vectorized(*series: pd.Series) -> pd.Series:
        """Series-level evaluation: the whole subtree computes on pandas
        Series (one pass per batch) instead of per-row eval_py calls —
        ~10× on Python-only string fns. Falls back to batch_eval if any
        node lacks a vectorized form."""
        n = len(series[0]) if series else 0
        cols = {nm: series[j] for j, nm in enumerate(names)}
        v = _try_eval_pandas(expr, cols, n)
        if v is None:
            return batch_eval(*series)
        if not isinstance(v, pd.Series):  # constant expr
            v = pd.Series([v] * n, dtype=object)
        if is_json_ret:
            v = v.map(lambda x: x if x is None or isinstance(x, str)
                      else _json.dumps(x))
        return v.astype(object).where(v.notna(), None)

    use_vec = not async_nodes and _try_eval_pandas(expr, None, 0, probe=True)
    udf = F.pandas_udf(batch_eval_vectorized if use_vec else batch_eval,
                       returnType=ret_spark)
    cols = [r.to_column(ctx) for r in refs]
    return udf(*cols)


def _try_eval_pandas(expr: Expr, cols: Optional[dict], n: int,
                     probe: bool = False) -> Any:
    """Vectorized (Series-level) evaluation of an expr subtree, or None if
    some node has no vectorized form.

    Contract: ColumnRef → the input Series; Literal → a python scalar;
    FunctionCall with fn.pandas_fn → pandas_fn(*args, **kwargs) where the
    first arg is a Series and trailing args are scalars (the common
    method-call shape, e.g. s.str.index(sub)). probe=True just checks
    whether the subtree is fully vectorizable without evaluating.
    """
    if isinstance(expr, ColumnRef):
        return True if probe else cols[expr.name]
    if isinstance(expr, Literal):
        return True if probe else expr.val
    if isinstance(expr, AppliedExpr):
        v = _try_eval_pandas(expr.components[0], cols, n, probe=probe)
        if v is None:
            return None
        if probe:
            return True
        if not isinstance(v, pd.Series):
            v = pd.Series([v] * n)
        # map skips nulls (na_action) — same contract as eval_py's None gate
        return v.map(expr.fn, na_action="ignore")
    if isinstance(expr, FunctionCall):
        fn = getattr(expr.fn, "pandas_fn", None)
        if fn is None or expr.is_window() or getattr(expr.fn, "is_async", False):
            return None
        args = []
        for i, c in enumerate(expr.components):
            v = _try_eval_pandas(c, cols, n, probe=probe)
            if v is None:
                return None
            if not probe and i > 0 and isinstance(v, pd.Series):
                # pandas_fn takes scalars after the first arg; a Series
                # there (column-valued method argument) is the slow path
                return None
            if not probe and i > 0 and isinstance(c, FunctionCall):
                return None
            args.append(v)
        if probe:
            # trailing args must be literal scalars for the contract above
            if any(not isinstance(c, Literal) for c in expr.components[1:]):
                return None
            return True
        return fn(*args, **expr.kwargs)
    return None


def _find_async_nodes(expr: Expr) -> list["FunctionCall"]:
    """Async FunctionCall subtrees in post-order (inner before outer)."""
    out: list[FunctionCall] = []

    def walk(e: Expr) -> None:
        for c in e.components:
            walk(c)
        if isinstance(e, FunctionCall) and getattr(e.fn, "is_async", False):
            out.append(e)

    walk(expr)
    return out


def _async_rate(fn: "Function") -> float:
    """Per-worker share of the function's global request budget, resolved
    driver-side at compile time.

    Derived from sc.defaultParallelism (total cores across the cluster,
    dynamic-allocation-aware), NOT spark.executor.instances — the latter is
    unset on local[*] and under dynamic allocation, which would over-admit
    by a full budget per worker. The divisor is the number of concurrent
    Python workers that can each hold a rate limiter: one per simultaneous
    Arrow batch, bounded by total cores.
    """
    rpm = getattr(fn, "requests_per_minute", 600.0)
    if rpm >= 1e12:  # offline fake — no throttle, skip the conf lookup
        return rpm
    try:
        from pyspark.sql import SparkSession
        sc = SparkSession.getActiveSession().sparkContext
        n_workers = max(1, int(sc.defaultParallelism))
    except Exception:  # noqa: BLE001
        n_workers = 1
    return max(1.0, rpm / n_workers)


def _from_pandas(v: Any) -> Any:
    if v is None:
        return None
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime()
    if hasattr(v, "item") and not isinstance(v, (bytes, str)):
        try:
            return v.item()
        except (AttributeError, ValueError):
            pass
    if hasattr(v, "tolist"):
        return v.tolist()
    return v


# -- expr serialization helpers (Expr.as_dict/from_dict) ------------------

def _expr_class(name: str) -> type:
    """Resolve a serialized _classname to its Expr subclass (recursive
    subclass walk, computed lazily so late-defined classes register)."""
    stack, seen = [Expr], {}
    while stack:
        c = stack.pop()
        seen[c.__name__] = c
        stack.extend(c.__subclasses__())
    if name not in seen:
        raise ValueError(f"unknown expr class {name!r}")
    return seen[name]


def _function_path(fn: "Function") -> str:
    """Registry path of a Function ('math.round', 'sum', ...); raises for
    functions not reachable through pixeltable_spark.functions."""
    from . import functions as pxtf
    if getattr(pxtf, getattr(fn, "name", ""), None) is fn:
        return fn.name
    for mod_name in dir(pxtf):
        mod = getattr(pxtf, mod_name)
        if callable(mod) or not hasattr(mod, "__dict__"):
            continue
        for fname, f in vars(mod).items():
            if f is fn:
                return f"{mod_name}.{fname}"
    raise ValueError(
        f"function {getattr(fn, 'name', fn)!r} is not reachable through "
        "the pixeltable_spark.functions registry and cannot serialize")


def _resolve_function(path: str) -> "Function":
    from . import functions as pxtf
    obj: Any = pxtf
    for part in path.split("."):
        obj = getattr(obj, part)
    return obj


def _attr_to_dict(cls_name: str, key: str, v: Any) -> dict:
    if isinstance(v, Function):
        return {"_function": _function_path(v)}
    if isinstance(v, Expr):
        return {"_expr": v.as_dict()}
    if isinstance(v, ColumnType):
        return {"_coltype": v.as_dict()}
    if isinstance(v, datetime.datetime):
        return {"_datetime": v.isoformat()}
    if isinstance(v, datetime.date):
        return {"_date": v.isoformat()}
    if isinstance(v, (list, tuple)) and any(isinstance(x, Expr) for x in v):
        if not all(isinstance(x, Expr) for x in v):
            raise ValueError(
                f"{cls_name}.{key}: mixed expr/value list cannot serialize")
        return {"_expr_list": [x.as_dict() for x in v]}
    if _jsonable_value(v):
        return {"_value": list(v) if isinstance(v, tuple) else v}
    raise ValueError(
        f"{cls_name}.{key} ({type(v).__name__}) is not serializable — "
        "only registered functions, exprs, and JSON values round-trip")


def _attr_from_dict(spec: dict, tbl: Any) -> Any:
    if "_function" in spec:
        return _resolve_function(spec["_function"])
    if "_expr" in spec:
        return Expr.from_dict(spec["_expr"], tbl)
    if "_coltype" in spec:
        return ColumnType.from_dict(spec["_coltype"])
    if "_datetime" in spec:
        return datetime.datetime.fromisoformat(spec["_datetime"])
    if "_date" in spec:
        return datetime.date.fromisoformat(spec["_date"])
    if "_expr_list" in spec:
        return [Expr.from_dict(x, tbl) for x in spec["_expr_list"]]
    return spec["_value"]


def _jsonable_value(v: Any) -> bool:
    if isinstance(v, (str, int, float, bool, type(None))):
        return True
    if isinstance(v, (list, tuple)):
        return all(_jsonable_value(x) for x in v)
    if isinstance(v, dict):
        return all(isinstance(k, str) and _jsonable_value(x)
                   for k, x in v.items())
    return False
