"""QueryCondition: the reference's predicate mini-language, retargeted to
``pyspark.sql.Column`` and ``pyarrow.compute.Expression``.

The reference parses a Python-syntax expression string with ``ast`` and
lowers it to a C++ PyQueryCondition
(``/root/reference/tiledb/query_condition.py:97-124`` parse, ``143-160``
operators, ``183-207`` comparisons incl. chained ``a < x < b``, ``208-259``
``in``/``not in``, ``279-281``/``413-416`` None -> null test, ``297-311``
``attr()``/``dim()``/``val()`` wrappers, ``313-336`` value/variable
auto-ordering with op reversal, ``443-472`` boolean combinators, ``494-501``
negation).  We reuse the exact same grammar.  One compiler (``_Compiler``)
walks it and builds its output through a four-function backend (column,
literal, not-null, is-null); comparisons, ``&``, ``|``, ``~`` and
``.isin`` are spelled the same on both output types:

- ``QueryCondition.to_column`` emits a Spark Column, so the predicate
  lands inside Catalyst and is pushed into the parquet scan — the analog
  of TileDB evaluating conditions during tile read.  ``Array`` reads,
  delete validation, consolidation and ``cdc`` use it.
- ``QueryCondition.to_arrow`` emits a picklable
  ``pyarrow.compute.Expression``; the ``format("tiledb")`` reader
  compiles each delete condition once at planning and filters Arrow
  batches with it.

``schema_context`` derives the compile context (column names, enum
label -> code maps, dtypes) from an ArraySchema for both.

Enum-label conditions (``query_condition.py:248-257``): values are matched
against enumeration *labels*; we translate label -> integer code at compile
time and compare codes, so the comparison stays on the (dictionary-encoded)
stored column.  Unknown label -> always-false, matching the reference's
behavior of matching nothing.
"""

from __future__ import annotations

import ast
from dataclasses import dataclass
from typing import Any, Callable, NamedTuple, Optional

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F


class TileDBError(Exception):
    pass


class _Backend(NamedTuple):
    """The four leaf builders a compiled condition needs."""

    col: Callable  # column name -> column expression
    lit: Callable  # python scalar -> literal expression
    not_null: Callable  # expression -> "is not null" test
    is_null: Callable  # expression -> "is null" test


_SPARK = _Backend(F.col, F.lit, lambda c: c.isNotNull(), lambda c: c.isNull())


def _arrow_backend() -> _Backend:
    import pyarrow.compute as pc

    return _Backend(pc.field, pc.scalar, lambda e: e.is_valid(),
                    lambda e: e.is_null())


@dataclass
class _Ctx:
    """Compile-time info: which names are columns, enum mappings, dtypes."""

    columns: Optional[set] = None  # known column names (None = trust any Name)
    enums: Optional[dict] = None  # {attr_name: {label: code}}
    dtypes: Optional[dict] = None  # {attr_name: np.dtype} for value casting


class QueryCondition:
    """User-facing wrapper, mirroring ``tiledb.QueryCondition(expression)``."""

    def __init__(self, expression: str):
        self.expression = expression
        try:
            self.tree = ast.parse(expression, mode="eval")
        except SyntaxError as e:
            raise TileDBError(f"Could not parse the given QueryCondition statement: {expression}") from e

    def to_column(self, columns=None, enums=None, dtypes=None) -> Column:
        return self._compile(_SPARK, columns, enums, dtypes)

    def to_arrow(self, columns=None, enums=None, dtypes=None):
        """The same condition as a ``pyarrow.compute.Expression``
        (``Table.filter`` / dataset ``filter=``; it pickles)."""
        return self._compile(_arrow_backend(), columns, enums, dtypes)

    def _compile(self, backend: _Backend, columns, enums, dtypes):
        ctx = _Ctx(columns=set(columns) if columns is not None else None,
                   enums=enums or {}, dtypes=dtypes or {})
        return _Compiler(ctx, backend).visit(self.tree.body)

    def __repr__(self):
        return f"QueryCondition({self.expression!r})"


def compile_condition(expr: "str | QueryCondition | Column | None",
                      columns=None, enums=None, dtypes=None) -> Optional[Column]:
    """Accept a condition in any supported form and return a Column (or None)."""
    if expr is None:
        return None
    if isinstance(expr, Column):
        return expr
    if isinstance(expr, str):
        expr = QueryCondition(expr)
    if isinstance(expr, QueryCondition):
        return expr.to_column(columns=columns, enums=enums, dtypes=dtypes)
    raise TypeError(f"unsupported condition type {type(expr)!r}")


def schema_context(schema) -> dict:
    """An ArraySchema's compile context, as ``to_column`` / ``to_arrow`` /
    ``compile_condition`` keyword arguments: its column names, the enum
    label -> code map of each enumerated attr, and every column's dtype."""
    dtypes = {a.name: a.dtype for a in schema.attrs_list}
    dtypes.update({d.name: d.dtype for d in schema.domain})
    return dict(
        columns=set(schema.dim_names + schema.attr_names),
        enums={a.name: {v: i for i, v in
                        enumerate(schema.enums[a.enum_label].values)}
               for a in schema.attrs_list if a.enum_label},
        dtypes=dtypes)


_COMPARE_REVERSE = {ast.Lt: ast.Gt, ast.LtE: ast.GtE, ast.Gt: ast.Lt,
                    ast.GtE: ast.LtE, ast.Eq: ast.Eq, ast.NotEq: ast.NotEq}


class _Compiler(ast.NodeVisitor):
    def __init__(self, ctx: _Ctx, backend: _Backend):
        self.ctx = ctx
        self.b = backend

    # ---- entry -------------------------------------------------------------
    def visit(self, node):
        method = "visit_" + type(node).__name__
        visitor = getattr(self, method, None)
        if visitor is None:
            raise TileDBError(f"unsupported syntax in QueryCondition: {ast.dump(node)}")
        return visitor(node)

    def _null_is_false(self, c, *cols):
        """TileDB QC semantics: a comparison on a null cell is FALSE, and
        boolean combinators (including NOT) operate on that boolean — unlike
        SQL three-valued logic where NULL propagates and ``filter`` drops the
        row.  Applying this at every comparison LEAF (not the top of the
        tree) makes negation match the reference: null cells survive a delete
        whose condition they don't match, and ``not in`` matches them
        (reference leaf evaluation over validity buffers).

        Expressed as ``cmp AND IsNotNull(col)`` rather than ``coalesce(cmp,
        false)``: identical truth table (NULL AND false = false, Kleene
        ``and`` on the Arrow side too), but both conjuncts are
        parquet-pushable — coalesce would block PushedFilters and force
        full scans."""
        for col in cols:
            c = c & self.b.not_null(col)
        return c

    # ---- leaves ------------------------------------------------------------
    def _is_column_name(self, node) -> Optional[str]:
        """A Name or attr('name')/dim('name') wrapper -> column name, else None."""
        if isinstance(node, ast.Name):
            name = node.id
            if self.ctx.columns is not None and name not in self.ctx.columns:
                return None
            return name
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name):
            if node.func.id in ("attr", "dim"):
                arg = node.args[0]
                if not (isinstance(arg, ast.Constant) and isinstance(arg.value, str)):
                    raise TileDBError("attr()/dim() expects a string literal")
                # the explicit wrapper NAMES a column — a typo must be
                # the reference's immediate TileDBError, not a Spark
                # AnalysisException deep in scan execution
                if self.ctx.columns is not None \
                        and arg.value not in self.ctx.columns:
                    raise TileDBError(
                        f"unknown attribute or dimension {arg.value!r} "
                        "in QueryCondition")
                return arg.value
        return None

    def _const_value(self, node) -> Any:
        """Evaluate a value-side expression to a Python constant."""
        if isinstance(node, ast.Constant):
            return node.value
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
            v = self._const_value(node.operand)
            return -v
        if isinstance(node, (ast.List, ast.Tuple, ast.Set)):
            return [self._const_value(e) for e in node.elts]
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Name) and node.func.id == "val":
            return self._const_value(node.args[0])
        if isinstance(node, ast.Name):
            # bare name on value side that isn't a known column
            raise TileDBError(f"unknown name {node.id!r} in QueryCondition "
                              "(use val() for values, attr()/dim() for columns)")
        raise TileDBError(f"unsupported value expression: {ast.dump(node)}")

    def _cast_value(self, col_name: str, value: Any) -> Any:
        """Dtype-directed value casting (reference
        ``query_condition.py:389-441``): datetimes compared as stored unit,
        bools passed through, NO numeric<->string coercion."""
        dt = (self.ctx.dtypes or {}).get(col_name)
        if value is None:
            return None
        if dt is not None:
            npdt = np.dtype(dt)
            if npdt.kind in "Mm":
                # stored-representation cast: ns / coarser-than-day units
                # live in LongType columns -> int64 count in the stored
                # unit; native units -> TimestampNTZ datetime literal
                from ..datatypes import stored_scalar

                if npdt.kind == "M" and isinstance(value, str):
                    value = np.datetime64(value)
                return stored_scalar(value, npdt)
            if npdt.kind in "iu" and isinstance(value, bool):
                return int(value)
            if npdt.kind in "iuf" and isinstance(value, str):
                raise TileDBError(
                    f"cannot compare numeric column {col_name!r} to string {value!r}")
            if npdt.kind in "US" and isinstance(value, (int, float)):
                raise TileDBError(
                    f"cannot compare string column {col_name!r} to number {value!r}")
        if isinstance(value, np.datetime64):
            return value.astype("datetime64[us]").item()
        if isinstance(value, np.generic):
            return value.item()
        return value

    def _map_enum(self, col_name: str, value: Any) -> Any:
        """Label -> code translation for enumerated attrs
        (reference ``query_condition.py:248-257``)."""
        enums = self.ctx.enums or {}
        if col_name in enums:
            mapping = enums[col_name]
            if isinstance(value, list):
                return [mapping.get(v, -2) for v in value]  # -2 = matches nothing
            return mapping.get(value, -2)
        return value

    # ---- comparisons -------------------------------------------------------
    def visit_Compare(self, node: ast.Compare):
        # chained comparisons a < x < b -> AND of pairs (reference :183-207)
        result = None
        left = node.left
        for op, right in zip(node.ops, node.comparators):
            term = self._compare_pair(left, op, right)
            result = term if result is None else (result & term)
            left = right
        return result

    def _compare_pair(self, left, op, right):
        if isinstance(op, (ast.In, ast.NotIn)):
            col_name = self._is_column_name(left)
            if col_name is None:
                raise TileDBError("left side of in/not in must be an attribute or dimension")
            values = self._const_value(right)
            if not isinstance(values, list):
                raise TileDBError("in/not in requires a list of values")
            values = [self._cast_value(col_name, self._map_enum(col_name, v)) for v in values]
            c = self._null_is_false(self.b.col(col_name).isin(values),
                                    self.b.col(col_name))
            return ~c if isinstance(op, ast.NotIn) else c

        lname = self._is_column_name(left)
        rname = self._is_column_name(right)

        if lname is not None and rname is not None:
            # column-vs-column comparison (beyond reference; allowed here)
            return self._null_is_false(
                self._apply_op(self.b.col(lname), op, self.b.col(rname)),
                self.b.col(lname), self.b.col(rname))
        if lname is None and rname is None:
            raise TileDBError("comparison must reference at least one attribute or dimension")
        if lname is None:
            # value OP column -> reverse (reference :313-336)
            op = _COMPARE_REVERSE[type(op)]()
            lname, right = rname, left

        value = self._const_value(right)
        # None comparison -> null test (reference :279-281, 413-416)
        if value is None:
            if isinstance(op, ast.Eq):
                return self.b.is_null(self.b.col(lname))
            if isinstance(op, ast.NotEq):
                return self.b.not_null(self.b.col(lname))
            raise TileDBError("None only supports == / != (null test)")
        value = self._cast_value(lname, self._map_enum(lname, value))
        return self._null_is_false(
            self._apply_op(self.b.col(lname), op, self.b.lit(value)),
            self.b.col(lname))

    @staticmethod
    def _apply_op(lhs, op, rhs):
        if isinstance(op, ast.Eq):
            return lhs == rhs
        if isinstance(op, ast.NotEq):
            return lhs != rhs
        if isinstance(op, ast.Lt):
            return lhs < rhs
        if isinstance(op, ast.LtE):
            return lhs <= rhs
        if isinstance(op, ast.Gt):
            return lhs > rhs
        if isinstance(op, ast.GtE):
            return lhs >= rhs
        raise TileDBError(f"operator {type(op).__name__} not supported")

    # ---- boolean algebra ---------------------------------------------------
    def visit_BoolOp(self, node: ast.BoolOp):
        terms = [self.visit(v) for v in node.values]
        out = terms[0]
        for t in terms[1:]:
            out = (out & t) if isinstance(node.op, ast.And) else (out | t)
        return out

    def visit_BinOp(self, node: ast.BinOp):
        # & and | used as boolean combinators (reference :131-141)
        if isinstance(node.op, ast.BitAnd):
            return self.visit(node.left) & self.visit(node.right)
        if isinstance(node.op, ast.BitOr):
            return self.visit(node.left) | self.visit(node.right)
        raise TileDBError(f"binary operator {type(node.op).__name__} not supported")

    def visit_UnaryOp(self, node: ast.UnaryOp):
        if isinstance(node.op, (ast.Not, ast.Invert)):
            return ~self.visit(node.operand)
        raise TileDBError(f"unary operator {type(node.op).__name__} not supported")

    def visit_Name(self, node: ast.Name):
        # bare boolean attribute, e.g. "flag and x > 2" — checked
        # against the known columns like comparison Names are (a typo
        # must raise here, not as a Spark AnalysisException later)
        if self.ctx.columns is not None \
                and node.id not in self.ctx.columns:
            raise TileDBError(
                f"unknown attribute or dimension {node.id!r} "
                "in QueryCondition")
        return self._null_is_false(self.b.col(node.id), self.b.col(node.id))

    def visit_Call(self, node: ast.Call):
        name = self._is_column_name(node)
        if name is not None:
            return self._null_is_false(self.b.col(name), self.b.col(name))
        raise TileDBError(f"unsupported call in QueryCondition: {ast.dump(node)}")

    def visit_Constant(self, node: ast.Constant):
        if isinstance(node.value, bool):
            return self.b.lit(node.value)
        raise TileDBError("bare constants are not a condition")
