"""SparkFrame: the reference's ``data-frame`` on a PySpark substrate.

The reference (``/root/reference/cl-data-frame.lisp``) is an eager,
in-memory, columnar data-frame kernel. This module reproduces its semantic
contract — ordered unique keys, two-axis slicing with singleton collapse,
row-wise map/filter/count, destructive/functional column add/replace pairs —
on an immutable Spark DataFrame:

- ``SparkFrame`` <-> ``data-frame`` (cl-data-frame.lisp:436-445)
- ``DataVector`` <-> ``data-vector`` (cl-data-frame.lisp:408-434)
- mutation (``!`` variants) rebinds the wrapper's internal DataFrame; the
  non-``!`` variants return a new wrapper (cl-data-frame.lisp:367-385,
  tested cl-data-frame-tests.lisp:106-135) — SURVEY.md §1.6/§1.7.

Row order: Spark has no intrinsic row order, so every frame carries a hidden
``__row_id__`` ordering column assigned at ingest (SURVEY.md §7.4.1). All
positional semantics (integer slices, ``do_rows`` first->last order,
collection order) ride it. Positional *index* resolution additionally needs a
dense rank; that is computed on demand and documented as a driver-adjacent
operation — at 100 TB scale you filter/join on keys, not positions.

Everything compiles to Catalyst ``Column`` expressions first; arbitrary
Python callables fall back to Arrow-vectorized ``pandas_udf`` /
``mapInPandas`` (never row-at-a-time Python UDFs).
"""

from __future__ import annotations

import datetime as _dt
import numbers
from collections.abc import Callable, Iterable, Mapping, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .errors import (CollectGuardExceeded, ColumnLengthMismatch,
                     DuplicateKey, EmptyFrame, KeyNotFound)
from .keys import OrderedKeys
from .session import local_frame
from .sparktypes import to_spark_type

ROW_ID = "__row_id__"
_POS = "__pos__"

#: Driver-OOM guard for the eager Tier-R contract surface (VERDICT r6
#: #6): column()/columns()/positional slice/as_dict/to_pandas/collect
#: materialize driver-side by contract (the reference is in-memory) —
#: above this row count they raise CollectGuardExceeded instead of
#: OOMing a 100 TB user's driver. Generous default; set it per-process
#: (``cl_data_frame_spark.frame.MAX_COLLECT_ROWS = ...``) to widen or
#: tighten deliberately.
MAX_COLLECT_ROWS = 10_000_000


def sql_ident(name: str) -> str:
    """*name* as a backquoted SQL identifier, for expression strings
    (``F.expr``/``selectExpr``) that take user-supplied column names."""
    return "`" + name.replace("`", "``") + "`"


class ALL:
    """Sentinel matching the reference's ``t`` slice ('everything')."""

    def __repr__(self):  # pragma: no cover
        return "ALL"


ALL = ALL()


# ---------------------------------------------------------------------------
# type inference for driver-side literal columns
# ---------------------------------------------------------------------------

def _kind(v) -> type:
    """Classify a value for type inference — numpy scalars (np.int64 from
    ``as_array`` round-trips, np.float64 from pandas) count as their
    Python kind, not as opaque objects."""
    if isinstance(v, (bool, np.bool_)):
        return bool
    if isinstance(v, numbers.Integral):
        return int
    if isinstance(v, numbers.Real):
        return float
    if isinstance(v, str):
        return str
    if isinstance(v, (bytes, bytearray)):
        return bytes
    if isinstance(v, _dt.datetime):
        return _dt.datetime
    if isinstance(v, _dt.date):
        return _dt.date
    if isinstance(v, (list, tuple, np.ndarray)):
        return list
    return object


def _infer_type(values) -> T.DataType:
    """Infer a Spark type from Python values (first non-None wins).

    The reference's undeclared element type is ``t`` (anything,
    cl-data-frame.lisp:268-269); Spark columns are homogeneous, so mixed
    columns widen to string (SURVEY.md §7.4.2).
    """
    sample = next((v for v in values if v is not None), None)
    if sample is None:
        return T.StringType()
    kinds = {_kind(v) for v in values if v is not None}
    if kinds == {bool}:
        return T.BooleanType()
    if kinds <= {int, bool}:
        return T.LongType()
    if kinds <= {int, float, bool}:
        return T.DoubleType()
    if kinds == {str}:
        return T.StringType()
    if kinds == {bytes}:
        return T.BinaryType()
    if kinds == {_dt.datetime}:
        return T.TimestampType()
    if kinds == {_dt.date}:
        return T.DateType()
    if kinds <= {list}:
        flat = [x for v in values if v is not None for x in v]
        return T.ArrayType(_infer_type(flat))
    return T.StringType()


def _coerce_values(values, dtype: T.DataType) -> list:
    """Coerce Python values to the declared Spark type (bit->bool etc.)."""
    def conv(v):
        if v is None:
            return None
        if isinstance(dtype, T.BooleanType):
            return bool(v)
        if isinstance(dtype, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
            return int(v)
        if isinstance(dtype, (T.DoubleType, T.FloatType)):
            return float(v)
        if isinstance(dtype, T.StringType):
            return str(v)
        return v

    return [conv(v) for v in values]


def _as_pairs(args) -> list[tuple[str, object]]:
    """Normalize constructor sugar to (key, column) pairs.

    Mirrors ``guess-alist?``/``ensure-arguments-alist``
    (cl-data-frame.lisp:290-326): accepts a dict, a list of pairs (alist),
    or a flat key/value plist; also accepts another frame/data-vector as
    the source of pairs.
    """
    if len(args) == 1 and isinstance(args[0], Mapping):
        return list(args[0].items())
    if len(args) == 1 and isinstance(args[0], SparkFrame):
        return [(k, args[0].column(k)) for k in args[0].keys()]
    if len(args) == 1 and isinstance(args[0], DataVector):
        return list(args[0].items())
    if len(args) == 1 and isinstance(args[0], (list, tuple)) and args[0] and \
            isinstance(args[0][0], (list, tuple)) and len(args[0][0]) == 2:
        return [(k, v) for k, v in args[0]]
    if len(args) % 2 != 0:
        raise ValueError("plist-style arguments require an even count")
    return [(args[i], args[i + 1]) for i in range(0, len(args), 2)]


# ---------------------------------------------------------------------------
# DataVector — the reference's 1-D ordered key->scalar record
# ---------------------------------------------------------------------------

class DataVector:
    """Ordered key->scalar mapping (cl-data-frame.lisp:408-434).

    Produced by singleton row slices of a frame (cl-data-frame.lisp:498-499).
    Driver-side object: a record has no distributed representation.
    """

    def __init__(self, *args):
        pairs = _as_pairs(args)
        if not pairs:
            raise EmptyFrame()
        self._keys = OrderedKeys(k for k, _ in pairs)
        self._values = {k: v for k, v in pairs}

    def keys(self) -> list[str]:
        return self._keys.keys()

    def values(self) -> list:
        return [self._values[k] for k in self._keys]

    def items(self) -> list[tuple[str, object]]:
        return [(k, self._values[k]) for k in self._keys]

    def as_dict(self) -> dict:
        return dict(self.items())

    # as-alist / as-plist (cl-data-frame.lisp:333-335)
    def as_alist(self) -> list[tuple[str, object]]:
        return self.items()

    def as_plist(self) -> list:
        out: list = []
        for k, v in self.items():
            out += [k, v]
        return out

    def __getitem__(self, key):
        if isinstance(key, int):
            key = self._keys.resolve_position(key)
        self._keys.index(key)  # raises KeyNotFound with valid keys
        return self._values[key]

    def column(self, key):
        return self[key]

    def columns(self, spec=ALL) -> list:
        return [self[k] for k in _resolve_keyspec(self._keys, spec)]

    def slice(self, spec):
        """Key/index selection; singleton spec -> bare scalar
        (cl-data-frame.lisp:427-434; test cl-data-frame-tests.lisp:30-31)."""
        if isinstance(spec, (str, int)) and not isinstance(spec, bool):
            return self[spec]
        keys = _resolve_keyspec(self._keys, spec)
        return DataVector([(k, self[k]) for k in keys])

    def map_columns(self, fn) -> "DataVector":
        """Apply *fn* to every value, same keys (cl-data-frame.lisp:363-365;
        test cl-data-frame-tests.lisp:32-34)."""
        return DataVector([(k, fn(v)) for k, v in self.items()])

    def add_columns(self, *args) -> "DataVector":
        new = self.items() + _as_pairs(args)
        return DataVector(new)

    def __len__(self):
        return len(self._keys)

    def __eq__(self, other):
        if isinstance(other, DataVector):
            return self.items() == other.items()
        if isinstance(other, Mapping):
            return self.as_dict() == dict(other)
        return NotImplemented

    def __repr__(self):
        inner = ", ".join(f"{k}: {v!r}" for k, v in self.items())
        return f"DataVector({inner})"


def _resolve_keyspec(keys: OrderedKeys, spec) -> list[str]:
    """Resolve a column-axis slice spec to an ordered key list.

    Mirrors ``canonical-representation`` on the key axis
    (cl-data-frame.lisp:242-254): ALL, a key, an int position (negatives
    from the end, cl-data-frame-tests.lisp:54), or a sequence of either.
    """
    if spec is ALL or spec is True or spec is None:
        return keys.keys()
    if isinstance(spec, str):
        keys.index(spec)
        return [spec]
    if isinstance(spec, bool):
        raise TypeError("bool is not a valid column slice")
    if isinstance(spec, int):
        return [keys.resolve_position(spec)]
    out: list[str] = []
    for item in spec:
        if isinstance(item, str):
            keys.index(item)
            out.append(item)
        elif isinstance(item, int) and not isinstance(item, bool):
            out.append(keys.resolve_position(item))
        else:
            raise TypeError(f"Bad column slice element: {item!r}")
    return out


# ---------------------------------------------------------------------------
# SparkFrame
# ---------------------------------------------------------------------------

class SparkFrame:
    """2-D ordered-key columnar frame over a Spark DataFrame.

    The wrapped DataFrame always carries the hidden ``__row_id__`` ordering
    column; ``keys()`` exposes only user columns. Column-length equality is
    automatic in the relational model (the reference asserts it at
    construction, cl-data-frame.lisp:438-445); key uniqueness is enforced
    here because Spark itself allows duplicates (SURVEY.md §1.7).
    """

    def __init__(self, sdf: DataFrame, keys: Sequence[str] | None = None, *,
                 nrow: int | None = None):
        if ROW_ID not in sdf.columns:
            sdf = sdf.withColumn(ROW_ID, F.monotonically_increasing_id())
        user_cols = [c for c in sdf.columns if c not in (ROW_ID, _POS)]
        if keys is None:
            keys = user_cols
        if not keys:
            raise EmptyFrame()
        self._keys = OrderedKeys(keys)  # raises DuplicateKey on dupes
        missing = [k for k in keys if k not in sdf.columns]
        if missing:
            raise KeyNotFound(missing[0], user_cols)
        self._df = sdf.select(ROW_ID, *keys)
        self._nrow = nrow
        # True once ROW_ID values are pinned (literal data or checkpointed
        # plan); monotonically_increasing_id on a shuffled lineage may be
        # recomputed differently per action until then.
        self._stable = False

    # -- constructors -------------------------------------------------------

    @classmethod
    def from_columns(cls, spark: SparkSession, *args,
                     element_types: Mapping[str, object] | None = None) -> "SparkFrame":
        """Core constructor from key->column-values pairs.

        Mirrors ``make-data`` (cl-data-frame.lisp:271-284): validates
        non-empty (:317), unique keys (:222-223), equal lengths (:438-445) —
        all eagerly, before any Spark job.
        """
        pairs = _as_pairs(args)
        if not pairs:
            raise EmptyFrame()
        # materialize once: generator/iterator columns must survive both the
        # length check and the coercion below
        pairs = [(k, list(v)) for k, v in pairs]
        registry = OrderedKeys()
        for k, _ in pairs:
            registry.add(k)
        lengths = {k: len(v) for k, v in pairs}
        nrow = lengths[pairs[0][0]]
        for k, n in lengths.items():
            if n != nrow:
                raise ColumnLengthMismatch(nrow, n, key=k)
        element_types = dict(element_types or {})
        fields = [T.StructField(ROW_ID, T.LongType(), False)]
        cols = []
        for k, v in pairs:
            values = list(v)
            dtype = to_spark_type(element_types[k]) if k in element_types \
                else _infer_type(values)
            fields.append(T.StructField(k, dtype, True))
            cols.append(_coerce_values(values, dtype))
        rows = [tuple([i, *vals]) for i, vals in enumerate(zip(*cols))]
        sdf = spark.createDataFrame(rows, schema=T.StructType(fields))
        out = cls(sdf, [k for k, _ in pairs], nrow=nrow)
        out._stable = True  # ROW_ID is literal data
        return out

    @classmethod
    def make_df(cls, spark, keys, columns, element_types=None) -> "SparkFrame":
        """Explicit keys + columns (make-df, cl-data-frame.lisp:397-398)."""
        if len(keys) != len(columns):
            raise ValueError("keys and columns must have the same length")
        return cls.from_columns(spark, list(zip(keys, columns)),
                                element_types=element_types)

    @classmethod
    def matrix_df(cls, spark, keys, matrix) -> "SparkFrame":
        """Row-major matrix + keys -> frame (cl-data-frame.lisp:478-482)."""
        cols = list(zip(*[list(row) for row in matrix]))
        return cls.make_df(spark, list(keys), [list(c) for c in cols])

    @classmethod
    def from_pandas(cls, spark, pdf: pd.DataFrame) -> "SparkFrame":
        pdf = pdf.reset_index(drop=True).copy()
        pdf.insert(0, ROW_ID, range(len(pdf)))
        out = cls(spark.createDataFrame(pdf),
                  [c for c in pdf.columns if c != ROW_ID], nrow=len(pdf))
        out._stable = True  # ROW_ID is literal data
        return out

    @classmethod
    def from_spark(cls, sdf: DataFrame) -> "SparkFrame":
        return cls(sdf)

    # -- introspection (R7, R24, R25) ----------------------------------------

    def keys(self) -> list[str]:
        """Ordered column names (cl-data-frame.lisp:328-331)."""
        return self._keys.keys()

    @property
    def spark_df(self) -> DataFrame:
        """The underlying Spark DataFrame without the ordering column."""
        return self._df.select(*self.keys())

    @property
    def spark_df_with_id(self) -> DataFrame:
        return self._df

    @property
    def nrow(self) -> int:
        """Row count (aops:nrow, cl-data-frame.lisp:447-448); cached."""
        if self._nrow is None:
            self._nrow = self._df.count()
        return self._nrow

    def _guard_collect(self) -> None:
        """Raise ``CollectGuardExceeded`` before a driver-side
        materialization of more than ``MAX_COLLECT_ROWS`` rows. The
        count is cached (``nrow``), so the guard costs at most one
        count job — cheap next to the collect it gates."""
        if MAX_COLLECT_ROWS is not None and self.nrow > MAX_COLLECT_ROWS:
            raise CollectGuardExceeded(self.nrow, MAX_COLLECT_ROWS)

    @property
    def ncol(self) -> int:
        return len(self._keys)

    @property
    def dims(self) -> tuple[int, int]:
        return (self.nrow, self.ncol)

    def column_length(self, key: str) -> int:
        """Length of a column (cl-data-frame.lisp:18-21) — frame row count."""
        self._keys.index(key)
        return self.nrow

    # -- column access (R8-R11) ----------------------------------------------

    def col(self, key: str) -> Column:
        """Lazy Column expression for *key* (the scale path)."""
        self._keys.index(key)
        return F.col(key)

    def column(self, key) -> list:
        """Materialize one column in ingest order (cl-data-frame.lisp:345-349).

        Eager by contract (the reference returns the live vector). Use
        ``col()``/``select()`` for the lazy, distributed path.
        """
        if isinstance(key, int) and not isinstance(key, bool):
            key = self._keys.resolve_position(key)
        self._keys.index(key)
        self._guard_collect()
        rows = self._df.select(ROW_ID, key).orderBy(ROW_ID).collect()
        return [r[1] for r in rows]

    def set_column_(self, key: str, values) -> "SparkFrame":
        """In-place column assignment ((setf column), cl-data-frame.lisp:351-355)."""
        self._keys.index(key)
        self._df = self._with_column_df(key, values)
        return self

    def columns(self, spec=ALL) -> list[list]:
        """All columns, or a key/index slice of them (cl-data-frame.lisp:357-361).

        Supports negative index (cl-data-frame-tests.lisp:54). Eager.
        """
        keys = _resolve_keyspec(self._keys, spec)
        if isinstance(spec, (str, int)) and not isinstance(spec, bool):
            return self.column(keys[0])
        self._guard_collect()
        rows = self._df.select(ROW_ID, *keys).orderBy(ROW_ID).collect()
        return [[r[i + 1] for r in rows] for i in range(len(keys))]

    def select(self, spec=ALL) -> "SparkFrame":
        """Lazy column projection returning a new frame."""
        keys = _resolve_keyspec(self._keys, spec)
        return SparkFrame(self._df.select(ROW_ID, *keys), keys, nrow=self._nrow)

    def map_columns(self, fn: Callable[[Column], Column]) -> "SparkFrame":
        """Apply *fn* to every column, same keys (cl-data-frame.lisp:363-365).

        *fn* maps a Column expression to a Column expression, so Catalyst
        sees through it (whole-stage codegen; no Python round-trip).
        """
        exprs = [fn(F.col(k)).alias(k) for k in self.keys()]
        return SparkFrame(self._df.select(F.col(ROW_ID), *exprs), self.keys(),
                          nrow=self._nrow)

    # -- row machinery --------------------------------------------------------

    def _with_pos(self) -> DataFrame:
        """Attach a dense 0-based position column.

        A global ``row_number`` over ``__row_id__`` — single-partition sort,
        acceptable because positional access is an inherently total-order
        (driver-adjacent) operation; keyed queries never pay this.
        """
        w = Window.orderBy(ROW_ID)
        return self._df.withColumn(_POS, F.row_number().over(w) - 1)

    def _resolve_rows(self, spec) -> tuple[DataFrame, bool]:
        """Resolve a row-axis slice spec -> (filtered df, is_singleton).

        Mirrors ``canonical-representation`` on the row axis (SURVEY §2 R14):
        ALL, a boolean mask Column (bit vector), an int (negatives from the
        end), a Python range/slice, a sequence of ints, or a sequence of
        bools of length nrow.
        """
        if spec is ALL or spec is True or spec is None:
            return self._df, False
        if isinstance(spec, Column):
            return self._df.filter(spec), False
        if isinstance(spec, bool):
            raise TypeError("bool is not a valid row slice")
        if isinstance(spec, int):
            pos = spec if spec >= 0 else self.nrow + spec
            return self._with_pos().filter(F.col(_POS) == pos).drop(_POS), True
        if isinstance(spec, slice):
            start, stop, step = spec.indices(self.nrow)
            positions = list(range(start, stop, step))
            return self._positions_df(positions), False
        if isinstance(spec, range):
            return self._positions_df(list(spec)), False
        try:
            seq = list(spec)
        except TypeError:
            raise TypeError(
                f"Bad row slice: {spec!r} (expected ALL, a boolean Column, "
                f"an int, a slice/range, or a sequence of ints/bools)"
            ) from None
        if seq and all(isinstance(x, bool) for x in seq):
            if len(seq) != self.nrow:
                raise ColumnLengthMismatch(self.nrow, len(seq))
            positions = [i for i, b in enumerate(seq) if b]
            return self._positions_df(positions), False
        if all(isinstance(x, int) for x in seq):
            n = self.nrow if any(x < 0 for x in seq) else None
            positions = [x if x >= 0 else n + x for x in seq]
            return self._positions_df(positions), False
        raise TypeError(f"Bad row slice: {spec!r}")

    def _positions_df(self, positions: list[int]) -> DataFrame:
        """Rows at *positions*, preserving the REQUESTED order and repeats.

        The reference's cl-slice semantics return rows in index order,
        duplicates included (cl-data-frame.lisp:486-500): ``slice([3, 0])``
        is row 3 then row 0, ``slice([1, 1])`` is row 1 twice. A plain
        ``isin`` filter would collapse repeats and keep ingest order, so
        for non-monotonic or repeated indices we join against a literal
        (position -> output order) table and re-derive ``__row_id__`` from
        the requested order. Monotonic unique runs keep the cheap filter.
        """
        if not positions:
            return self._with_pos().filter(F.lit(False)).drop(_POS)
        lo, hi = min(positions), max(positions)
        base = self._with_pos()
        if positions == list(range(lo, hi + 1)):
            return (base.filter((F.col(_POS) >= lo) & (F.col(_POS) <= hi))
                    .drop(_POS))
        if positions == sorted(positions) and len(set(positions)) == len(positions):
            return base.filter(F.col(_POS).isin(positions)).drop(_POS)
        spark = self._df.sparkSession
        order_df = local_frame(
            spark, list(enumerate(positions)),
            T.StructType([
                T.StructField("__out__", T.LongType(), False),
                T.StructField(_POS, T.LongType(), False)]))
        out = (base.drop(ROW_ID)
               .join(F.broadcast(order_df), on=_POS, how="inner")
               .withColumn(ROW_ID, F.col("__out__"))
               .drop(_POS, "__out__"))
        return out

    # -- slice (R12-R14) ------------------------------------------------------

    def slice(self, rows=ALL, cols=ALL):
        """Two-axis slice with singleton collapse (cl-data-frame.lisp:486-500).

        Scalar column spec -> bare column list; scalar row spec ->
        ``DataVector``; both scalar -> scalar; else a new ``SparkFrame``
        (shape dispatch at cl-data-frame.lisp:494-500; tests
        cl-data-frame-tests.lisp:60-70).
        """
        col_scalar = isinstance(cols, (str, int)) and not isinstance(cols, bool)
        row_scalar = isinstance(rows, int) and not isinstance(rows, bool)
        keys = _resolve_keyspec(self._keys, cols)
        filtered, _ = self._resolve_rows(rows)
        if row_scalar:
            collected = filtered.select(*keys).collect()
            if not collected:
                raise IndexError(f"row {rows} out of range")
            row = collected[0]
            if col_scalar:
                return row[0]
            return DataVector(list(zip(keys, row)))
        if col_scalar:
            self._guard_collect()
            rows_out = filtered.select(ROW_ID, keys[0]).orderBy(ROW_ID).collect()
            return [r[1] for r in rows_out]
        return SparkFrame(filtered.select(ROW_ID, *keys), keys)

    def _rows_predicate(self, spec) -> Column:
        """A boolean Column marking the rows a slice spec selects —
        the assignment-side mirror of ``_resolve_rows`` (which filters).
        Positional specs resolve through ``_with_pos``'s dense index,
        so the caller must apply this to a frame carrying ``_POS``."""
        if spec is ALL or spec is True or spec is None:
            return F.lit(True)
        if isinstance(spec, Column):
            return spec
        if isinstance(spec, bool):
            raise TypeError("bool is not a valid row slice")
        if isinstance(spec, int):
            pos = spec if spec >= 0 else self.nrow + spec
            return F.col(_POS) == pos
        if isinstance(spec, (slice, range)):
            # arithmetic predicate, NOT a materialized isin list — a
            # slice(0, 10_000_000) would otherwise compile a 10M-literal
            # expression (driver memory + plan-size blowup); three
            # comparisons cover any start/stop/step (mirrors the
            # read-side _positions_df range compilation)
            if isinstance(spec, slice):
                start, stop, step = spec.indices(self.nrow)
            else:
                start, stop, step = spec.start, spec.stop, spec.step
            if len(range(start, stop, step)) == 0:
                return F.lit(False)
            pos = F.col(_POS)
            if step > 0:
                pred = (pos >= start) & (pos < stop)
                if step != 1:
                    pred &= (pos - start) % step == 0
            else:
                pred = (pos <= start) & (pos > stop) \
                    & ((start - pos) % (-step) == 0)
            return pred
        seq = list(spec)
        if seq and all(isinstance(x, bool) for x in seq):
            if len(seq) != self.nrow:
                raise ColumnLengthMismatch(self.nrow, len(seq))
            positions = [i for i, b in enumerate(seq) if b]
        else:
            n = self.nrow if any(x < 0 for x in seq) else None
            positions = [x if x >= 0 else n + x for x in seq]
        return F.col(_POS).isin(positions) if positions else F.lit(False)

    def set_slice(self, rows, cols, value) -> "SparkFrame":
        """Functional ``(setf slice)`` — the ONE operation the reference
        declared and never built (its own TODO, cl-data-frame.lisp:502):
        assign *value* into the (rows × cols) rectangle and return the
        updated frame. *value* is a scalar (broadcast to every selected
        cell), a Column expression (evaluated per selected row), or a
        dict {key: scalar|Column} giving each target column its own
        value. Every cell outside the rectangle is untouched; column
        dtypes are preserved (the value is cast to the target column's
        existing type, matching the reference's typed-vector columns).

        Plan: one projection of ``when(pred, value).otherwise(col)``
        per target column — no shuffle for mask/ALL row specs; integer/
        positional specs pay the same total-order position attach every
        positional Tier-R op documents.
        """
        target_keys = _resolve_keyspec(self._keys, cols)
        if isinstance(value, dict):
            unknown = set(value) - set(target_keys)
            if unknown:
                raise KeyNotFound(sorted(unknown)[0], target_keys)
            val_for = dict(value)
        else:
            val_for = {k: value for k in target_keys}
        positional = not (rows is ALL or rows is True or rows is None
                         or isinstance(rows, Column))
        base = self._with_pos() if positional else self._df
        pred = self._rows_predicate(rows)
        dtypes = dict(base.dtypes)
        exprs = []
        for k in self.keys():
            if k in val_for:
                v = val_for[k]
                vcol = v if isinstance(v, Column) else F.lit(v)
                exprs.append(F.when(pred, vcol.cast(dtypes[k]))
                             .otherwise(F.col(k)).alias(k))
            else:
                exprs.append(F.col(k))
        out = base.select(F.col(ROW_ID), *exprs)
        return SparkFrame(out, self.keys(), nrow=self._nrow)

    def set_slice_(self, rows, cols, value) -> "SparkFrame":
        """In-place ``(setf slice)`` (mutating twin of ``set_slice``,
        the ``set_column_`` convention)."""
        self._df = self.set_slice(rows, cols, value)._df
        return self

    def filter(self, predicate: Column) -> "SparkFrame":
        """Lazy mask filter (the scale path for slice-by-mask)."""
        return SparkFrame(self._df.filter(predicate), self.keys())

    # -- row-wise operators (R15-R19) ------------------------------------------

    def _row_fn_column(self, keys: Sequence[str], fn, element_type=None,
                       vectorized=False) -> Column:
        """Compile a row function over *keys* into a Column.

        Expression-first: if *fn* applied to Column objects yields a Column,
        Catalyst executes it JVM-side (whole-stage codegen). Otherwise fall
        back to an Arrow-vectorized ``pandas_udf`` (requires an explicit
        ``element_type``, since Spark needs a declared return type).
        """
        keys = [k for k in keys]
        for k in keys:
            self._keys.index(k)
        if isinstance(fn, Column):
            return fn
        if not vectorized:
            try:
                candidate = fn(*[F.col(k) for k in keys])
                if isinstance(candidate, Column):
                    return candidate
            except Exception:
                pass
        if element_type is None:
            raise TypeError(
                "This row function is not expressible as a Column expression; "
                "pass element_type= for the pandas_udf fallback "
                "(reference: element-type keyword, cl-data-frame.lisp:506-510)"
            )
        ret = to_spark_type(element_type)
        if vectorized:
            udf = F.pandas_udf(fn, returnType=ret)
        else:
            def _wrapped(*series: pd.Series) -> pd.Series:
                return pd.Series([fn(*vals) for vals in zip(*series)])
            udf = F.pandas_udf(_wrapped, returnType=ret)
        return udf(*[F.col(k) for k in keys])

    def mask_rows(self, keys, predicate, vectorized=False) -> Column:
        """Predicate over chosen columns -> boolean mask column
        (cl-data-frame.lisp:554-559). Composes with ``slice``/``filter``."""
        expr = self._row_fn_column(keys, predicate, element_type="boolean",
                                   vectorized=vectorized)
        return expr.cast("boolean")

    def count_rows(self, keys, predicate, vectorized=False) -> int:
        """Count rows where predicate holds (cl-data-frame.lisp:561-568)."""
        return self._df.filter(self.mask_rows(keys, predicate,
                                              vectorized=vectorized)).count()

    def map_rows(self, keys, fn, element_type=None, vectorized=False) -> Column:
        """Row-wise function over chosen columns -> one new column
        (cl-data-frame.lisp:506-516). Returns a Column to compose with
        ``add_columns`` (pattern: cl-data-frame-tests.lisp:141-144)."""
        return self._row_fn_column(keys, fn, element_type, vectorized)

    def map_rows_values(self, keys, fn, element_type=None, vectorized=False) -> list:
        """Eager variant returning materialized values in ingest order."""
        col = self.map_rows(keys, fn, element_type, vectorized)
        self._guard_collect()
        rows = self._df.select(ROW_ID, col.alias("__v__")).orderBy(ROW_ID).collect()
        return [r[1] for r in rows]

    def do_rows(self, keys, fn) -> None:
        """Row-wise side effects, first->last order (cl-data-frame.lisp:518-526).

        Driver-side ``toLocalIterator`` over the ingest ordering — order is
        only defined under an explicit sort in Spark, so we sort on
        ``__row_id__``. Inherently non-distributed, as in the reference.
        """
        keys = list(keys)
        for k in keys:
            self._keys.index(k)
        it = self._df.select(ROW_ID, *keys).orderBy(ROW_ID).toLocalIterator()
        for row in it:
            fn(*row[1:])

    def map_df(self, keys, fn, result_keys) -> "SparkFrame":
        """Row-wise function -> multiple typed output columns, new frame
        (cl-data-frame.lisp:528-552; typed result specs tested at
        cl-data-frame-tests.lisp:81-88).

        *result_keys*: list of ``name`` or ``(name, element_type)``.
        Executed with ``mapInPandas`` (Arrow batches); the declared output
        schema enforces per-row arity/type like the reference's assert
        (cl-data-frame.lisp:548). ``__row_id__`` is threaded through so
        results keep ingest order.
        """
        keys = list(keys)
        for k in keys:
            self._keys.index(k)
        specs: list[tuple[str, T.DataType]] = []
        for rk in result_keys:
            if isinstance(rk, str):
                specs.append((rk, T.StringType()))
            else:
                name, etype = rk
                specs.append((name, to_spark_type(etype)))
        out_names = [name for name, _ in specs]
        schema = T.StructType(
            [T.StructField(ROW_ID, T.LongType(), False)]
            + [T.StructField(name, dtype, True) for name, dtype in specs]
        )
        n_out = len(specs)

        def _map(batches):
            for pdf in batches:
                results = [fn(*vals) for vals in
                           zip(*[pdf[k] for k in keys])]
                for r in results:
                    if len(r) != n_out:
                        raise ValueError(
                            f"map_df function returned {len(r)} values, "
                            f"expected {n_out}")
                out = pd.DataFrame(
                    {ROW_ID: pdf[ROW_ID],
                     **{name: [r[i] for r in results]
                        for i, (name, _) in enumerate(specs)}})
                yield out

        sdf = self._df.select(ROW_ID, *keys).mapInPandas(_map, schema=schema)
        return SparkFrame(sdf, out_names, nrow=self._nrow)

    # -- add / replace / copy (R20-R23) ----------------------------------------

    def _stabilize(self) -> None:
        """Pin ROW_ID values by materializing the current plan.

        ``monotonically_increasing_id`` on a shuffled lineage (join, groupBy,
        ``from_spark``) can be recomputed differently per action; any
        operation that reads ids in one action and reuses them in another
        must checkpoint first. Literal-data frames are born stable.
        """
        if not self._stable:
            self._df = self._df.localCheckpoint(eager=True)
            self._stable = True

    def _with_column_df(self, key: str, value) -> DataFrame:
        """Build the underlying df with *key* set to *value*.

        *value* may be a Column expression (lazy, preferred), a scalar
        (becomes a literal), or a driver-side sequence of length nrow
        (attached by a broadcast equi-join on ``__row_id__`` — literal
        columns are driver data by definition).
        """
        if isinstance(value, Column):
            return self._df.withColumn(key, value)
        if isinstance(value, (list, tuple)) or hasattr(value, "__array__"):
            values = list(value)
            if len(values) != self.nrow:
                raise ColumnLengthMismatch(self.nrow, len(values), key=key)
            # Pin ROW_ID before reading it: the ids are collected in one
            # action here and joined against the plan in later actions, so
            # a lazily-recomputed monotonically_increasing_id could attach
            # values to the wrong rows on a shuffled lineage.
            self._stabilize()
            self._guard_collect()
            spark = self._df.sparkSession
            ids = [r[0] for r in
                   self._df.select(ROW_ID).orderBy(ROW_ID).collect()]
            dtype = _infer_type(values)
            # user values stay on the list path, not session.local_frame:
            # Arrow reads a naive datetime as UTC where this path (and
            # collect) use the OS zone, so they would not round-trip
            lit_df = spark.createDataFrame(
                list(zip(ids, _coerce_values(values, dtype))),
                schema=T.StructType([
                    T.StructField(ROW_ID, T.LongType(), False),
                    T.StructField(key, dtype, True)]))
            base = self._df.drop(key) if key in self._df.columns else self._df
            return base.join(F.broadcast(lit_df), on=ROW_ID, how="left")
        return self._df.withColumn(key, F.lit(value))

    def add_column_(self, key: str, column) -> "SparkFrame":
        """Destructive append (add-column!, cl-data-frame.lisp:367-373):
        duplicate-key error, length-checked, mutates this wrapper."""
        if key in self._keys:
            self._keys.add(key)  # raises DuplicateKey with the message
        # build (and length-check) the new df BEFORE mutating the key
        # registry, so a failed add leaves the wrapper untouched
        new_df = self._with_column_df(key, column)
        self._keys.add(key)
        self._df = new_df.select(ROW_ID, *self._keys.keys())
        return self

    def add_columns_(self, *args) -> "SparkFrame":
        """Destructive multi-append (add-columns!, cl-data-frame.lisp:375-380)."""
        for k, v in _as_pairs(args):
            self.add_column_(k, v)
        return self

    def add_columns(self, *args) -> "SparkFrame":
        """Non-destructive append: copy then add (cl-data-frame.lisp:382-385)."""
        return self.copy().add_columns_(*args)

    def replace_column_(self, key: str, fn_or_column, element_type=None) -> "SparkFrame":
        """Replace a column in place with a column, scalar sequence, or a
        function of the current values (replace-column!,
        cl-data-frame.lisp:570-579)."""
        self._keys.index(key)
        if callable(fn_or_column) and not isinstance(fn_or_column, Column):
            new_col = self._row_fn_column([key], fn_or_column, element_type)
            self._df = self._df.withColumn(key, new_col)
        else:
            self._df = self._with_column_df(key, fn_or_column).select(
                ROW_ID, *self._keys.keys())
        return self

    def replace_column(self, key, fn_or_column, element_type=None) -> "SparkFrame":
        """Non-destructive replace (cl-data-frame.lisp:581-583)."""
        return self.copy().replace_column_(key, fn_or_column, element_type)

    # -- missing-data surface (engine completion; the reference has no NA
    #    concept — cl-data-frame.lisp:268-269 stores arbitrary vectors — but
    #    every real tabular user needs these in week one) -----------------------

    def _na_subset(self, keys) -> list[str]:
        """Validate an NA-op column subset (KeyNotFound on misses);
        None means every user column."""
        if keys is None:
            return self.keys()
        keys = [keys] if isinstance(keys, str) else list(keys)
        for k in keys:
            self._keys.index(k)
        return keys

    def fill_na_(self, value, keys=None) -> "SparkFrame":
        """Destructive NULL fill. *value* is a scalar (applied to every
        type-compatible column in *keys*) or a {key: value} mapping.
        Catalyst-native ``DataFrameNaFunctions.fill`` — a narrow
        projection, no shuffle, fully whole-stage-codegen."""
        if isinstance(value, Mapping):
            for k in value:
                self._keys.index(k)
            self._df = self._df.na.fill(dict(value))
        else:
            self._df = self._df.na.fill(value, subset=self._na_subset(keys))
        return self

    def fill_na(self, value, keys=None) -> "SparkFrame":
        """Non-destructive NULL fill: copy then fill."""
        return self.copy().fill_na_(value, keys)

    def drop_na_(self, keys=None, how: str = "any",
                 thresh: int | None = None) -> "SparkFrame":
        """Destructive NULL-row drop over *keys* (default: all user
        columns — the hidden row-id is never consulted). ``how`` is
        'any'/'all'; ``thresh`` keeps rows with at least that many
        non-NULLs among *keys*. A narrow Catalyst filter."""
        self._df = self._df.na.drop(how=how, thresh=thresh,
                                    subset=self._na_subset(keys))
        self._nrow = None  # row count changed; recount lazily
        return self

    def drop_na(self, keys=None, how: str = "any",
                thresh: int | None = None) -> "SparkFrame":
        """Non-destructive NULL-row drop: copy then drop."""
        return self.copy().drop_na_(keys, how, thresh)

    def replace_values_(self, to_replace, value=None, keys=None) -> "SparkFrame":
        """Destructive value substitution: *to_replace* is a scalar, a
        list (with *value* the replacement), or a {old: new} mapping,
        applied over *keys* (default all). NULL replacements are
        allowed ({old: None} nulls matching cells). Narrow
        ``DataFrameNaFunctions.replace`` projection, no shuffle."""
        self._df = self._df.na.replace(to_replace, value,
                                       subset=self._na_subset(keys))
        return self

    def replace_values(self, to_replace, value=None, keys=None) -> "SparkFrame":
        """Non-destructive value substitution: copy then replace."""
        return self.copy().replace_values_(to_replace, value, keys)

    def rename_columns_(self, mapping: Mapping[str, str]) -> "SparkFrame":
        """Destructive key rename ({old: new}): column order preserved,
        KeyNotFound on a missing old key, DuplicateKey when a new name
        collides with a surviving key. A Catalyst projection — no data
        movement."""
        for old in mapping:
            self._keys.index(old)
        old_keys = self.keys()
        new_keys = [mapping.get(k, k) for k in old_keys]
        self._keys = OrderedKeys(new_keys)  # raises DuplicateKey
        self._df = self._df.select(
            ROW_ID, *[F.col(o).alias(n) if o != n else F.col(o)
                      for o, n in zip(old_keys, new_keys)])
        return self

    def rename_columns(self, mapping: Mapping[str, str]) -> "SparkFrame":
        """Non-destructive key rename: copy then rename."""
        return self.copy().rename_columns_(mapping)

    def cast_columns_(self, mapping: Mapping[str, object]) -> "SparkFrame":
        """Destructive typed cast ({key: type}; Spark type names,
        DataType objects, or the engine's element-type aliases).
        KeyNotFound on a missing key; column order preserved. A
        Catalyst projection — no data movement."""
        for k in mapping:
            self._keys.index(k)
        exprs = []
        for k in self.keys():
            if k in mapping:
                exprs.append(F.col(k).cast(
                    to_spark_type(mapping[k])).alias(k))
            else:
                exprs.append(F.col(k))
        self._df = self._df.select(ROW_ID, *exprs)
        return self

    def cast_columns(self, mapping: Mapping[str, object]) -> "SparkFrame":
        """Non-destructive typed cast: copy then cast."""
        return self.copy().cast_columns_(mapping)

    def persist_(self, storage_level=None) -> "SparkFrame":
        """Pin this frame's lineage in executor memory/disk (Spark
        ``persist``): the pay-once substrate move when a frame feeds
        several downstream plans. Default MEMORY_AND_DISK."""
        from pyspark import StorageLevel
        self._df = self._df.persist(
            storage_level or StorageLevel.MEMORY_AND_DISK)
        return self

    def unpersist_(self) -> "SparkFrame":
        """Release blocks pinned by ``persist_``."""
        self._df = self._df.unpersist()
        return self

    def copy(self) -> "SparkFrame":
        """Copy the wrapper: keys deep-copied, the immutable DataFrame shared
        (exactly the reference's shallow copy, cl-data-frame.lisp:337-343)."""
        new = SparkFrame.__new__(SparkFrame)
        new._keys = self._keys.copy()
        new._df = self._df
        new._nrow = self._nrow
        new._stable = self._stable
        return new

    # -- export (R5, R6) --------------------------------------------------------

    def to_pandas(self) -> pd.DataFrame:
        """Arrow-path collection in ingest order."""
        self._guard_collect()
        return (self._df.orderBy(ROW_ID).drop(ROW_ID).toPandas())

    def as_dict(self) -> dict[str, list]:
        """Frame -> {key: column values} (as-alist, cl-data-frame.lisp:333-335)."""
        pdf = self.to_pandas()
        return {k: list(pdf[k]) for k in self.keys()}

    def as_alist(self) -> list[tuple[str, list]]:
        return list(self.as_dict().items())

    def as_plist(self) -> list:
        out: list = []
        for k, v in self.as_dict().items():
            out += [k, v]
        return out

    def as_array(self):
        """Frame -> row-major matrix (aops:as-array, cl-data-frame.lisp:456-458)."""
        return self.to_pandas().to_numpy()

    def collect(self) -> list[dict]:
        """All rows as dicts, ingest order."""
        self._guard_collect()
        rows = self._df.orderBy(ROW_ID).drop(ROW_ID).collect()
        return [r.asDict() for r in rows]

    # -- summaries / printing (R26-R28) ------------------------------------------

    def explode_column(self, key: str, pos_key: str | None = None
                       ) -> "SparkFrame":
        """Array column → one row per element (long form), other
        columns repeated; ``pos_key`` optionally adds the 0-based
        within-array position. A narrow generator — no shuffle.

        The exploded frame mints FRESH row ids (the parent id would
        repeat per element, breaking the unique-row-id invariant that
        ``_with_column_df`` and positional ops depend on). The generator
        is narrow, so fresh ids preserve (parent-partition-order,
        element-position) ordering deterministically."""
        self._keys.index(key)
        others = [k for k in self.keys() if k != key]
        if pos_key:
            gen = F.posexplode(F.col(key)).alias(pos_key, key)
        else:
            gen = F.explode(F.col(key)).alias(key)
        cols = others + ([pos_key] if pos_key else []) + [key]
        # drop the (now non-unique) parent id; the constructor mints fresh
        # monotonically_increasing_id values over the narrow exploded
        # lineage, which emits elements in (parent row, position) order
        return SparkFrame(self._df.select(*others, gen).select(*cols))

    def collect_column(self, group_keys, value_key: str,
                       sort_key: str | None = None,
                       out_key: str | None = None) -> "SparkFrame":
        """Rows → one array per group (wide form): the inverse of
        ``explode_column``. ``sort_key`` pins element order inside the
        array (sorted (sort_key, value) structs — deterministic on any
        engine; without it Spark's collect order is undefined). One
        hash shuffle on the group keys."""
        gks = [group_keys] if isinstance(group_keys, str) \
            else list(group_keys)
        for k in (*gks, value_key, *( [sort_key] if sort_key else [])):
            self._keys.index(k)
        out_key = out_key or f"{value_key}s"
        if sort_key:
            arr = F.transform(
                F.array_sort(F.collect_list(
                    F.struct(F.col(sort_key).alias("s"),
                             F.col(value_key).alias("v")))),
                lambda x: x["v"])
        else:
            arr = F.collect_list(F.col(value_key))
        out = (self._df.groupBy(*gks).agg(arr.alias(out_key)))
        return SparkFrame(out)

    # -- relational conveniences (delegates into operators.relational so a
    #    migrating user can stay on the frame API end to end) ----------------

    def join(self, other: "SparkFrame", on, how: str = "inner",
             broadcast_right: bool = False) -> "SparkFrame":
        """Relational join (all Spark join types; ``broadcast_right``
        hints the small-dim side). Delegates to ``relational.join``."""
        from .operators.relational import join as _join
        return _join(self, other, on, how=how,
                     broadcast_right=broadcast_right)

    def group_agg(self, group_keys, aggs,
                  kind: str = "groupby") -> "SparkFrame":
        """Hash aggregation ({name: agg Column}); ``kind`` selects
        groupby/rollup/cube/grouping_sets. Delegates to ``relational.group_agg``."""
        from .operators.relational import group_agg as _ga
        keys = [group_keys] if isinstance(group_keys, str) else list(group_keys)
        for k in keys:
            self._keys.index(k)
        return _ga(self, keys, aggs, kind=kind)

    def order_by(self, *cols, ascending=True) -> "SparkFrame":
        """Total order (global sort — the explicit opt-in Spark needs
        before positional slicing). Delegates to ``relational.order_by``."""
        from .operators.relational import order_by as _ob
        return _ob(self, *cols, ascending=ascending)

    def union(self, other: "SparkFrame", by_name: bool = True) -> "SparkFrame":
        """Row union (by column name by default). Delegates to
        ``relational.union``."""
        from .operators.relational import union as _un
        return _un(self, other, by_name=by_name)

    def describe(self, keys=None, approximate: bool = False) -> "SparkFrame":
        """Whole-frame profile (pandas ``describe`` analog): one row per
        column with n_rows/n_null/n_distinct/min/max/mean — delegates to
        ``summary.profile_table`` (two family-split hash aggregations;
        ``approximate=True`` swaps exact distinct counts for HLL++ on
        the 100 TB path)."""
        from .summary import profile_table
        cols = self._na_subset(keys) if keys is not None else None
        return profile_table(self, cols, approximate=approximate)

    def value_counts(self, key: str, k: int = 20) -> "SparkFrame":
        """Top-k values of one column by count (pandas ``value_counts``
        analog): exact, ties broken by value — delegates to
        ``stats.top_frequent`` (hash aggregation + TakeOrdered)."""
        self._keys.index(key)
        from .operators.stats import top_frequent
        return top_frequent(self, key, k=k)

    def column_summary(self, key: str, approximate: bool = False):
        from .summary import column_summary
        return column_summary(self, key, approximate=approximate)

    def __repr__(self) -> str:
        from .summary import frame_repr
        return frame_repr(self)

    def show(self, n: int = 20) -> None:
        self._df.orderBy(ROW_ID).drop(ROW_ID).show(n)

    def explain(self, mode: str = "formatted") -> None:
        self.spark_df.explain(mode)

    def __eq__(self, other):
        if isinstance(other, SparkFrame):
            return self.keys() == other.keys() and self.as_dict() == other.as_dict()
        return NotImplemented


# module-level constructor sugar matching the reference's exported names ----

def df(spark: SparkSession, *args, element_types=None) -> SparkFrame:
    """Variadic plist/alist/dict constructor (df, cl-data-frame.lisp:403-406)."""
    return SparkFrame.from_columns(spark, *args, element_types=element_types)


def dv(*args) -> DataVector:
    """Variadic data-vector constructor (dv, cl-data-frame.lisp:403-406)."""
    return DataVector(*args)


def make_df(spark, keys, columns, element_types=None) -> SparkFrame:
    return SparkFrame.make_df(spark, keys, columns, element_types)


def alist_df(spark, alist) -> SparkFrame:
    """Alist constructor (cl-data-frame.lisp:315-322,399-402)."""
    return SparkFrame.from_columns(spark, list(alist))


def plist_df(spark, plist) -> SparkFrame:
    """Plist constructor (cl-data-frame.lisp:320-322,401-402)."""
    return SparkFrame.from_columns(spark, *list(plist))


def matrix_df(spark, keys, matrix) -> SparkFrame:
    return SparkFrame.matrix_df(spark, keys, matrix)
