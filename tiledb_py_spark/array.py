"""Array: the user-facing query surface, executed by Spark.

Re-expresses the reference's ``Array``/``DenseArray``/``SparseArray``/
``Query`` classes (``/root/reference/tiledb/array.py:301-1219``,
``dense_array.py``, ``sparse_array.py``, ``query.py``) on the
parquet-fragment + JSON-manifest storage of manifest.py.

Read pipeline (the Spark rebuild of SURVEY.md §3):

    manifest -> time-travel fragment selection -> MBR fragment pruning
      -> spark.read.parquet(pruned fragments)
      -> .filter(range predicate ∧ query condition)   [pushed into scan]
      -> delete-fragment anti-predicates
      -> duplicate-coordinate resolution (last fragment wins)
      -> .select(projection) -> optional ORDER BY dims
      -> DataFrame  (collect/toPandas only at the user-facing edge)

Scale design: everything before ``spark.read`` is driver-side manifest
metadata (O(#fragments), no data touched); everything after is a single
declarative DataFrame plan Catalyst can optimize (predicate pushdown into
parquet row-group stats, column pruning, whole-stage codegen).  The
sparse dedup path only materializes when >1 overlapping fragment exists
and the schema forbids duplicates.
"""

from __future__ import annotations

import numbers
import os
from collections import OrderedDict
from functools import reduce
from typing import Any, Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import manifest as mf
from .aggregation import _qcol, compute_aggregates, normalize_agg_spec, unwrap
from .functions.query_condition import compile_condition, schema_context
from .indexing import (getitem_ranges_multi_index, index_as_tuple,
                       index_domain_subarray, replace_ellipsis,
                       replace_scalars_slice)
from .materialize import pdf_to_numpy_dict
from .metadata import Metadata
from .datatypes import stored_scalar
from .plans import DimRanges, QueryPlan
from .plans.range_ir import mbr_intersects
from .schema import ArraySchema
from .session import get_spark
from .sources.fragment_writer import (range_layout, write_fragment_pandas,
                                      write_fragment_spark)

_ORDER_MAP = {"C": "row-major", "F": "col-major", "G": "global", "U": "unordered"}


def _decode_mbr(schema: ArraySchema, mbr: dict) -> dict:
    """Manifest MBR values back to STORED-space comparables: int64-stored
    datetime dims stay (or become) raw ints so pruning compares int-vs-int
    against stored-space ranges (datetime-vs-int mixing raised ValueError
    inside np.datetime64 and crashed fragment pruning)."""
    out = {}
    for d in schema.domain:
        box = mbr.get(d.name)
        if box is None:
            continue
        lo, hi = box
        if d.dtype.kind in "Mm":
            if isinstance(lo, str):
                lo, hi = np.datetime64(lo), np.datetime64(hi)
            lo, hi = stored_scalar(lo, d.dtype), stored_scalar(hi, d.dtype)
        out[d.name] = (lo, hi)
    return out


class Array:
    """Open handle on an array at a version/timestamp
    (reference ``Array.__init__``/``preload_array``, ``array.py:301-386``)."""

    def __init__(self, uri: str, mode: str = "r",
                 timestamp: Optional[Any] = None, attr: Optional[str] = None,
                 spark: Optional[SparkSession] = None, _manifest=None):
        if mode not in ("r", "w", "d", "m"):
            raise ValueError(f"invalid mode {mode!r}")
        self.uri = uri
        self.mode = mode
        self.timestamp = timestamp
        self.view_attr = attr
        self._manifest = _manifest if _manifest is not None \
            else mf.read_manifest(uri)
        self._spark = spark
        self._closed = False
        if attr is not None and not self._manifest.schema.has_attr(attr):
            raise KeyError(f"no attribute {attr!r}")

    # -- construction --------------------------------------------------------
    @classmethod
    def create(cls, uri: str, schema: ArraySchema, overwrite: bool = False,
               key=None):
        """``key`` (reference ``array.py:301-386``) is accepted for API
        parity but UNSUPPORTED — see :func:`highlevel.open`: a non-None
        key raises rather than silently writing plaintext."""
        if key is not None:
            from .functions.query_condition import TileDBError

            raise TileDBError(
                "encryption keys are not supported: fragments are "
                "parquet files — use parquet modular encryption or "
                "storage-level encryption (SSE/KMS) instead of a "
                "per-array key")
        if overwrite and mf.array_exists(uri):
            mf.delete_array(uri)
        mf.create_array(uri, schema)

    @classmethod
    def load_typed(cls, uri: str, mode: str = "r", timestamp=None, attr=None,
                   spark=None) -> "Array":
        # hand the parsed manifest to the constructor — reading it twice
        # per open doubled open latency on fragment-heavy arrays
        m = mf.read_manifest(uri)
        klass = SparseArray if m.schema.sparse else DenseArray
        return klass(uri, mode=mode, timestamp=timestamp, attr=attr,
                     spark=spark, _manifest=m)

    # -- basics --------------------------------------------------------------
    @property
    def spark(self) -> SparkSession:
        if self._spark is None:
            self._spark = get_spark()
        return self._spark

    @property
    def schema(self) -> ArraySchema:
        return self._manifest.schema

    @property
    def meta(self) -> Metadata:
        return Metadata(self.uri)

    @property
    def ndim(self) -> int:
        return self.schema.ndim

    @property
    def domain(self):
        return self.schema.domain

    @property
    def dtype(self):
        if self.view_attr:
            return self.schema.attr(self.view_attr).dtype
        if self.schema.nattr == 1:
            return self.schema.attr(0).dtype
        raise NotImplementedError("dtype undefined for multi-attribute array")

    @property
    def nattr(self) -> int:
        return 1 if self.view_attr else self.schema.nattr

    @property
    def shape(self):
        return self.schema.shape

    @property
    def sparse(self) -> bool:
        return self.schema.sparse

    @property
    def iswritable(self) -> bool:
        """True when opened writable (reference ``array.py:522-524``)."""
        return self.mode == "w"

    @property
    def timestamp_range(self) -> tuple:
        """The (start, end) timestamp range the array was opened at
        (reference ``array.py:565-574``); an unpinned open reads
        everything, i.e. ``(0, now)``."""
        ts = self.timestamp
        if ts is None:
            return (0, mf.now_ms())
        if isinstance(ts, tuple):
            lo, hi = ts
            return (0 if lo is None else lo,
                    mf.now_ms() if hi is None else hi)
        return (0, ts)

    def attr(self, key):
        """Attr by index or name (reference ``array.py:588-596``)."""
        return self.schema.attr(key)

    @property
    def attr_names(self) -> list:
        """Attribute names (reference ``array.py:598-601``)."""
        return self.schema.attr_names

    def dim(self, dim_id):
        """Dim by index or name (reference ``array.py:603-611``)."""
        return self.schema.domain.dim(dim_id)

    def enum(self, name: str):
        """The Enumeration bound to attribute ``name`` (reference
        ``array.py:613-622``)."""
        label = self.schema.attr(name).enum_label
        if label is None:
            from .functions.query_condition import TileDBError

            raise TileDBError(
                f"attribute {name!r} has no enumeration")
        return self.schema.enums[label]

    @property
    def dindex(self):
        """Alias of :attr:`domain_index` (reference ``array.py:817``)."""
        return self.domain_index

    def dump(self) -> None:
        """Print the array schema (reference ``array.py:810-811``)."""
        self.schema.dump()

    @property
    def last_write_info(self) -> dict:
        """{fragment_uri: (timestamp, timestamp)} of writes made through
        THIS handle (reference ``array.py:1161-1163``
        last_fragment_info); empty before the first write."""
        return dict(getattr(self, "_last_fragment_info", {}))

    @staticmethod
    def delete_array(uri: str, ctx=None) -> None:
        """Delete the array's data (reference ``array.py:662-688``) —
        one deletion implementation, shared with ``tiledb.delete_array``
        (manifest.py)."""
        u = mf.require_local_uri(uri)
        try:
            mf.delete_array(u)
        except FileNotFoundError:
            from .functions.query_condition import TileDBError

            raise TileDBError(f"Array URI {uri!r} does not exist")

    def upgrade_version(self, config=None) -> None:
        """Upgrade to the latest storage format (reference
        ``array.py:794-807``); this engine has a single manifest format
        version, so an existing array is already current."""
        mf.read_manifest(self.uri)  # fresh probe: raises if gone

    @property
    def ptr(self):
        """UNSUPPORTED: the reference exposes the libtiledb C array
        handle (reference ``array.py:808``); this engine has no native
        handle — refuse loudly rather than hand back a fake pointer."""
        from .functions.query_condition import TileDBError

        raise TileDBError(
            "Array.ptr exposes the libtiledb C handle; this engine is "
            "Spark-native and has no native array handle")

    def set_query(self, serialized_query) -> None:
        """UNSUPPORTED (S26 non-goal, reference ``core.cc:712-735``):
        serialized-query handoff is covered by Spark Connect in this
        architecture — see SURVEY §2 S26."""
        raise NotImplementedError(
            "set_query(serialized) is not supported: serialized-query "
            "handoff is a declared non-goal (Spark Connect covers the "
            "remote-execution shape; SURVEY §2 S26)")

    def reopen(self):
        self._manifest = mf.read_manifest(self.uri)

    def close(self):
        self._closed = True

    @property
    def isopen(self) -> bool:
        return not self._closed

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()

    def nonempty_domain(self):
        """Per-dim (min, max) over written cells, answered from the manifest
        (reference ``array.py:687-727`` runs a core query; ours is free)."""
        ned = self._manifest.nonempty_domain(self.timestamp)
        if ned is None:
            return None
        out = []
        for d, (lo, hi) in zip(self.schema.domain, ned):
            if lo is None:
                out.append((None, None))
                continue
            if d.dtype.kind == "M":
                unit = np.datetime_data(d.dtype)[0]
                # int64-stored units record raw counts in the manifest
                conv = lambda v: (np.datetime64(int(v), unit)
                                  if isinstance(v, (int, np.integer))
                                  else np.datetime64(v).astype(d.dtype))
                out.append((conv(lo), conv(hi)))
            elif d.dtype.kind == "m":
                unit = np.datetime_data(d.dtype)[0]
                out.append((np.timedelta64(int(lo), unit),
                            np.timedelta64(int(hi), unit)))
            elif d.dtype.kind in "iu":
                out.append((d.dtype.type(lo), d.dtype.type(hi)))
            elif d.dtype.kind == "f":
                out.append((float(lo), float(hi)))
            else:
                out.append((lo, hi))
        return tuple(out)

    # -- the scan ------------------------------------------------------------
    def _fill_evolved(self, df: DataFrame, frs) -> DataFrame:
        """Schema-evolution fill: fragments written before an attr existed
        read NULL for it from parquet; TileDB semantics give such cells the
        attr's fill value (non-nullable attrs can't surface nulls).  Only
        applied when some scanned fragment predates the current schema
        version — the common unevolved scan keeps its raw pushdown-friendly
        columns."""
        sv = self._manifest.schema_version
        if not frs or all(f.schema_version >= sv for f in frs):
            return df
        for a in self.schema.attrs_list:
            if a.nullable or a.name not in df.columns:
                continue
            fill = stored_scalar(a.fill, a.dtype) if a.fill is not None else None
            if fill is not None:
                df = df.withColumn(a.name, F.coalesce(F.col(a.name), F.lit(fill)))
        return df

    def _read_fragments(self, frs, order: Optional[dict] = None) -> DataFrame:
        """One parquet scan per group of fragments masking the same attrs
        (``Manifest.masked_attrs``: a fragment predating a drop/re-add
        reads that attr as its fill or NULL, never the predecessor's
        column).  ``order`` (name -> ``frag_order_key``) adds ``__frag_ts``;
        a row whose fragment is not in it fails the query."""
        sschema = self.schema.spark_schema()
        fills = {a.name: (stored_scalar(a.fill, a.dtype)
                          if a.fill is not None and not a.nullable else None)
                 for a in self.schema.attrs_list}
        groups: dict = {}
        for f in frs:
            groups.setdefault(self._manifest.masked_attrs(f.schema_version),
                              []).append(f)
        parts = []
        for masked, grp in groups.items():
            keep = T.StructType([x for x in sschema.fields
                                 if x.name not in masked])
            df = self.spark.read.schema(keep).parquet(
                *[mf.fragment_path(self.uri, f) for f in grp])
            cols = [F.lit(fills[x.name]).cast(x.dataType).alias(x.name)
                    if x.name in masked else _qcol(x.name)
                    for x in sschema.fields]
            if order is not None:
                path = F.col("_metadata.file_path")
                frag = F.substring_index(F.substring_index(path, "/", -2), "/", 1)
                keys = F.create_map(*[F.lit(x) for kv in order.items()
                                      for x in kv])
                cols.append(F.coalesce(
                    F.element_at(keys, frag),
                    F.raise_error(F.concat(
                        F.lit("file is in no fragment of this read: "),
                        path))).alias("__frag_ts"))
            parts.append(df.select(*cols))
        return reduce(lambda a, b: a.unionByName(b), parts)

    def _stored_ranges(self, dim_ranges):
        """Rewrite range bounds/points into each dim's STORED representation
        (int64 counts for ns / coarser-than-day datetime dims) so the
        compiled predicate compares like-typed values against the scan and
        MBR pruning compares int-vs-int.  Idempotent — raw ints pass
        through — so double application along _execute -> _scan_df is safe."""
        if not dim_ranges:
            return dim_ranges
        dims = {d.name: d for d in self.schema.domain}
        out = []
        for dr in dim_ranges:
            d = dims.get(dr.name)
            if d is None or d.dtype.kind not in "Mm":
                out.append(dr)
                continue
            conv = lambda v, _dt=d.dtype: stored_scalar(v, _dt)
            out.append(DimRanges(
                name=dr.name,
                intervals=[(conv(lo), conv(hi)) for lo, hi in dr.intervals],
                points=[conv(p) for p in dr.points]))
        return out

    def _compile_cond(self, cond) -> Optional[Column]:
        return compile_condition(cond, **schema_context(self.schema))

    def _empty_df(self) -> DataFrame:
        return self.spark.createDataFrame([], self.schema.spark_schema())

    def _empty_projected(self, plan: QueryPlan) -> DataFrame:
        """Zero-row result with the plan's projection (EmptyRange reads)."""
        dims = list(plan.dims) if plan.dims is not None else self.schema.dim_names
        attrs = list(plan.attrs) if plan.attrs is not None else (
            [self.view_attr] if self.view_attr else self.schema.attr_names)
        return self._empty_df().select(*dims, *attrs)

    def _scan_df(self, dim_ranges: Optional[Sequence[DimRanges]] = None,
                 keep_frag_ts: bool = False,
                 fragments: Optional[set] = None,
                 max_delete_ts: Optional[int] = None,
                 layout: Sequence[str] = ()) -> DataFrame:
        """Fragment-pruned scan with deletes + duplicate resolution: ONE
        parquet scan whatever the fragment count.  Each row's LWW order
        comes from its file path via a map literal (by reference in
        generated code; a per-fragment ``lit`` compiles one class per
        fragment).  The map grows with the number of live fragments.
        ``keep_frag_ts`` retains the fragment-order column for 'G'
        (global-order) reads.  ``fragments`` restricts the scan to the
        named write fragments (partial consolidation).
        ``max_delete_ts`` excludes delete fragments committed after that
        ms — partial consolidation passes its product timestamp so a
        LATER delete is never materialized into a product stamped
        earlier (which would corrupt post-write/pre-delete timestamped
        opens; the un-materialized delete stays live and anti-applies
        on read instead).

        ``layout`` (dim names) lays the rows out by ranges of those
        keys through :func:`range_layout`: range-partitioned, sorted
        within each partition.  The last-write-wins merge then runs on
        that one exchange — range partitioning on any subset of the
        dims clusters the ``groupBy(dims)`` — instead of its own hash
        exchange, and an ``orderBy(*layout)`` above plans no exchange.
        Empty (the default) keeps the hash-partitioned merge, for
        readers that discard order."""
        m = self._manifest
        frs = m.live_fragments(self.timestamp)
        if fragments is not None:
            frs = [f for f in frs if f.name in fragments]
        n_live = len(frs)
        dim_ranges = self._stored_ranges(dim_ranges)
        if dim_ranges:
            frs = [f for f in frs
                   if mbr_intersects(dim_ranges, _decode_mbr(self.schema, f.nonempty_domain))]
        from .stats import record

        record("py.fragments_scanned", len(frs))
        record("py.fragments_pruned", n_live - len(frs))
        if not frs:
            return self._empty_df()
        deletes = m.delete_fragments_visible(self.timestamp)
        if max_delete_ts is not None:
            deletes = [d for d in deletes
                       if d.timestamp_range[0] <= max_delete_ts]
        need_dedup = (not self.schema.allows_duplicates) and len(frs) > 1
        need_frag_ts = bool(deletes) or need_dedup or keep_frag_ts

        order = None
        if need_frag_ts:
            # stable sort on ts ALONE: frs arrives in manifest commit
            # order, so same-millisecond fragments keep their true write
            # order — tie-breaking on the (random uuid) fragment name
            # would flip last-write-wins for ~half of same-ms write pairs
            order = {f.name: mf.frag_order_key(f.timestamp_range[0], i)
                     for i, f in enumerate(sorted(
                         frs, key=lambda f: f.timestamp_range[0]))}
        df = self._fill_evolved(self._read_fragments(frs, order), frs)

        for dfrag in deletes:
            cond = self._compile_cond(dfrag.delete_condition)
            if cond is None:
                continue
            cutoff = mf.delete_cutoff(dfrag.timestamp_range[0])
            # Delete applies only to cells written before the delete.
            # NULL-protect the condition: under SQL three-valued logic a
            # NULL comparison makes the whole filter NULL and Spark drops
            # the row — but TileDB QC semantics say NULL cells never match
            # a condition, so they must SURVIVE the delete.
            matches = F.coalesce(cond, F.lit(False))
            df = df.filter(~(matches & (F.col("__frag_ts") < F.lit(cutoff))))

        merge = None
        if need_dedup:
            # last-write-wins on duplicate coordinates (array_schema.py:210-218
            # for sparse; overlapping dense fragments behave the same way):
            # max_by keeps map-side partial aggregation (no window needed).
            dims = self.schema.dim_names
            attrs = [F.expr(f"max_by(`{a}`, __frag_ts)").alias(a)
                     for a in self.schema.attr_names]
            if attrs:
                merge = lambda d: d.groupBy(*dims).agg(*attrs)
            else:
                # dimension-only arrays (coordinate sets, e.g. a dedup
                # fingerprint state): LWW degenerates to distinct coords
                merge = lambda d: d.select(*dims).dropDuplicates(list(dims))
        elif not keep_frag_ts:
            df = df.drop("__frag_ts")
        if layout:
            return range_layout(df, layout, merge)
        return merge(df) if merge is not None else df

    def read_subarray(self, subarray) -> "OrderedDict":
        """Explicit-Subarray read (S14, reference ``dense_array.py:779-896``
        / ``sparse_array.py:410-449``): dict of column arrays."""
        from .stats import timed
        from .subarray import EmptyLabelSelection

        with timed("py.read_subarray"):
            try:
                ranges = subarray.to_dim_ranges()
            except EmptyLabelSelection:
                # a label range matched no labels: provably empty read
                df = self._empty_df()
                return pdf_to_numpy_dict(df.toPandas(), self.schema,
                                         list(df.columns))
            if self.schema.sparse:
                df = self._execute(QueryPlan(dim_ranges=ranges))
                pdf = df.toPandas()
                return pdf_to_numpy_dict(pdf, self.schema, list(df.columns))
            simple = all(
                len(rs) == 0 or (len(rs[0].intervals) == 1 and not rs[0].points)
                for rs in ([r for r in ranges if r.name == d.name]
                           for d in self.schema.domain))
            if simple:
                # pass the INCLUSIVE domain-value ranges straight
                # through — round-tripping them as python slices would
                # re-apply numpy semantics (a negative coordinate
                # bound like (-3, -1) wraps to a relative index and
                # selects the wrong cells)
                full = []
                for d in self.schema.domain:
                    rs = [r for r in ranges if r.name == d.name]
                    if not rs:
                        lo, hi = d.domain
                        full.append(DimRanges(
                            name=d.name, intervals=[(int(lo), int(hi))]))
                    else:
                        full.append(rs[0])
                res = self.subarray(None, _ranges=full)
                if isinstance(res, dict):
                    return res
                return OrderedDict(
                    {(self.view_attr or self.schema.attr(0).name): res})
            return self._read_dense_multirange(subarray)

    def _read_dense_multirange(self, subarray) -> "OrderedDict":
        """Dense multi-range read: scan once with the OR-of-ranges
        predicate (one Spark job, pushdown intact), then place cells into
        the concatenated-axes grid driver-side via a pandas reindex —
        repeats and out-of-order ranges follow add order (reference
        ``tests/test_read_subarray.py::test_read_multiple_ranges``)."""
        axes = self._subarray_axes(subarray)
        shape = tuple(len(a) for a in axes)
        dims = self.schema.dim_names
        df = self._execute(QueryPlan(dim_ranges=subarray.to_dim_ranges()))
        pdf = df.toPandas()
        stored_dtypes = {c: pdf[c].dtype for c in pdf.columns}
        pdf = pdf.set_index(dims if len(dims) > 1 else dims[0])
        idx = (pd.MultiIndex.from_product(axes, names=dims)
               if len(dims) > 1 else pd.Index(axes[0], name=dims[0]))
        pdf = pdf.reindex(idx)
        attr_names = [self.view_attr] if self.view_attr else self.schema.attr_names
        for an in attr_names:
            a = self.schema.attr(an)
            fill = stored_scalar(a.fill, a.dtype) if a.fill is not None else None
            if not a.nullable and fill is not None:
                pdf[an] = pdf[an].fillna(fill)
            try:
                pdf[an] = pdf[an].astype(stored_dtypes[an])
            except (TypeError, ValueError):
                pass  # e.g. int col with remaining NaN stays float
        arrs = pdf_to_numpy_dict(pdf.reset_index(), self.schema,
                                 list(dims) + list(attr_names))
        out = OrderedDict()
        for an in attr_names:
            out[an] = arrs[an].reshape(shape)
        return out

    # point lists beyond this size become a broadcast semi-join instead of
    # an isin literal expression (a 10k-literal In node is slow to compile
    # and defeats codegen; the semi-join is the scale shape)
    _POINTS_JOIN_THRESHOLD = 1024

    def _execute(self, plan: QueryPlan) -> DataFrame:
        from .stats import record

        record("py.queries_planned")
        plan.dim_ranges = self._stored_ranges(plan.dim_ranges)
        dims = list(plan.dims) if plan.dims is not None else self.schema.dim_names
        order_keys = []
        if plan.order in ("C", "F"):
            order_keys = [c for c in self.schema.dim_names if c in dims]
            if plan.order == "F":
                order_keys.reverse()
        # an ordered read is laid out by its sort keys at the scan, so
        # the orderBy below plans no exchange of its own; with a limit,
        # orderBy + limit is a top-k and needs no layout
        df = self._scan_df(plan.dim_ranges, keep_frag_ts=(plan.order == "G"),
                           layout=order_keys if plan.limit is None else ())
        big_points = [dr for dr in plan.dim_ranges
                      if not dr.intervals
                      and len(dr.points) > self._POINTS_JOIN_THRESHOLD]
        if big_points:
            plan.dim_ranges = [dr for dr in plan.dim_ranges
                               if dr not in big_points]
            for dr in big_points:
                st = self.schema.spark_schema()[dr.name].dataType
                pts = self.spark.createDataFrame(
                    [(p,) for p in set(dr.points)],
                    T.StructType([T.StructField(dr.name, st, False)]))
                df = df.join(F.broadcast(pts), on=dr.name, how="leftsemi")
        pred = plan.range_predicate()
        if pred is not None:
            df = df.filter(pred)
        if plan.cond is not None:
            df = df.filter(plan.cond)
        attrs = list(plan.attrs) if plan.attrs is not None else (
            [self.view_attr] if self.view_attr else self.schema.attr_names)
        # backtick-quoted projection: a bare 'a.b' string would be
        # parsed as a struct-field path (dots are legal in attr names)
        proj_cols = [_qcol(c) for c in (*dims, *attrs)]
        if plan.order == "G":
            # global order (O1 'G'): fragment commit order, then the cell
            # order rows were written in within each fragment (fragments
            # are cell-order-sorted at write time, so dims stand in)
            order_cols = ([F.col("__frag_ts")] if "__frag_ts" in df.columns else []) \
                + [_qcol(c) for c in self.schema.dim_names]
            df = df.orderBy(*order_cols).select(*proj_cols)
            if plan.limit is not None:
                df = df.limit(plan.limit)
            return df
        df = df.select(*proj_cols)
        if order_keys:
            df = df.orderBy(*order_keys)
        if plan.limit is not None:
            df = df.limit(plan.limit)
        return df

    # -- Spark-native surface ------------------------------------------------
    def _at_timestamp(self, timestamp):
        """Temporarily pin the open handle to ``timestamp`` (None =
        no-op) — the one save/restore shared by the ``dataframe()``
        twins (deferred-refactor #4, closed r13)."""
        import contextlib

        @contextlib.contextmanager
        def cm():
            if timestamp is None:
                yield
                return
            saved, self.timestamp = self.timestamp, timestamp
            try:
                yield
            finally:
                self.timestamp = saved
        return cm()

    def dataframe(self, attrs=None, dims=None, cond=None, timestamp=None) -> DataFrame:
        """The Spark-native read: full-array DataFrame with optional
        projection/condition — the API a Spark user drives directly."""
        with self._at_timestamp(timestamp):
            return self._execute(QueryPlan(dim_ranges=[], cond=self._compile_cond(cond),
                                           attrs=attrs, dims=dims))

    def create_view(self, name: str, timestamp=None) -> str:
        """Expose the array as a Spark SQL temp view: any ``spark.sql``
        query then runs against the pruned fragment scan (pushdown and
        column pruning flow through the view — it is just the lazy
        ``dataframe()`` plan under a name).  With ``timestamp``, the view
        is a frozen time-travel snapshot."""
        self.dataframe(timestamp=timestamp).createOrReplaceTempView(name)
        return name

    # -- query / indexers ----------------------------------------------------
    def query(self, attrs=None, cond=None, dims=None, coords=None, order="C",
              return_incomplete=False, return_arrow=False, index_col=True):
        return Query(self, attrs=attrs, cond=cond, dims=dims, coords=coords,
                     order=order, return_incomplete=return_incomplete,
                     return_arrow=return_arrow, index_col=index_col)

    @property
    def multi_index(self):
        return MultiRangeIndexer(self, Query(self))

    @property
    def df(self):
        return DataFrameIndexer(self, Query(self, coords=True))

    def label_index(self, labels):
        """Label-based reads (S8, reference ``array.py:987-1061``): resolve
        label ranges to dim ranges through the label tables, then read."""
        from .labels import LabelIndexer

        return LabelIndexer(self, tuple(labels))

    @property
    def domain_index(self):
        """Domain-value point/range reads (S7, reference
        ``tiledb/domain_indexer.py:16-122``) — inclusive slices over the
        dims' actual domain values; same range semantics as multi_index."""
        return DomainIndexer(self, Query(self))

    def est_result_size(self, selection=slice(None)) -> dict:
        """Per-buffer byte estimates before execution (S10, reference
        ``core.cc:1581-1628``), answered from manifest statistics: each
        live fragment contributes cell_num scaled by the fraction of its
        MBR the requested ranges overlap — no Spark job, no data touched."""
        ranges, _d, _s = self.subarray_to_ranges(selection)
        est_cells = self._est_cells(ranges)
        out = {}
        cols = list(self.schema.domain) + list(self.schema.attrs_list)
        for c in cols:
            dt = c.dtype
            if dt.kind in ("U", "S", "O"):
                # var-length: (offsets, data) pair like the reference
                out[c.name] = {"offsets_bytes": est_cells * 8,
                               "data_bytes": est_cells * 32}
            else:
                out[c.name] = {"data_bytes": est_cells * max(dt.itemsize, 1)}
        return out

    def _est_cells(self, ranges) -> int:
        m = self._manifest
        ranges = self._stored_ranges(ranges)
        total = 0.0
        for f in m.live_fragments(self.timestamp):
            mbr = _decode_mbr(self.schema, f.nonempty_domain)
            if ranges and not mbr_intersects(ranges, mbr):
                continue
            frac = 1.0
            for dr in ranges or []:
                box = mbr.get(dr.name)
                if box is None or not hasattr(box[0], "__sub__"):
                    continue
                lo, hi = box
                try:
                    width = float(hi) - float(lo) + 1.0
                except (TypeError, ValueError):
                    continue
                if width <= 0:
                    continue
                covered = 0.0
                for (rlo, rhi) in dr.intervals:
                    a = max(float(rlo), float(lo))
                    b = min(float(rhi), float(hi))
                    if b >= a:
                        covered += b - a + 1.0
                covered += len(dr.points)
                frac *= min(covered / width, 1.0)
            total += f.cell_num * frac
        return int(total)

    def subarray_to_ranges(self, selection) -> tuple[list[DimRanges], tuple, list]:
        idx = index_as_tuple(selection)
        idx = replace_ellipsis(self.schema.ndim, idx)
        idx, drop_axes = replace_scalars_slice(self.schema.domain, idx)
        steps = [s.step if isinstance(s, slice) else None for s in idx]
        ranges = index_domain_subarray(
            self.schema.domain, idx, self.schema.sparse,
            nonempty=self.nonempty_domain(),
            current_domain=self.schema.current_domain_box())
        return ranges, drop_axes, steps

    # -- delete queries (S15, reference core.cc:1474-1479) -------------------
    def delete_cells(self, cond: str):
        """Mode-'d' delete: record the condition as an anti-predicate
        fragment; readers apply ``NOT(cond)`` to earlier cells and
        consolidation materializes the removal (reference delete queries,
        ``tests/test_query_condition.py:1074-1226``)."""
        if self.mode != "d":
            raise PermissionError("array not opened in delete mode")
        if not cond:
            raise ValueError("delete requires a condition")
        self._compile_cond(cond)  # validate before committing
        ts = mf.now_ms()

        def _mut(m):
            m.fragments.append(mf.FragmentRecord(
                name=mf.new_fragment_name(ts), timestamp_range=(ts, ts),
                cell_num=0, nonempty_domain={}, kind="delete",
                delete_condition=cond))
        mf.commit(self.uri, _mut)
        self.reopen()

    # -- maintenance ---------------------------------------------------------
    def consolidate(self, timestamp=None, fragment_uris=None):
        from .fragment import consolidate as _cons

        return _cons(self.uri, timestamp=timestamp, spark=self.spark,
                     fragment_uris=fragment_uris)

    def vacuum(self):
        from .fragment import vacuum as _vac

        return _vac(self.uri)

    def delete_fragments(self, ts_start: int, ts_end: int):
        from .fragment import delete_fragments as _delf

        return _delf(self.uri, ts_start, ts_end)

    # -- pickling (dask/spark handoff, reference array.py:1195-1219) --------
    def __reduce__(self):
        return (_reopen, (type(self), self.uri, self.mode, self.timestamp, self.view_attr))


def _reopen(klass, uri, mode, timestamp, attr):
    return klass(uri, mode=mode, timestamp=timestamp, attr=attr)


class SparseArray(Array):
    """Sparse array: only written cells exist — the natural Spark case
    (reference ``tiledb/sparse_array.py``)."""

    def __getitem__(self, selection):
        return self.subarray(selection)

    def subarray(self, selection, attrs=None, cond=None, order="C"):
        ranges, _drop, _steps = self.subarray_to_ranges(selection)
        plan = QueryPlan(dim_ranges=ranges, cond=self._compile_cond(cond),
                         attrs=attrs, order=order)
        df = self._execute(plan)
        pdf = df.toPandas()
        names = list(df.columns)
        return pdf_to_numpy_dict(pdf, self.schema, names)

    def __setitem__(self, selection, values):
        """COO write: ``A[I, J] = {attr: vals}``
        (reference ``sparse_array.py:74-200``)."""
        if self.mode not in ("w", "m"):
            raise PermissionError("array not opened in write mode")
        coords = index_as_tuple(selection)
        if len(coords) != self.schema.ndim:
            raise ValueError("coordinate count does not match ndim")
        data = {}
        n = None
        for d, c in zip(self.schema.domain, coords):
            arr = np.asarray(c)
            if arr.ndim == 0:
                arr = arr.reshape(1)
            data[d.name] = arr
            n = len(arr) if n is None else n
            if len(arr) != n:
                raise ValueError("coordinate arrays must be the same length")
        if isinstance(values, dict):
            vals = values
        elif self.schema.nattr == 1:
            vals = {self.schema.attr(0).name: values}
        else:
            raise ValueError("multi-attribute array requires a dict of values")
        for a_name, v in vals.items():
            a = self.schema.attr(a_name)  # KeyError if unknown
            arr = np.asarray(v)
            if arr.ndim == 0:
                arr = np.full(n, arr.item())
            if a.enum_label:
                lookup = {val: i for i, val in enumerate(self.schema.enums[a.enum_label].values)}
                if arr.dtype.kind in "iu":  # already codes
                    data[a_name] = arr.astype("int32")
                else:
                    data[a_name] = np.array([lookup[x] for x in arr.tolist()], dtype="int32")
            else:
                data[a_name] = arr
        for a in self.schema.attrs_list:
            if a.name not in data:
                if a.nullable:
                    data[a.name] = np.full(n, None, dtype=object)
                else:
                    raise ValueError(f"missing values for attribute {a.name!r}")
        pdf = pd.DataFrame({k: _np_to_pandas_col(v) for k, v in data.items()})
        rec = write_fragment_pandas(self.uri, self.schema, pdf)
        self._last_fragment_info = {
            mf.fragment_path(self.uri, rec): rec.timestamp_range}
        self.reopen()

    def write_dataframe(self, df: DataFrame):
        """Scale write path: commit a Spark DataFrame as one fragment."""
        if self.mode not in ("w", "m"):
            raise PermissionError("array not opened in write mode")
        rec = write_fragment_spark(self.uri, self.schema, df)
        self._last_fragment_info = {
            mf.fragment_path(self.uri, rec): rec.timestamp_range}
        self.reopen()
        return rec

    def unique_dim_values(self, dim=None):
        """Distinct coordinate values (reference ``sparse_array.py:636-652``)."""
        if dim is not None:
            col = self.schema.domain.dim(dim).name
            vals = self._scan_df().select(col).distinct().orderBy(col).toPandas()
            return pdf_to_numpy_dict(vals, self.schema, [col])[col]
        return OrderedDict(
            (d.name, self.unique_dim_values(d.name)) for d in self.schema.domain)


def dense_fill_join(schema, grid: DataFrame, cells: DataFrame,
                    names, match_col: Optional[str] = None) -> DataFrame:
    """The ONE J3 dense fill join, shared by the three dense read paths
    (``_dense_frame`` / dense ``multi_index`` / dense aggregation —
    deferred-refactor #3, closed r13): generated coordinate grid ⟕
    written cells on the dims, then per requested column either the dim
    from the grid side (never null, no fill) or
    ``coalesce(attr, fill)`` for non-nullable attrs.  ``match_col``
    carries the dense QC fill semantics (P11): keep the shape,
    non-matching cells become fill (reference
    ``query_condition.py:35-40``)."""
    dims = list(schema.dim_names)
    joined = grid.join(cells, on=dims, how="left")
    proj = []
    for an in names:
        if schema.has_dim(an):
            proj.append(F.col(an))
            continue
        a = schema.attr(an)
        fill = stored_scalar(a.fill, a.dtype) if a.fill is not None else None
        c = F.col(an)
        if match_col is not None:
            c = F.when(F.col(match_col), c)
        if not a.nullable and fill is not None:
            c = F.coalesce(c, F.lit(fill))
        proj.append(c.alias(an))
    return joined.select(*proj)


class DenseArray(Array):
    """Dense array: reads materialize every cell of the requested subarray,
    filling unwritten cells with the attr fill value
    (reference ``tiledb/dense_array.py``; fill semantics ``attribute.py:87-104``).

    Spark rebuild: generated dense domain ⟕ written cells, then
    ``coalesce(attr, fill)`` — SURVEY.md §2.4 J3."""

    def __getitem__(self, selection):
        return self.subarray(selection)

    def _domain_df(self, ranges: list[DimRanges]) -> tuple[DataFrame, list[int]]:
        """Generate the dense coordinate grid for single-interval ranges.
        ``spark.range`` per dim + crossJoin: each dim's range is generated
        distributed (no driver materialization), and Catalyst turns the
        small trailing dims into broadcast nested-loop joins."""
        shape = []
        dfs = []
        for dr, d in zip(ranges, self.schema.domain):
            (lo, hi) = dr.intervals[0]
            if d.dtype.kind not in "iu":
                raise NotImplementedError("dense domains must be integer-typed")
            lo_i, hi_i = int(lo), int(hi)
            shape.append(hi_i - lo_i + 1)
            rdf = self.spark.range(lo_i, hi_i + 1).select(
                F.col("id").cast(d.type_info.spark_type.simpleString()).alias(d.name))
            dfs.append(rdf)
        grid = reduce(lambda a, b: a.crossJoin(b), dfs)
        return grid, shape

    def _multi_grid(self, ranges: list) -> DataFrame:
        """Distributed coordinate grid over a UNION of ranges/points per
        dim (the multi_index generalization of ``_domain_df``): one
        ``spark.range`` per interval, unioned + distinct per dim, then
        the cross-product.  Unbounded sides fall back to the nonempty
        domain (then the declared domain)."""
        ned = self.nonempty_domain()
        dim_dfs = []
        for i, d in enumerate(self.schema.domain):
            if d.dtype.kind not in "iu":
                raise NotImplementedError(
                    "dense domains must be integer-typed")
            t = d.type_info.spark_type.simpleString()
            dr = next((r for r in ranges if r.name == d.name), None)
            dlo = ned[i][0] if ned is not None else d.domain[0]
            dhi = ned[i][1] if ned is not None else d.domain[1]
            pieces = []
            if dr is not None and (dr.intervals or dr.points):
                for lo, hi in dr.intervals:
                    lo = dlo if lo is None else lo
                    hi = dhi if hi is None else hi
                    pieces.append(self.spark.range(int(lo), int(hi) + 1)
                                  .select(F.col("id").cast(t)
                                          .alias(d.name)))
                if dr.points:
                    pieces.append(self.spark.createDataFrame(
                        [(int(p),) for p in dr.points], f"{d.name} {t}"))
            else:
                pieces.append(self.spark.range(int(dlo), int(dhi) + 1)
                              .select(F.col("id").cast(t).alias(d.name)))
            dim_dfs.append(
                reduce(lambda a, b: a.unionByName(b), pieces).distinct())
        return reduce(lambda a, b: a.crossJoin(b), dim_dfs)

    def _dense_frame(self, ranges: list, attr_names: list,
                     cond=None) -> tuple[DataFrame, list[int]]:
        """The dense fill join as a DataFrame (J3): generated domain grid
        ⟕ written cells, ``coalesce(attr, fill)``, and QC fill semantics
        (P11: with a condition the shape is kept and non-matching cells
        become fill, reference ``query_condition.py:35-40``)."""
        cells = self._scan_df(ranges)
        pred = QueryPlan(dim_ranges=ranges).range_predicate()
        if pred is not None:
            cells = cells.filter(pred)
        ccond = self._compile_cond(cond)
        if ccond is not None:
            # dense QC fill semantics (P11): keep shape, non-matching -> fill
            cells = cells.withColumn("__match", ccond)
        grid, shape = self._domain_df(ranges)
        # dims requested via attrs= come from the grid side once, not
        # twice (the aggregation path's P2 convention)
        names = list(self.schema.dim_names) + [
            a for a in attr_names if not self.schema.has_dim(a)]
        return dense_fill_join(
            self.schema, grid, cells, names,
            match_col="__match" if ccond is not None else None), shape

    def dataframe(self, attrs=None, dims=None, cond=None,
                  timestamp=None, selection=slice(None)) -> DataFrame:
        """Spark-native DENSE read: every cell of the requested subarray
        (default: the whole clamped domain) with unwritten cells
        materialized as fill values — the DataFrame twin of ``A[...]``."""
        with self._at_timestamp(timestamp):
            ranges, _drop, _steps = self.subarray_to_ranges(selection)
            attr_names = list(attrs) if attrs is not None else (
                [self.view_attr] if self.view_attr else self.schema.attr_names)
            df, _shape = self._dense_frame(ranges, attr_names, cond)
            if dims is not None:
                keep = list(dims) + attr_names
                df = df.select(*keep)
            return df

    def _scatter_eligible(self, attr_names) -> bool:
        """The dense read fast path covers the common case: no query
        condition handled by the caller, and every attr non-nullable,
        non-enum, with either a declared fill or a dtype whose missing
        value is canonical (float NaN / datetime NaT) — everything else
        takes the grid-join path whose SQL fill semantics are richer."""
        for an in attr_names:
            a = self.schema.attr(an)
            if a.nullable or a.enum_label:
                return False
            if a.fill is None and np.dtype(a.dtype).kind not in "fM":
                return False
        return True

    def _dense_scatter(self, ranges: list, attr_names: list):
        """Dense subarray read WITHOUT the domain-grid join or the
        global sort: each written cell computes its flat C-order
        position row-locally, only (position, attrs) transfers to the
        driver (unordered), and numpy scatters values into prefilled
        ndarrays.  At 100M cells this replaces a grid crossJoin + left
        join + full-result Exchange with one scan projection — measured
        ~2x end-to-end on the ASV DenseRead workload, and the win grows
        with cluster size (no sort barrier)."""
        cells = self._scan_df(ranges)
        pred = QueryPlan(dim_ranges=ranges).range_predicate()
        if pred is not None:
            cells = cells.filter(pred)
        shape = []
        pos = F.lit(0).cast("long")
        for dr, d in zip(ranges, self.schema.domain):
            if d.dtype.kind not in "iu":
                raise NotImplementedError("dense domains must be integer-typed")
            lo, hi = (int(x) for x in dr.intervals[0])
            # empty half-open slices encode hi < lo (extent 0)
            extent = max(0, hi - lo + 1)
            shape.append(extent)
            pos = pos * max(extent, 1) \
                + (F.col(d.name).cast("long") - F.lit(lo))
        pdf = cells.select(pos.alias("__pos"),
                           *[F.col(a) for a in attr_names]).toPandas()
        vals = pdf_to_numpy_dict(pdf, self.schema, list(attr_names))
        idx = pdf["__pos"].to_numpy()
        n = int(np.prod(shape)) if shape else 0
        arrs = OrderedDict()
        for an in attr_names:
            a = self.schema.attr(an)
            v = vals[an]
            if a.fill is not None:
                base = np.full(n, a.fill, dtype=v.dtype)
            elif v.dtype.kind == "M":
                base = np.full(n, np.datetime64("NaT"), dtype=v.dtype)
            else:
                base = np.full(n, np.nan, dtype=v.dtype)
            if len(idx):
                base[idx] = v
            arrs[an] = base
        return arrs, shape

    def subarray(self, selection, attrs=None, cond=None, order="C",
                 _ranges=None):
        if _ranges is not None:
            # explicit inclusive domain-value ranges (read_subarray's
            # path) — no numpy-slice reinterpretation
            ranges, drop_axes, steps = (list(_ranges), (),
                                        [None] * self.schema.ndim)
        else:
            ranges, drop_axes, steps = self.subarray_to_ranges(selection)
        attr_names = list(attrs) if attrs is not None else (
            [self.view_attr] if self.view_attr else self.schema.attr_names)
        dims = self.schema.dim_names
        if any(dr.points or len(dr.intervals) != 1 for dr in ranges):
            # point-list / multi-interval selections (A[[1,3]]): the
            # single-interval grid builders below would IndexError —
            # route through the multirange read (axes follow selection
            # order, the numpy fancy-index contract)
            if cond is not None:
                raise NotImplementedError(
                    "dense point-list selections do not compose with "
                    "cond=; use multi_index or a range selection")
            from .subarray import Subarray

            sub = Subarray(self)
            for i, dr in enumerate(ranges):
                for lo, hi in dr.intervals:
                    sub.add_dim_range(i, (lo, hi))
                for p in dr.points:
                    sub.add_dim_range(i, (int(p), int(p)))
            res = self._read_dense_multirange(sub)
            slices = tuple(slice(None, None, s) for s in steps)
            out = OrderedDict()
            for an, nd in res.items():
                if attrs is not None and an not in attrs:
                    continue
                nd = nd[slices]
                if drop_axes:
                    nd = nd.reshape([s for i, s in enumerate(nd.shape)
                                     if i not in drop_axes])
                out[an] = nd
            if (self.view_attr or self.schema.nattr == 1) and len(out) == 1:
                return next(iter(out.values()))
            return out
        if cond is None and self._scatter_eligible(attr_names):
            arrs, shape = self._dense_scatter(ranges, attr_names)
        else:
            out, shape = self._dense_frame(ranges, attr_names, cond)
            out = out.orderBy(*dims)
            pdf = out.toPandas()
            arrs = pdf_to_numpy_dict(pdf, self.schema, dims + attr_names)

        # reshape to ND, apply steps + drop axes (dense_array.py:284-289,358-366)
        if order not in ("C", "F", "U"):
            raise ValueError(f"unknown result order {order!r}")
        result = OrderedDict()
        slices = tuple(slice(None, None, s) for s in steps)
        for an in attr_names:
            nd = arrs[an].reshape(shape)
            nd = nd[slices]
            if drop_axes:
                nd = nd.reshape([s for i, s in enumerate(nd.shape) if i not in drop_axes])
            if order == "F":
                # honor the requested column-major memory layout (the
                # parameter was previously accepted and ignored)
                nd = np.asfortranarray(nd)
            result[an] = nd
        if (self.view_attr or self.schema.nattr == 1) and len(result) == 1:
            return next(iter(result.values()))
        return result

    def _subarray_axes(self, subarray) -> list:
        """Per-dim ordered coordinate sequences for an explicit Subarray:
        multi-range = ranges CONCATENATED in add order (reference
        ``subarray.py:53-74`` / ``tests/test_read_subarray.py`` — ranges
        may repeat or arrive out of order, and the result axis follows
        the add order, e.g. (3,3)+(1,2)+(5,10) -> [3,1,2,5..10])."""
        ranges = subarray.to_dim_ranges()
        axes = []
        for d in self.schema.domain:
            rs = [r for r in ranges if r.name == d.name]
            if not rs or not (rs[0].intervals or rs[0].points):
                lo, hi = d.domain
                axes.append(np.arange(int(lo), int(hi) + 1, dtype="int64"))
                continue
            parts = [np.arange(int(lo), int(hi) + 1, dtype="int64")
                     for lo, hi in rs[0].intervals]
            if rs[0].points:
                parts.append(np.asarray(rs[0].points, dtype="int64"))
            axes.append(np.concatenate(parts))
        return axes

    def write_subarray(self, subarray, value):
        """Explicit-Subarray dense write (S14), multi-range supported:
        the value's shape must match the concatenated per-dim axes."""
        self._write_dense_grid(self._subarray_axes(subarray), value)

    # -- read/write_direct (S13, reference dense_array.py:633-777) ----------
    def write_direct(self, array, append_dim=None, mode: str = "ingest",
                     start_idx=None):
        """Whole-array / appending write of a single attribute from a
        contiguous ndarray (S13, reference ``dense_array.py:633-730``).

        ``mode="ingest"`` (default): the array lands at
        ``[start_idx, start_idx + shape - 1]`` on every dim
        (``start_idx`` defaults to 0).  ``mode="append"``: the write is
        placed after the nonempty domain along ``append_dim`` (or at
        ``start_idx`` when given); every other dim's extent must match
        the nonempty domain's, mirroring the reference's shape checks.
        Each call commits one fragment — an append is a new fragment
        with a shifted dim range, never a rewrite of existing ones."""
        from .functions.query_condition import TileDBError

        if self.mode != "w":
            raise TileDBError("DenseArray is not opened for writing")
        if self.schema.nattr != 1:
            raise ValueError(
                "cannot write_direct to a multi-attribute DenseArray")
        arr = np.asarray(array)
        if not (arr.flags.c_contiguous or arr.flags.f_contiguous):
            raise ValueError("array is not contiguous")
        base = int(start_idx or 0)
        starts = [base] * arr.ndim
        if mode == "append":
            if append_dim is None or arr.ndim <= append_dim:
                raise IndexError("`append_dim` out of range")
            ned = self.nonempty_domain()
            if ned is None:
                raise TileDBError(
                    "append requires a non-empty array (no prior writes)")
            if arr.ndim != len(ned):
                raise ValueError(
                    "append array ndim does not match the array's "
                    f"dimension count ({arr.ndim} != {len(ned)})")
            for n in range(arr.ndim):
                if n == append_dim:
                    starts[n] = (int(start_idx) if start_idx is not None
                                 else int(ned[n][1]) + 1)
                elif arr.shape[n] != int(ned[n][1]) - int(ned[n][0]) + 1:
                    raise ValueError(
                        "append data must have the same shape as the "
                        "array's nonempty domain on every dim except "
                        f"`append_dim`: dim {n} has extent {arr.shape[n]}"
                        f" vs {int(ned[n][1]) - int(ned[n][0]) + 1}")
        elif mode != "ingest":
            raise ValueError(f"unknown write_direct mode {mode!r}")
        axes = []
        for n, d in enumerate(self.schema.domain):
            lo, hi = starts[n], starts[n] + arr.shape[n] - 1
            dlo, dhi = (int(x) for x in d.domain)
            if lo < dlo or hi > dhi:
                raise TileDBError(
                    f"write_direct range [{lo}, {hi}] exceeds domain "
                    f"[{dlo}, {dhi}] of dim {d.name!r}")
            axes.append(np.arange(lo, hi + 1, dtype="int64"))
        self._write_dense_grid(axes, np.ascontiguousarray(arr))

    def read_direct(self, name=None):
        """Whole-domain single-attribute read to an ndarray (S13,
        reference ``dense_array.py:732-777``); honours col-major
        cell+tile order with a Fortran-ordered result."""
        from .functions.query_condition import TileDBError

        if self.mode != "r":
            raise TileDBError("DenseArray is not opened for reading")
        if name is None:
            if self.schema.nattr != 1 and not self.view_attr:
                raise ValueError(
                    "read_direct with no provided attribute is ambiguous "
                    "for multi-attribute arrays")
            name = self.view_attr or self.schema.attr(0).name
        idx = tuple(slice(None) for _ in range(self.schema.domain.ndim))
        out = self.subarray(idx, attrs=[name])
        if isinstance(out, dict):
            out = out[name]
        if (self.schema.cell_order == "col-major"
                and self.schema.tile_order == "col-major"):
            return np.asfortranarray(out)
        return out

    def __setitem__(self, selection, value):
        """Dense region write (reference ``dense_array.py:375-612``):
        materialize the region's coordinates + values as rows, commit as a
        fragment."""
        if self.mode not in ("w", "m"):
            raise PermissionError("array not opened in write mode")
        ranges, _drop, steps = self.subarray_to_ranges(selection)
        if any(s not in (None, 1) for s in steps):
            raise NotImplementedError("stepped dense writes not supported")
        axes = []
        for dr, d in zip(ranges, self.schema.domain):
            if dr.points or len(dr.intervals) != 1:
                # points would IndexError below; a LOUD refusal with
                # the supported alternative beats a raw internal error
                raise NotImplementedError(
                    f"dense writes take one contiguous range per dim "
                    f"(dim {d.name!r} got a point-list selection); use "
                    "write_subarray for multi-range targets")
            lo, hi = dr.intervals[0]
            axes.append(np.arange(int(lo), int(hi) + 1, dtype="int64"))
        self._write_dense_grid(axes, value)

    def _write_dense_grid(self, axes: list, value):
        if self.mode not in ("w", "m"):
            raise PermissionError("array not opened in write mode")
        shape = tuple(len(a) for a in axes)
        grids = np.meshgrid(*axes, indexing="ij") if len(axes) > 1 else [axes[0]]
        data = {d.name: g.reshape(-1) for d, g in zip(self.schema.domain, grids)}
        n = int(np.prod(shape))

        if isinstance(value, dict):
            vals = dict(value)
        elif self.schema.nattr == 1 or self.view_attr:
            vals = {(self.view_attr or self.schema.attr(0).name): value}
        else:
            raise ValueError("multi-attribute dense write requires a dict")
        # dimension-label data rides along in the value dict (reference
        # dense_array.py label handling): route to the label tables
        from .labels import write_label_data

        for lbl_name in [k for k in vals if self.schema.has_dim_label(k)]:
            v = np.asarray(vals.pop(lbl_name))
            dim_idx = next(i for i, by in self.schema.dim_labels.items()
                           if lbl_name in by)
            if v.shape != (len(axes[dim_idx]),):
                raise ValueError(
                    f"label {lbl_name!r} data must match dim extent "
                    f"{len(axes[dim_idx])}, got {v.shape}")
            write_label_data(self.uri, lbl_name, axes[dim_idx], v)
        for an, v in vals.items():
            self.schema.attr(an)
            arr = np.asarray(v)
            if arr.ndim == 0:
                arr = np.full(shape, arr.item())  # scalar broadcast (lit())
            if arr.shape != shape:
                arr = np.broadcast_to(arr, shape)
            data[an] = np.ascontiguousarray(arr).reshape(-1)
        for a in self.schema.attrs_list:
            if a.name not in data:
                data[a.name] = np.full(n, a.fill if not a.nullable else None)
        pdf = pd.DataFrame({k: _np_to_pandas_col(v) for k, v in data.items()})
        # dense grids: 1M-row groups — the sparse default (capacity,
        # the space-tile analog) would shred a 100M-cell write into
        # tens of thousands of row groups; dense subarray reads prune
        # on the dim columns' per-group stats either way
        rec = write_fragment_pandas(self.uri, self.schema, pdf,
                                    row_group_size=min(len(pdf), 1 << 20)
                                    or None)
        self._last_fragment_info = {
            mf.fragment_path(self.uri, rec): rec.timestamp_range}
        self.reopen()


def _np_to_pandas_col(arr):
    a = np.asarray(arr)
    if a.ndim > 1:
        # uniform multi-value cells: one row per outer element
        return pd.Series(list(a))
    if a.dtype.kind == "M":
        unit = np.datetime_data(a.dtype)[0]
        # mirror datatypes.from_numpy: only s/ms/us are TimestampNTZ;
        # ns (and coarser-than-day units) are stored as int64 + unit
        # annotation — converting ns to us here would store micros under a
        # LongType schema and reads would misread them as nanos
        if unit in ("s", "ms", "us"):
            return pd.Series(a.astype("datetime64[us]"))
        if unit == "D":
            return pd.Series(a.astype("datetime64[s]")).dt.date
        return pd.Series(a.view("int64"))
    if a.dtype.kind == "m":
        return pd.Series(a.view("int64"))
    if a.dtype.kind == "u":
        widen = {1: "int16", 2: "int32", 4: "int64", 8: "int64"}[a.dtype.itemsize]
        return pd.Series(a.astype(widen))
    return pd.Series(a)


class Query:
    """Projection/condition/order wrapper (reference ``tiledb/query.py``)."""

    def __init__(self, array: Array, attrs=None, cond=None, dims=None, coords=None,
                 order="C", return_incomplete=False, return_arrow=False, index_col=True):
        self.array = array
        self.attrs = list(attrs) if attrs is not None else None
        self.cond = cond
        if dims is not None and coords:
            raise ValueError("pass only one of dims or coords")
        if coords:
            self.dims = None  # all dims
        elif dims is False or coords is False:
            self.dims = []
        elif dims is not None:
            self.dims = list(dims)
        else:
            self.dims = None if array.schema.sparse else []
        self.order = order
        self.return_incomplete = return_incomplete
        self.return_arrow = return_arrow
        self.index_col = index_col
        # reference accessors (query.py:235-263): coords request flag
        # and the Arrow transport flag (Arrow IS the transport here)
        self.has_coords = bool(coords)
        self.use_arrow = bool(return_arrow)
        for a in self.attrs or []:
            if not array.schema.has_attr(a) and not array.schema.has_dim(a):
                raise KeyError(f"no attribute {a!r}")

    @property
    def domain_index(self):
        """Array.domain_index with this query's parameters (reference
        ``query.py:270-272``)."""
        return DomainIndexer(self.array, self)

    def label_index(self, labels):
        """Array.label_index with this query's parameters (reference
        ``query.py:274-278``): cond/attrs/dims apply to the labeled
        read (sparse; dense label grids refuse cond/attrs loudly)."""
        from .labels import LabelIndexer

        return LabelIndexer(self.array, tuple(labels), query=self)

    def subarray(self):
        """A fresh Subarray over this query's array (reference
        ``query.py:121-126``; ranges are supplied per-read here, so the
        returned subarray starts empty)."""
        from .subarray import Subarray

        return Subarray(self.array)

    def get_stats(self, print_out: bool = True, json: bool = False):
        """Stats of the last query (reference ``query.py:297-309``) —
        the engine-wide counters, scoped the same way as
        ``tiledb.stats_dump``."""
        from .stats import stats_dump

        return stats_dump(print_out=print_out, json_output=json)

    def _plan(self, ranges) -> QueryPlan:
        return QueryPlan(
            dim_ranges=ranges,
            cond=self.array._compile_cond(self.cond),
            attrs=self.attrs,
            dims=self.dims,
            order=self.order,
        )

    def __getitem__(self, selection):
        if self.array.schema.sparse:
            ranges, _d, _s = self.array.subarray_to_ranges(selection)
            df = self.array._execute(self._plan(ranges))
            if self.return_incomplete:
                return IncompleteIterator(df, self.array.schema)
            if self.return_arrow:
                return _to_arrow(df)
            pdf = df.toPandas()
            return pdf_to_numpy_dict(pdf, self.array.schema, list(df.columns))
        # dense getitem: options the ndarray result shape cannot honor
        # must refuse loudly, not silently ignore (the reference
        # returns coords / arrow / incomplete batches for these)
        if self.return_incomplete:
            raise NotImplementedError(
                "return_incomplete is not supported on dense getitem; "
                "read via A.query(...).df[...] / submit() for "
                "DataFrame-shaped streaming")
        if self.dims:
            raise NotImplementedError(
                "dims= is not supported on dense getitem (the result is "
                "one ndarray per attr); use multi_index or .df[...]")
        res = self.array.subarray(selection, attrs=self.attrs,
                                  cond=self.cond, order=self.order)
        if self.return_arrow:
            import pyarrow as pa

            if not isinstance(res, dict):
                res = {(self.array.view_attr
                        or self.array.schema.attr(0).name): res}
            return pa.table({k: pa.array(np.asarray(v).reshape(-1))
                             for k, v in res.items()})
        return res

    @property
    def multi_index(self):
        return MultiRangeIndexer(self.array, self)

    @property
    def df(self):
        return DataFrameIndexer(self.array, self)

    def agg(self, spec):
        return Aggregation(self, spec)

    def submit(self, selection=slice(None)) -> DataFrame:
        """Spark-native: the query as a DataFrame (no materialization).
        On a mode-'d' array this submits the delete instead (reference
        submit-routing at ``core.cc:1474-1479``).

        A 'C'/'F' query is laid out by range at the scan (see
        ``Array._scan_df``).  Catalyst drops the final sort under a
        downstream aggregate but keeps that range exchange, so a caller
        that discards the order should ask for ``order="U"``: it gets the
        hash-partitioned merge and no range sampling."""
        if self.array.mode == "d":
            return self.submit_delete()
        ranges, _d, _s = self.array.subarray_to_ranges(selection)
        return self.array._execute(self._plan(ranges))

    def submit_delete(self):
        return self.array.delete_cells(self.cond)


class Aggregation:
    """``A.query(...).agg(spec)[selection]``
    (reference ``tiledb/aggregation.py:16-93``)."""

    def __init__(self, query: Query, spec):
        self.query = query
        self.spec = spec

    def _run(self, ranges):
        arr = self.query.array
        plan = self.query._plan(ranges)
        plan.order = "U"
        plan.dims = []
        schema = arr.schema
        # dtype/nullable maps cover DIMS too: Query.attrs legally names
        # dimensions, and the float64 fallback mis-shaped their results
        # (int dim sums came back float)
        dt_map = {**{d.name: d.dtype for d in schema.domain},
                  **{a.name: a.dtype for a in schema.attrs_list}}
        null_map = {**{d.name: False for d in schema.domain},
                    **{a.name: a.nullable for a in schema.attrs_list}}
        spec = normalize_agg_spec(
            self.spec,
            self.query.attrs if self.query.attrs is not None else schema.attr_names,
            null_map)
        plan.attrs = list(spec.keys())
        if not schema.sparse and self.query.cond is None:
            # DENSE aggregates run over EVERY cell of the subarray,
            # unwritten cells as fill (reference dense reads
            # materialize fill before aggregating); with a query
            # condition only matching cells aggregate — the scan
            # below already is that set
            plan.dims = schema.dim_names
            # requested DIMS come from the grid side (never null, no
            # fill); schema.attr(dim) would KeyError
            plan.attrs = [k for k in spec if not schema.has_dim(k)]
            cells = arr._execute(plan)
            df = dense_fill_join(schema, arr._multi_grid(ranges), cells,
                                 list(spec))
        else:
            plan.attrs = [k for k in spec if not schema.has_dim(k)]
            plan.dims = [k for k in spec if schema.has_dim(k)]
            df = arr._execute(plan)
        res = compute_aggregates(df, spec, dt_map, null_map)
        return unwrap(res, self.spec, list(spec.keys()))

    def __getitem__(self, selection):
        ranges, _d, _s = self.query.array.subarray_to_ranges(selection)
        return self._run(ranges)

    @property
    def multi_index(self):
        return _AggMultiIndex(self)

    def df(self):
        raise NotImplementedError


class _AggMultiIndex:
    def __init__(self, agg: Aggregation):
        self.agg = agg

    def __getitem__(self, selection):
        arr = self.agg.query.array
        ranges = getitem_ranges_multi_index(
            arr.schema.domain, selection, nonempty=arr.nonempty_domain(),
            current_domain=arr.schema.current_domain_box())
        return self.agg._run(ranges)


class DomainIndexer:
    """``A.domain_index[...]`` — slicing by domain values (S7, reference
    ``tiledb/domain_indexer.py:16-122``).  Inclusive bounds per dim; point
    values allowed; result shaping follows the regular read path."""

    def __init__(self, array: Array, query: Query):
        self.array = array
        self.query = query

    def __getitem__(self, selection):
        arr = self.array
        ranges = getitem_ranges_multi_index(
            arr.schema.domain, selection, nonempty=arr.nonempty_domain(),
            current_domain=arr.schema.current_domain_box())
        plan = self.query._plan(ranges)
        if plan.dims is not None and len(plan.dims) == 0:
            plan.dims = arr.schema.dim_names
        df = arr._execute(plan)
        pdf = df.toPandas()
        return pdf_to_numpy_dict(pdf, arr.schema, list(df.columns))


class MultiRangeIndexer:
    """``A.multi_index[...]`` — inclusive ranges, point lists, cross-product
    (reference ``multirange_indexing.py:384-413``)."""

    def __init__(self, array: Array, query: Query):
        self.array = array
        self.query = query

    def __getitem__(self, selection):
        from .indexing import is_empty_range

        arr = self.array
        if is_empty_range(selection):
            df = arr._empty_projected(self.query._plan([]))
            if self.query.return_arrow:
                return _to_arrow(df)
            pdf = df.toPandas()
            return pdf_to_numpy_dict(pdf, arr.schema, list(df.columns))
        ranges = getitem_ranges_multi_index(
            arr.schema.domain, selection, nonempty=arr.nonempty_domain(),
            current_domain=arr.schema.current_domain_box())
        if arr.schema.sparse:
            df = arr._execute(self.query._plan(ranges))
            if self.query.return_incomplete:
                return IncompleteIterator(df, arr.schema)
            if self.query.return_arrow:
                return _to_arrow(df)
            pdf = df.toPandas()
            return pdf_to_numpy_dict(pdf, arr.schema, list(df.columns))
        # dense multi_index: materialize per-range grids (shape preserved
        # only per contiguous range; reference returns the cross-product)
        return self._dense_result(ranges)

    def _dense_result(self, ranges):
        """Dense multi_index: EVERY cell of the union-of-ranges grid,
        unwritten cells as fill (J3 semantics — the written-cells-only
        scan would silently drop holes).  Output stays flat in
        row-major dim order (the documented shape deviation: the
        reference reshapes to the ranges' cross-product)."""
        arr = self.array
        schema = arr.schema
        plan = self.query._plan(ranges)
        plan.dims = schema.dim_names  # the fill join needs every coord
        # unordered: Catalyst drops a Sort below the join but would keep
        # the layout exchange; the join result is ordered below
        plan.order = "U"
        cells = arr._execute(plan)
        dims = list(schema.dim_names)
        attr_names = [a for a in (plan.attrs if plan.attrs is not None
                                  else schema.attr_names)
                      if not schema.has_dim(a)]
        out = dense_fill_join(schema, arr._multi_grid(ranges), cells,
                              dims + attr_names).orderBy(*dims)
        # honor the query's result-shape options like the sparse path
        # does — silently ignoring them returned the wrong type
        if self.query is not None and self.query.return_incomplete:
            return IncompleteIterator(out, schema)
        if self.query is not None and self.query.return_arrow:
            return _to_arrow(out)
        pdf = out.toPandas()
        return pdf_to_numpy_dict(pdf, schema, list(out.columns))


class DataFrameIndexer:
    """``A.df[...]`` — pandas DataFrame results with index restoration
    (reference ``multirange_indexing.py:527-660``)."""

    def __init__(self, array: Array, query: Query):
        self.array = array
        self.query = query

    def __getitem__(self, selection):
        from .indexing import is_empty_range

        arr = self.array
        if is_empty_range(selection):
            plan = self.query._plan([])
            if plan.dims is not None and len(plan.dims) == 0:
                plan.dims = arr.schema.dim_names
            return self._restore_pandas_meta(
                arr._empty_projected(plan).toPandas())
        ranges = getitem_ranges_multi_index(
            arr.schema.domain, selection, nonempty=arr.nonempty_domain(),
            current_domain=arr.schema.current_domain_box())
        plan = self.query._plan(ranges)
        if plan.dims is not None and len(plan.dims) == 0:
            plan.dims = arr.schema.dim_names
        df = arr._execute(plan)
        pdf = df.toPandas()
        return self._restore_pandas_meta(pdf)

    def _restore_pandas_meta(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """Re-apply saved dtypes + index columns from the manifest
        (reference ``_update_df_from_meta``,
        ``multirange_indexing.py:872-912``)."""
        schema = self.array.schema
        pm = self.array._manifest.pandas_meta
        for a in schema.attrs_list:
            if a.enum_label and a.name in pdf.columns:
                enum = schema.enums[a.enum_label]
                cat = pd.Categorical.from_codes(
                    pdf[a.name].fillna(-1).astype("int64"),
                    categories=enum.values, ordered=enum.ordered)
                pdf[a.name] = cat
        dtypes = pm.get("attribute_dtypes", {})
        for cname, dt in dtypes.items():
            if cname in pdf.columns:
                try:
                    pdf[cname] = pdf[cname].astype(dt)
                except (TypeError, ValueError):
                    pass
        index_dims = pm.get("index_dims")
        if self.query.index_col and index_dims:
            cols = [c for c in index_dims if c in pdf.columns]
            if cols:
                pdf = pdf.set_index(cols)
                if cols == ["__tiledb_rows"]:
                    pdf.index.name = None
        return pdf


class IncompleteIterator:
    """``return_incomplete=True`` batch iteration
    (reference ``multirange_indexing.py:344-354``, ``core.cc:1260-1368``).

    Spark-native result spooling: the result is written ONCE to a
    temporary parquet spool (a distributed write — no driver
    involvement), then streamed back as Arrow record batches of
    ``batch_rows`` — columnar end-to-end with bounded driver memory.
    This replaces a per-Row ``toLocalIterator`` loop (driver-edge Python
    per row); the spool is the same contract as the reference's
    buffer-budget retry loop, and is how an incomplete read over a
    cluster-sized result has to work anyway (spill-safe, resumable)."""

    def __init__(self, df: DataFrame, schema: ArraySchema, batch_rows: int = 65536):
        self.df = df
        self.schema = schema
        self.batch_rows = batch_rows

    def __iter__(self):
        import glob
        import shutil
        import tempfile

        import pyarrow as pa
        import pyarrow.parquet as pq

        sess = self.df.sparkSession
        spool_base = sess.conf.get("tiledb.spool_dir", None)
        if spool_base:
            os.makedirs(spool_base, exist_ok=True)
            spool = tempfile.mkdtemp(prefix="tdbps_spool_",
                                     dir=spool_base)
        else:
            try:
                master = sess.conf.get("spark.master", "local") or "unknown"
            except Exception as exc:
                # Spark Connect sessions don't expose spark.master
                # (CONFIG_NOT_AVAILABLE); we cannot prove the driver
                # tempdir is executor-visible, so take the loud path
                # below (set tiledb.spool_dir).  Any OTHER conf failure
                # (py4j hiccup, stopped session) must surface itself —
                # swallowing it here would misdirect the user to
                # spool-dir advice on a session where the default
                # driver tempdir was perfectly valid.
                if "CONFIG_NOT_AVAILABLE" not in str(exc) and \
                        "connect" not in type(sess).__module__:
                    raise
                master = "unknown"
            if not master.startswith("local"):
                # a driver-local tempdir is invisible to executors on a
                # real cluster: the write lands on executor-local disks
                # and the glob below finds nothing — SILENT empty
                # iteration.  Require an explicit shared spool dir.
                raise RuntimeError(
                    "return_incomplete on a non-local master needs a "
                    "SHARED spool directory visible at the same path "
                    "on driver and executors: set "
                    "spark.conf.set('tiledb.spool_dir', <shared path>)")
            spool = tempfile.mkdtemp(prefix="tdbps_spool_")
        out = os.path.join(spool, "result")
        try:
            self.df.write.mode("overwrite").parquet(out)
            buf: list = []
            n = 0
            for fp in sorted(glob.glob(os.path.join(out, "*.parquet"))):
                for rb in pq.ParquetFile(fp).iter_batches(
                        batch_size=self.batch_rows):
                    buf.append(rb)
                    n += rb.num_rows
                    while n >= self.batch_rows:
                        tbl = pa.Table.from_batches(buf)
                        yield self._shape(tbl.slice(0, self.batch_rows))
                        rest = tbl.slice(self.batch_rows)
                        buf, n = rest.to_batches(), rest.num_rows
            if n:
                yield self._shape(pa.Table.from_batches(buf))
        finally:
            shutil.rmtree(spool, ignore_errors=True)

    def _shape(self, tbl):
        pdf = tbl.to_pandas()
        return pdf_to_numpy_dict(pdf, self.schema, list(tbl.column_names))


def _to_arrow(df: DataFrame):
    """Arrow export (reference ``core.cc:1514-1571``)."""
    try:
        return df.toArrow()
    except AttributeError:  # older pyspark
        import pyarrow as pa

        return pa.Table.from_pandas(df.toPandas(), preserve_index=False)
