"""Spark custom data source: ``spark.read.format("tiledb")`` /
``df.write.format("tiledb")`` / ``spark.readStream.format("tiledb")``
(the fragment change-feed stream source, ``TileDBStreamReader``).

The north-star integration shape ("DataFrame read/write via custom data
source"): a Spark 4 Python DataSource over the engine's
parquet-fragment + manifest storage.

Read path:
- ``partitions()``: driver-side planning — time-travel fragment selection
  and per-dim MBR pruning from pushed filters, then ONE InputPartition per
  (parquet file, row-group span), so a 1000-executor cluster gets balanced
  splits without listing data files on executors.
- ``pushFilters()``: typed Spark filters are kept for pruning AND handed
  back to Spark for re-evaluation (double-filtering keeps correctness
  trivially safe; the win is skipping whole fragments/row-groups).
- ``read()``: Arrow record batches straight from pyarrow with a row-level
  filter expression — columnar end-to-end.
- Delete-condition fragments are applied per batch (row-level, fragment
  timestamp-aware).  Cross-fragment last-write-wins on no-duplicates
  arrays is resolved per-task, merge-on-read style: planning attaches to
  each split the parquet files of NEWER fragments whose MBR overlaps its
  fragment, and ``read()`` anti-joins its rows against their (still-live)
  coordinates — the equality-delete pattern, no shuffle, cost bounded by
  actual MBR overlap.  When a fragment has more than
  ``lww_group_threshold`` (default 8) newer overlapping fragments — the
  hot-key upsert pattern, where per-split stacking would re-read newer
  files O(F^2) times — its whole overlap component becomes a
  streaming-merge split that reads each file exactly once (see
  ``_read_group``).  A component bigger than ``lww_split_bytes``
  (default 1 GiB) is further auto-sliced into first-dim coordinate
  ranges derived from row-group stats, one merge task per slice —
  a giant component regains parallelism and bounded memory instead of
  serializing into one task.

Write path (``format("tiledb")`` batch and stream sinks): at plan time
the driver reads the manifest once, refuses missing or unknown columns
(``fragment_writer.check_write_columns``) and resolves the stored Arrow
layout and parquet codec; each task writes its Arrow batches, conformed
to that layout, as one parquet piece; the driver ``commit`` keeps only
the pieces the tasks reported and publishes them as ONE fragment
through ``fragment_writer.publish_fragment`` — the commit point every
engine writer shares.  The stream sink stages pieces per micro-batch
and tags the fragment name with the batch id, so a replayed batch
publishes nothing.

NOTE: the engine's primary scan path (``Array.dataframe()``) reads the
pruned parquet files with Spark's native vectorized reader — faster than
any Python data source can be (no Python in the scan loop).  This format
exists for API parity and for composing with other Spark-source tooling.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Iterator, List, Optional, Sequence

from pyspark.sql.datasource import (DataSource, DataSourceArrowWriter,
                                    DataSourceReader, EqualTo, Filter,
                                    GreaterThan, GreaterThanOrEqual, In,
                                    InputPartition, LessThan,
                                    LessThanOrEqual, WriterCommitMessage)
from pyspark.sql.datasource import (DataSourceStreamArrowWriter,
                                    DataSourceStreamReader)
from pyspark.sql.types import StructType

FORMAT_NAME = "tiledb"


@dataclass
class _Split(InputPartition):
    file_path: str
    row_groups: tuple
    # simple conjunctive predicates for pyarrow: (col, op, value)
    predicates: tuple = ()
    # delete conditions visible to this fragment: tuple of expr strings
    deletes: tuple = ()
    # last-write-wins on no-duplicates arrays, merge-on-read style: rows
    # whose coordinates also appear in a NEWER overlapping fragment are
    # superseded.  Each entry is (parquet_path, deletes_for_that_fragment)
    # — the task anti-joins its batch against the union of their (still
    # live) coordinates.  No shuffle; cost bounded by MBR overlap.
    newer: tuple = ()
    dim_names: tuple = ()
    # many-overlap fallback: one split per connected component of
    # mutually-overlapping fragments, entries (file_paths, deletes) in
    # NEWEST-fragment-first order.  The task streams fragments newest
    # first, anti-joining each against the coordinates already seen —
    # every file is read exactly ONCE (the per-split `newer` stacking
    # above is O(F^2) reads when F fragments all overlap).
    group: tuple = ()
    # giant-component auto-split: restrict this group task to first-dim
    # coordinates in [lo, hi) — (None, None) / () means the whole domain.
    # A coordinate lives in exactly one slice, so per-slice merges are
    # independent and the component regains parallelism + bounded memory.
    group_range: tuple = ()
    # schema-evolution support: the declared arrow schema (pa.Schema,
    # picklable) + per-attr fill values — fragments written before an
    # attribute existed lack its column; the task adds it back as
    # fill/null (the native path's Array._fill_evolved)
    arrow_schema: object = None
    fills: tuple = ()
    # attr names this fragment must NOT read from its files: a dropped-
    # then-re-added attr's stored column belongs to the predecessor
    # (Manifest.masked_attrs) — it reads as fill/null instead
    masked: tuple = ()


def _preds_to_expr(predicates, available=None):
    """Conjunctive (col, op, val) predicates -> one pyarrow Expression
    (None = no filter).  ``available``: column names present in the
    file — predicates on a column the fragment predates are SKIPPED
    (safe: pushFilters declares every filter unsupported, so Spark
    re-applies them all after the scan)."""
    import pyarrow.compute as pc

    expr = None
    for col, op, val in predicates:
        if available is not None and col not in available:
            continue
        if op == "in":
            f = pc.field(col).isin(list(val))
        else:
            f = {"==": pc.field(col) == val, ">": pc.field(col) > val,
                 ">=": pc.field(col) >= val, "<": pc.field(col) < val,
                 "<=": pc.field(col) <= val}[op]
        expr = f if expr is None else expr & f
    return expr


def _conform_table(tbl, target, fills=(), masked=()):
    """Align one fragment's table to the declared arrow schema:
    pre-evolution fragments lack added columns — materialize them as
    the attr's fill value (non-nullable evolved attrs, mirroring
    Array._fill_evolved) or nulls, then cast column types.  ``masked``
    columns are treated as absent even when the file HAS them (dropped-
    then-re-added attrs: the stored bytes belong to the predecessor; a
    blind cast would fabricate values).  A table already matching the
    target passes through with one cast."""
    import pyarrow as pa

    fill_map = dict(fills)
    cols = []
    names = set(tbl.column_names) - set(masked)
    for field in target:
        if field.name in names:
            cols.append(tbl[field.name])
        else:
            fv = fill_map.get(field.name)
            if fv is not None:
                cols.append(pa.array([fv] * tbl.num_rows).cast(field.type))
            else:
                cols.append(pa.nulls(tbl.num_rows, field.type))
    return pa.table(dict(zip([f.name for f in target], cols))).cast(target)


def _arrow_layout(stored_schema):
    """Arrow schema of an array's STORED column layout — dims first,
    then attrs, at the declared types.  This is exactly the schema the
    batch reader declares (``to_arrow_schema(schema.spark_schema())``),
    so fragments written in this layout take the reader's zero-copy
    fast path."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(stored_schema.spark_schema())


def _to_stored_layout(batch, target):
    """Reorder/cast one incoming Arrow batch to the stored layout.

    Spark hands writer tasks batches in DATAFRAME column order; writing
    them raw persists that order, and a reader mapping batches to the
    declared schema by POSITION would then silently transpose columns
    (two int64 columns swap without even a type error).  Missing and
    extra columns were refused at plan time."""
    if batch.schema == target:
        return batch
    return batch.select(target.names).cast(target)


@dataclass
class _FragCommit(WriterCommitMessage):
    """One task's parquet piece ("" = the task saw no rows)."""
    file_name: str = ""
    rows: int = 0


_StreamPieceCommit = _FragCommit   # the stream sink's name for it


class TileDBDataSource(DataSource):
    """``format("tiledb")`` entry point."""

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _uri(self) -> str:
        from .. import manifest as mf

        uri = self.options.get("path") or self.options.get("uri")
        if not uri:
            raise ValueError("format('tiledb') requires .load(<array uri>)")
        # refuse remote schemes LOUDLY at plan time (and normalize
        # file://) — the writers build fragment paths with os.path.join,
        # which would misplace an s3:// uri into the local working dir
        return mf.require_local_uri(uri)

    def schema(self) -> StructType:
        from .. import manifest as mf

        return mf.read_manifest(self._uri()).schema.spark_schema()

    def reader(self, schema: StructType) -> "TileDBReader":
        ts = self.options.get("timestamp")
        thr = self.options.get("lww_group_threshold")
        sb = self.options.get("lww_split_bytes")
        return TileDBReader(self._uri(), int(ts) if ts is not None else None,
                            lww_group_threshold=int(thr) if thr is not None else 8,
                            lww_split_bytes=int(sb) if sb is not None else 1 << 30,
                            spark_schema=schema)

    def streamReader(self, schema: StructType) -> "TileDBStreamReader":
        return TileDBStreamReader(self._uri(), schema)

    def _plan_write(self, schema: StructType, overwrite: bool):
        """(uri, stored schema) for a writer: ONE plan-time manifest
        read both validates the columns and fixes the layout, so the two
        can never observe different manifest versions."""
        from .. import manifest as mf
        from .fragment_writer import check_write_columns

        if overwrite:
            raise NotImplementedError(
                "overwrite mode not supported; fragments are append-only "
                "(use consolidate/vacuum to rewrite)")
        uri = self._uri()
        stored = mf.read_manifest(uri).schema
        check_write_columns(stored, schema.fieldNames())
        return uri, stored

    def writer(self, schema: StructType, overwrite: bool) -> "TileDBWriter":
        return TileDBWriter(*self._plan_write(schema, overwrite))

    def streamWriter(self, schema: StructType,
                     overwrite: bool) -> "TileDBStreamWriter":
        return TileDBStreamWriter(*self._plan_write(schema, overwrite))


_PUSHABLE = (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
             LessThanOrEqual, In)


class TileDBReader(DataSourceReader):
    def __init__(self, uri: str, timestamp: Optional[int],
                 lww_group_threshold: int = 8,
                 lww_split_bytes: int = 1 << 30,
                 spark_schema: Optional[StructType] = None):
        self.uri = uri
        self.timestamp = timestamp
        self.lww_group_threshold = lww_group_threshold
        self.lww_split_bytes = lww_split_bytes
        self.spark_schema = spark_schema
        self._preds: list[tuple] = []

    def pushFilters(self, filters: List[Filter]) -> Iterator[Filter]:
        """Record pushable predicates for fragment/row-group pruning and
        batch-level filtering; return EVERY filter as unsupported so Spark
        re-applies them (pruning win without correctness risk)."""
        for f in filters:
            if isinstance(f, _PUSHABLE) and len(f.attribute) == 1:
                col = f.attribute[0]
                if isinstance(f, EqualTo):
                    self._preds.append((col, "==", f.value))
                elif isinstance(f, GreaterThan):
                    self._preds.append((col, ">", f.value))
                elif isinstance(f, GreaterThanOrEqual):
                    self._preds.append((col, ">=", f.value))
                elif isinstance(f, LessThan):
                    self._preds.append((col, "<", f.value))
                elif isinstance(f, LessThanOrEqual):
                    self._preds.append((col, "<=", f.value))
                elif isinstance(f, In):
                    self._preds.append((col, "in", tuple(f.value)))
            yield f  # Spark re-evaluates everything

    def _dim_ranges(self, schema):
        """Pushed predicates on dim columns -> DimRanges for MBR pruning."""
        from ..plans import DimRanges

        out = []
        for d in schema.domain:
            intervals = []
            points = []
            lo = hi = None
            for col, op, val in self._preds:
                if col != d.name:
                    continue
                if op == "==":
                    points.append(val)
                elif op in (">", ">="):
                    lo = val if lo is None else max(lo, val)
                elif op in ("<", "<="):
                    hi = val if hi is None else min(hi, val)
                elif op == "in":
                    points.extend(val)
            if lo is not None or hi is not None:
                intervals.append((lo if lo is not None else float("-inf"),
                                  hi if hi is not None else float("inf")))
            if intervals or points:
                out.append(DimRanges(name=d.name, intervals=intervals,
                                     points=points))
        return out

    def partitions(self) -> Sequence[_Split]:
        import pyarrow.parquet as pq

        from .. import manifest as mf
        from ..array import _decode_mbr
        from ..plans.range_ir import mbr_intersects

        m = mf.read_manifest(self.uri)
        schema = m.schema
        frs = m.live_fragments(self.timestamp)
        # current-domain clamp: the indexer read surface restricts open
        # reads to the box (indexing.py clamp); the datasource applies
        # the same bounds as predicates (pruning + row filter) so the
        # two documented read surfaces agree on the array's contents
        for dname, (clo, chi) in (schema.current_domain_box() or {}).items():
            for bound, op in ((clo, ">="), (chi, "<=")):
                if bound is None:
                    continue
                if hasattr(bound, "item"):
                    bound = bound.item()
                self._preds.append((dname, op, bound))
        ranges = self._dim_ranges(schema)
        if ranges:
            frs = [f for f in frs
                   if mbr_intersects(ranges, _decode_mbr(schema, f.nonempty_domain))]
        deletes = m.delete_fragments_visible(self.timestamp)
        from pyspark.sql.pandas.types import to_arrow_schema

        from ..datatypes import stored_scalar

        arrow_schema = to_arrow_schema(
            self.spark_schema if self.spark_schema is not None
            else schema.spark_schema())
        fills = tuple(
            (a.name, stored_scalar(a.fill, a.dtype))
            for a in schema.attrs_list
            if a.fill is not None and not a.nullable
            and a.name in {f.name for f in arrow_schema})

        _files_cache: dict = {}
        _dels_cache: dict = {}

        def frag_files(f) -> list:
            got = _files_cache.get(f.name)
            if got is not None:
                return got
            out = []
            for root, _dirs, files in os.walk(mf.fragment_path(self.uri, f)):
                for fn in sorted(files):
                    if fn.endswith(".parquet"):
                        out.append(os.path.join(root, fn))
            _files_cache[f.name] = out
            return out

        def frag_deletes(f) -> tuple:
            got = _dels_cache.get(f.name)
            if got is not None:
                return got
            # deletes apply to cells written at or before the delete's ts
            out = tuple(
                d.delete_condition for d in deletes
                if d.timestamp_range[0] >= f.timestamp_range[0] and d.delete_condition)
            _dels_cache[f.name] = out
            return out

        # commit order for last-write-wins (same total order as
        # Array._scan_df: timestamp, manifest order for same-ms ties —
        # NOT the random uuid name, which would flip LWW for ~half of
        # same-millisecond write pairs)
        frs = sorted(frs, key=lambda f: f.timestamp_range[0])

        def frag_masked(f) -> tuple:
            return m.masked_attrs(f.schema_version)

        mbrs = [_decode_mbr(schema, f.nonempty_domain) for f in frs]
        need_lww = (not schema.allows_duplicates) and len(frs) > 1
        preds = tuple(self._preds)
        dim_names = tuple(d.name for d in schema.domain)
        newer_map: dict[str, tuple] = {}
        grouped: set = set()
        group_splits: list[_Split] = []
        if need_lww:
            # pairwise MBR-overlap graph (i < j means j is newer)
            n = len(frs)
            edges = [[] for _ in range(n)]
            newer_count = [0] * n
            for i in range(n):
                for j in range(i + 1, n):
                    if all(_box_overlap(mbrs[i].get(d.name), mbrs[j].get(d.name))
                           for d in schema.domain):
                        edges[i].append(j)
                        edges[j].append(i)
                        newer_count[i] += 1
            # Hot-key upsert workloads produce F mutually-overlapping
            # fragments; stacking each fragment's newer files onto every
            # split is O(F^2) file reads across the scan.  Above the
            # threshold, route each connected overlap component through
            # ONE streaming-merge split instead: fragments are processed
            # newest first against a running seen-coordinate set, so each
            # file is read exactly once (O(F)).  Parallelism drops to one
            # task per component — for a single giant component prefer the
            # native scan (Array.dataframe()), which resolves LWW with a
            # fully parallel max_by shuffle (array.py _scan_df).
            parent = list(range(n))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for i in range(n):
                for j in edges[i]:
                    ri, rj = find(i), find(j)
                    if ri != rj:
                        parent[ri] = rj
            comps: dict[int, list] = {}
            for i in range(n):
                comps.setdefault(find(i), []).append(i)
            for members in comps.values():
                if (len(members) > 1
                        and max(newer_count[i] for i in members) > self.lww_group_threshold):
                    # newest first; same-ms ties break by MANIFEST order
                    # (the list index — frs is stably ts-sorted), never
                    # the random uuid name, matching the per-split path
                    # and Array._scan_df's frag_order_key (a name
                    # tie-break flips LWW for ~half of same-ms pairs)
                    entries = tuple(
                        (tuple(frag_files(frs[i])), frag_deletes(frs[i]),
                         frag_masked(frs[i]))
                        for i in sorted(
                            members,
                            key=lambda i: (frs[i].timestamp_range[0], i),
                            reverse=True))
                    # a giant component must not serialize into ONE task:
                    # slice it by first-dim coordinate ranges (from parquet
                    # row-group stats) so each slice is an independent,
                    # memory-bounded streaming merge — parallelism is
                    # restored without shuffling (a coordinate lives in
                    # exactly one slice)
                    for rng in self._component_ranges(entries, dim_names[0]):
                        group_splits.append(_Split(
                            file_path="", row_groups=(), predicates=preds,
                            deletes=(), group=entries, dim_names=dim_names,
                            group_range=rng, arrow_schema=arrow_schema,
                            fills=fills))
                    grouped.update(members)
            for i, f in enumerate(frs):
                if i in grouped:
                    continue
                entries = []
                for j in sorted(edges[i]):
                    if j <= i:
                        continue
                    dels = frag_deletes(frs[j])
                    jm = frag_masked(frs[j])
                    entries.extend((p, dels, jm) for p in frag_files(frs[j]))
                newer_map[f.name] = tuple(entries)

        splits: list[_Split] = list(group_splits)
        # prefetch parquet footers concurrently — serial footer reads
        # (one round-trip each on object storage) put O(#files) planning
        # latency on the driver (_component_ranges' existing pattern)
        from concurrent.futures import ThreadPoolExecutor

        plain_paths = [p for i, f in enumerate(frs) if i not in grouped
                       for p in frag_files(f)]
        md_map: dict = {}
        if plain_paths:
            with ThreadPoolExecutor(
                    max_workers=min(16, len(plain_paths))) as ex:
                md_map = dict(zip(plain_paths, ex.map(
                    lambda p: pq.ParquetFile(p).metadata, plain_paths)))
        # ~96 MB of compressed row groups per task: big enough to amortize
        # the Python worker round-trip, small enough to balance a cluster
        target_bytes = 96 << 20
        for i, f in enumerate(frs):
            if i in grouped:
                continue
            fdel = frag_deletes(f)
            newer = newer_map.get(f.name, ())
            # row-group stats of a masked (drop/re-add predecessor)
            # column describe the WRONG attr — never prune on them
            fm = set(frag_masked(f))
            prune_preds = (preds if not fm
                           else tuple(p for p in preds if p[0] not in fm))
            for p in frag_files(f):
                md = md_map[p]
                live = [i for i in range(md.num_row_groups)
                        if _rg_matches(md.row_group(i), prune_preds)]
                group: list = []
                size = 0
                for i in live:
                    group.append(i)
                    size += md.row_group(i).total_byte_size
                    if size >= target_bytes:
                        splits.append(_Split(file_path=p, row_groups=tuple(group),
                                             predicates=preds, deletes=fdel,
                                             newer=newer, dim_names=dim_names,
                                             arrow_schema=arrow_schema,
                                             fills=fills, masked=frag_masked(f)))
                        group, size = [], 0
                if group:
                    splits.append(_Split(file_path=p, row_groups=tuple(group),
                                         predicates=preds, deletes=fdel,
                                         newer=newer, dim_names=dim_names,
                                         arrow_schema=arrow_schema,
                                         fills=fills, masked=frag_masked(f)))
        return splits or [_Split(file_path="", row_groups=(), predicates=(),
                                 deletes=())]

    def _component_ranges(self, entries, dim0: str):
        """First-dim range slicing for a giant overlap component.

        Returns a list of ``(lo, hi)`` half-open first-dim ranges (``None``
        = unbounded; ``[()]`` = a single whole-domain slice) sized so each
        slice covers roughly ``lww_split_bytes`` of row-group data.
        Boundaries are taken from row-group min values, so for fragments
        sorted on the first dim each row group feeds ~1 slice; in the
        worst (unsorted) case a row group is re-read once per slice it
        straddles — still far better than one serialized mega-task.
        Components below the threshold, or with missing first-dim stats,
        keep the single-task streaming merge.  Footers are read with a
        thread pool: a giant component has many files by construction,
        and serial footer fetches (one round-trip each on object
        storage) would put unbounded planning latency on the driver."""
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        all_paths = [p for paths, _dels, _m in entries for p in paths]

        from ..operators.stats_bounds import column_chunk_minmax

        def footer(p):
            md = pq.ParquetFile(p).metadata
            out = []
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                out.append((column_chunk_minmax(rg, dim0),
                            rg.total_byte_size))
            return out

        rgs = []  # ((min, max) | None, bytes)
        total = 0
        if all_paths:
            with ThreadPoolExecutor(
                    max_workers=min(16, len(all_paths))) as ex:
                for file_rgs in ex.map(footer, all_paths):
                    for mm, size in file_rgs:
                        rgs.append((mm, size))
                        total += size
        if total <= self.lww_split_bytes or any(mm is None for mm, _ in rgs):
            return [()]
        n_slices = min(64, -(-total // self.lww_split_bytes))
        rgs.sort(key=lambda t: (t[0][0], t[0][1]))
        target = total / n_slices
        bounds: list = []
        acc = 0.0
        next_cut = target
        for (mn, _mx), size in rgs:
            if acc >= next_cut and (not bounds or mn > bounds[-1]):
                bounds.append(mn)
                next_cut += target
            acc += size
        if not bounds:
            return [()]

        def amplification(bnds) -> float:
            """Bytes read across all slices / component bytes: a row
            group is re-read by every slice it straddles."""
            read = 0
            for (mn, mx), size in rgs:
                k = 1 + sum(1 for b in bnds if mn < b <= mx)
                read += k * size
            return read / total

        # engine-written fragments are range-clustered (sorted on the
        # first dim), so row groups are narrow and each feeds ~1 slice.
        # For unsorted data (wide row groups spanning many slices) the
        # re-read cost can exceed the parallelism win — halve the slice
        # count until amplification is acceptable (sorted fragments sit
        # at ~1.0x; 1.5x tolerates boundary straddle, rejects layouts
        # where most row groups span multiple slices), degrading to the
        # single-task merge in the worst case.
        while bounds and amplification(bounds) > 1.5:
            bounds = bounds[1::2]
        if not bounds:
            return [()]
        ranges = []
        lo = None
        for b in bounds:
            ranges.append((lo, b))
            lo = b
        ranges.append((lo, None))
        return ranges

    def read(self, split: _Split):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.dataset as ds
        import pyarrow.parquet as pq

        if split.group:
            yield from self._read_group(split)
            return
        if not split.file_path:
            return
        # Conform the output batches to the declared schema when the
        # file (a) lacks declared columns — schema evolution, fill/null
        # them — or (b) stores the declared columns in a different
        # ORDER or at different TYPES (legacy fragments written by the
        # pre-r14 datasource sink persisted DataFrame column order).
        # Spark maps yielded batches to the declared schema by
        # POSITION, so passing such a file through raw would silently
        # transpose same-typed columns or crash on the first type
        # mismatch.  Predicates on missing columns are skipped (Spark
        # re-applies every pushed filter anyway).
        pf_schema = pq.ParquetFile(split.file_path).schema_arrow
        file_cols = set(pf_schema.names)
        if split.arrow_schema is not None:
            want = [(f.name, f.type) for f in split.arrow_schema]
            dset = {f.name for f in split.arrow_schema}
            got = [(f.name, f.type) for f in pf_schema if f.name in dset]
            conform = (got != want or len(pf_schema.names) != len(want)
                       or bool(split.masked))
        else:
            conform = False
        # a masked column must not see predicates either: its stored
        # bytes are the dropped predecessor's — filtering on them drops
        # rows Spark cannot restore (unlike skipped predicates, which
        # Spark re-applies post-scan)
        expr = _preds_to_expr(
            split.predicates,
            available=(file_cols - set(split.masked)) if conform else None)

        newer_coords = None
        if split.newer:
            # last-write-wins: drop rows whose coordinates survive in a
            # newer overlapping fragment (equality-delete / merge-on-read
            # semantics, resolved per-task with a pyarrow anti-join —
            # no shuffle, no cross-partition coordination)
            dims = list(split.dim_names)
            newer_parts = []
            for path, dels, jmask in split.newer:
                nt = pq.read_table(path, columns=None if dels else dims)
                if dels:
                    if jmask or (split.arrow_schema is not None
                                 and set(f.name for f in split.arrow_schema)
                                 - set(nt.column_names)):
                        # pre-evolution fragment: delete conditions may
                        # reference columns it lacks (or columns it must
                        # NOT read — drop/re-add mask) — conform first
                        # (fill/null), matching the native scan's
                        # evolved-fill-then-delete order
                        nt = _conform_table(nt, split.arrow_schema,
                                            split.fills, jmask)
                    # a newer row that was itself deleted no longer
                    # supersedes (the older cell resurfaces, matching
                    # Array._scan_df delete-then-dedup order)
                    nt = _apply_deletes(nt, dels)
                nt = nt.select(dims)
                if split.arrow_schema is not None:
                    # legacy fragments (pre-r14 sink) can store dims at
                    # narrower types (int32 k vs declared int64): left
                    # uncast, concat_tables over mixed siblings and the
                    # anti-join against the declared-typed scan both
                    # raise ArrowInvalid — cast to the declared dim
                    # types like every other read surface
                    dim_target = pa.schema(
                        [split.arrow_schema.field(d) for d in dims])
                    if nt.schema != dim_target:
                        nt = nt.cast(dim_target)
                newer_parts.append(nt)
            if newer_parts:
                newer_coords = pa.concat_tables(newer_parts) \
                    .group_by(dims).aggregate([])

        # stream the split's row groups through a dataset fragment so the
        # filter is evaluated with page/row-group statistics (no whole-
        # split materialization — bounded memory regardless of split size)
        import pyarrow.fs as pafs

        if "://" in split.file_path:
            fs, fs_path = pafs.FileSystem.from_uri(split.file_path)
        else:
            fs, fs_path = pafs.LocalFileSystem(), os.path.abspath(split.file_path)
        frag = ds.ParquetFileFormat().make_fragment(
            fs_path, filesystem=fs, row_groups=list(split.row_groups))
        for batch in frag.to_batches(filter=expr):
            if batch.num_rows == 0:
                continue
            if conform or split.deletes or newer_coords is not None:
                tbl = pa.Table.from_batches([batch])
                if conform:
                    tbl = _conform_table(tbl, split.arrow_schema,
                                         split.fills, split.masked)
                if split.deletes:
                    tbl = _apply_deletes(tbl, split.deletes)
                if newer_coords is not None:
                    tbl = tbl.join(newer_coords, keys=list(split.dim_names),
                                   join_type="left anti")
                for b in tbl.to_batches():
                    if b.num_rows:
                        yield b
            else:
                yield batch

    def _read_group(self, split: _Split):
        """Streaming last-write-wins merge over one connected component of
        mutually-overlapping fragments (many-overlap fallback): fragments
        arrive NEWEST first; each is anti-joined against the coordinates
        of all newer fragments seen so far, then contributes its own
        (post-delete) coordinates to the seen set.

        Memory: the seen set holds ONE uint64 hash per distinct
        coordinate (8 bytes/coord regardless of dim count/width; a 64-bit
        collision wrongly superseding a live row is ~n^2/2^65 — negligible
        at any realistic component size), plus one fragment slice at a
        time.  With a ``group_range`` the task reads only the row groups
        whose first-dim stats intersect its slice and filters rows to the
        slice, so both I/O and the seen set scale with the slice, not the
        component."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        expr = _preds_to_expr(split.predicates)

        dims = list(split.dim_names)
        dim0 = dims[0]
        lo, hi = (tuple(split.group_range) + (None, None))[:2] \
            if split.group_range else (None, None)

        def read_sliced(p):
            f = pq.ParquetFile(p)
            if lo is None and hi is None:
                return f.read()
            md = f.metadata
            keep = []
            for i in range(md.num_row_groups):
                rg = md.row_group(i)
                mm = None
                for j in range(rg.num_columns):
                    cc = rg.column(j)
                    if cc.path_in_schema == dim0:
                        st = cc.statistics
                        if st is not None and st.has_min_max:
                            mm = (st.min, st.max)
                        break
                if mm is None:  # no stats: must read; row filter below
                    keep.append(i)
                elif ((lo is None or mm[1] >= lo)
                        and (hi is None or mm[0] < hi)):
                    keep.append(i)
            if not keep:
                return pa.Table.from_batches([], schema=f.schema_arrow)
            tbl = f.read_row_groups(keep)
            mask = None
            if lo is not None:
                mask = pc.greater_equal(tbl[dim0], lo)
            if hi is not None:
                m2 = pc.less(tbl[dim0], hi)
                mask = m2 if mask is None else pc.and_(mask, m2)
            return tbl.filter(mask) if mask is not None else tbl

        target = split.arrow_schema
        seen = None  # sorted unique coord hashes of all newer fragments
        for paths, dels, gmask in split.group:
            parts = [read_sliced(p) for p in paths]
            if target is not None:
                # conform BEFORE concat: pre-evolution fragments lack
                # added columns (mixed-schema concat fails), and the
                # output filter may reference an evolved column
                parts = [_conform_table(t, target, split.fills, gmask)
                         for t in parts]
                if not parts:
                    # an empty (record-only / fully-pruned) member:
                    # contributes nothing, but concat_tables([]) raises
                    parts = [target.empty_table()]
            tbl = pa.concat_tables(parts)
            if dels:
                tbl = _apply_deletes(tbl, dels)
            h = _coord_hashes(tbl, dims)
            surv = tbl if seen is None else tbl.filter(
                pa.array(~np.isin(h, seen, assume_unique=False)))
            if expr is not None:
                # output-side pruning only; the full (slice-local) fragment
                # still feeds the seen set — a newer row outside the
                # predicate still supersedes an older in-range row
                surv = surv.filter(expr)
            for b in surv.to_batches():
                if b.num_rows:
                    yield b
            hs = np.unique(h)
            seen = hs if seen is None else np.union1d(seen, hs)


def _coord_hashes(tbl, dims):
    """uint64 hash per row of the dim-coordinate tuple (deterministic
    pandas hashing — stable across processes/executors)."""
    import pandas as pd

    if tbl.num_rows == 0:
        import numpy as np

        return np.empty(0, dtype="uint64")
    pdf = tbl.select(dims).to_pandas()
    return pd.util.hash_pandas_object(pdf, index=False).to_numpy()


def _apply_deletes(tbl, conds):
    """Anti-apply delete conditions to an Arrow table — fully columnar
    (pyarrow.compute mask + ``Table.filter``; the format-read path never
    round-trips through pandas)."""
    import pyarrow.compute as pc

    for cond in conds:
        tbl = tbl.filter(pc.invert(_eval_delete(tbl, cond)))
    return tbl


def _eval_delete(tbl, cond: str):
    """Evaluate a QueryCondition string against an Arrow table, returning
    an all-valid boolean mask (executor-side delete application; same
    comparison grammar as the Spark compiler, pyarrow.compute backend).

    TileDB QC leaf semantics (functions/query_condition._null_is_false):
    a comparison on a null cell is FALSE, and NOT/!= negate that boolean —
    Arrow comparisons propagate null instead, so every leaf is
    ``fill_null(cmp, False) AND is_valid(col)``, keeping the mask
    null-free before combinators.  Raises rather than silently skipping a
    delete it cannot evaluate."""
    import ast

    import pyarrow as pa
    import pyarrow.compute as pc

    def col_name(node):
        if isinstance(node, ast.Name):
            return node.id
        if (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
                and node.func.id in ("attr", "dim", "val") and len(node.args) == 1
                and isinstance(node.args[0], ast.Constant)
                and isinstance(node.args[0].value, str)):
            return node.args[0].value
        return None

    def const(node):
        if isinstance(node, ast.Constant):
            return node.value
        if isinstance(node, (ast.List, ast.Tuple)):
            return [const(e) for e in node.elts]
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
            return -const(node.operand)
        raise NotImplementedError(f"unsupported literal {ast.dump(node)}")

    _OPS = {ast.Eq: pc.equal, ast.NotEq: pc.not_equal, ast.Lt: pc.less,
            ast.LtE: pc.less_equal, ast.Gt: pc.greater, ast.GtE: pc.greater_equal}
    _REV = {pc.less: pc.greater, pc.less_equal: pc.greater_equal,
            pc.greater: pc.less, pc.greater_equal: pc.less_equal,
            pc.equal: pc.equal, pc.not_equal: pc.not_equal}

    def leaf(raw, *cols):
        m = pc.fill_null(raw, False)
        for c in cols:
            m = pc.and_(m, pc.is_valid(c))
        return m

    def pair(left, op, right):
        lname, rname = col_name(left), col_name(right)
        if isinstance(op, (ast.In, ast.NotIn)):
            if lname is None:
                raise NotImplementedError("in/not in needs a column lhs")
            col = tbl[lname]
            m = leaf(pc.is_in(col, value_set=pa.array(const(right))), col)
            return pc.invert(m) if isinstance(op, ast.NotIn) else m
        fn = _OPS.get(type(op))
        if fn is None:
            raise NotImplementedError(f"operator {type(op).__name__}")
        if lname is None and rname is not None:
            lname, right, fn = rname, left, _REV[fn]
            rname = None
        if lname is None:
            raise NotImplementedError("comparison must reference a column")
        lcol = tbl[lname]
        if rname is not None:
            rcol = tbl[rname]
            return leaf(fn(lcol, rcol), lcol, rcol)
        v = const(right)
        if v is None:  # null test
            return pc.is_null(lcol) if fn is pc.equal else pc.is_valid(lcol)
        return leaf(fn(lcol, pa.scalar(v)), lcol)

    def ev(node):
        if isinstance(node, ast.Compare):
            out, left = None, node.left
            for op, right in zip(node.ops, node.comparators):
                t = pair(left, op, right)
                out = t if out is None else pc.and_(out, t)
                left = right
            return out
        if isinstance(node, ast.BoolOp):
            f = pc.and_ if isinstance(node.op, ast.And) else pc.or_
            terms = [ev(v) for v in node.values]
            out = terms[0]
            for t in terms[1:]:
                out = f(out, t)
            return out
        if isinstance(node, ast.BinOp) and isinstance(node.op, (ast.BitAnd, ast.BitOr)):
            f = pc.and_ if isinstance(node.op, ast.BitAnd) else pc.or_
            return f(ev(node.left), ev(node.right))
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, (ast.Not, ast.Invert)):
            return pc.invert(ev(node.operand))
        name = col_name(node)
        if name is not None:  # bare boolean attribute
            return pc.fill_null(tbl[name], False)
        raise NotImplementedError(f"unsupported node {ast.dump(node)}")

    try:
        return ev(ast.parse(cond, mode="eval").body)
    except Exception as e:
        raise NotImplementedError(
            f"delete condition {cond!r} not evaluable in the tiledb format "
            f"reader ({e}); read via tiledb_py_spark.open()") from e


def _rg_matches(rg_md, preds: tuple) -> bool:
    """Row-group min/max statistics vs the pushed conjunctive predicates:
    False only when a predicate PROVABLY matches no row in the group
    (missing/partial stats keep the group — pruning is best-effort,
    correctness comes from the batch-level filter + Spark re-evaluation)."""
    if not preds:
        return True
    stats = {}
    for j in range(rg_md.num_columns):
        cc = rg_md.column(j)
        s = cc.statistics
        if s is not None and s.has_min_max:
            stats[cc.path_in_schema] = (s.min, s.max)
    for col, op, val in preds:
        mm = stats.get(col)
        if mm is None:
            continue
        lo, hi = mm
        try:
            if op == "==" and (val < lo or val > hi):
                return False
            if op == ">" and hi <= val:
                return False
            if op == ">=" and hi < val:
                return False
            if op == "<" and lo >= val:
                return False
            if op == "<=" and lo > val:
                return False
            if op == "in" and not any(lo <= v <= hi for v in val):
                return False
        except TypeError:
            continue  # incomparable stats (e.g. binary vs str) — keep
    return True


def _box_overlap(a, b) -> bool:
    if a is None or b is None:
        return True  # unknown extent: assume overlap (safe)
    return not (a[1] < b[0] or b[1] < a[0])


class _FragmentSink:
    """Plan-time state shared by the batch and stream writers, resolved
    once on the DRIVER and pickled to tasks (executors never re-read the
    manifest): the ArraySchema the write was validated against — tagged
    by ``read_manifest`` with its version, which ``publish_fragment``
    stamps on the record — its stored Arrow layout and its declared
    parquet codec.  ``schema`` defaults to the manifest's current one
    (directly constructed writers); the array must exist."""

    def __init__(self, uri: str, schema=None):
        from .. import manifest as mf
        from .fragment_writer import _schema_codec

        self.uri = mf.require_local_uri(uri)
        self.schema = (schema if schema is not None
                       else mf.read_manifest(self.uri).schema)
        self.target_schema = _arrow_layout(self.schema)
        self.codec = _schema_codec(self.schema)

    def _write_piece(self, batches, directory: str,
                     prefix: str) -> _FragCommit:
        """Task side: stream Arrow batches, conformed to the stored
        layout, into ONE uuid-named parquet piece under ``directory``."""
        import uuid

        import pyarrow.parquet as pq

        os.makedirs(directory, exist_ok=True)
        fn = f"{prefix}-{uuid.uuid4().hex[:12]}.parquet"
        writer = None
        rows = 0
        for batch in batches:
            batch = _to_stored_layout(batch, self.target_schema)
            if writer is None:
                writer = pq.ParquetWriter(os.path.join(directory, fn),
                                          batch.schema,
                                          compression=self.codec)
            writer.write_batch(batch)
            rows += batch.num_rows
        if writer is not None:
            writer.close()
        return _FragCommit(file_name=fn if writer else "", rows=rows)


def _unlink_quiet(path: str) -> None:
    try:
        os.unlink(path)
    except FileNotFoundError:
        pass


class TileDBWriter(_FragmentSink, DataSourceArrowWriter):
    """Append one fragment per save(): tasks stream Arrow batches to
    parquet pieces in the fragment dir; commit publishes a single
    FragmentRecord."""

    def __init__(self, uri: str, schema=None):
        from .. import manifest as mf

        super().__init__(uri, schema)
        self.ts = mf.now_ms()
        self.frag_name = mf.new_fragment_name(self.ts)
        self.frag_dir = mf.fragment_path(self.uri, self.frag_name)

    def write(self, iterator) -> _FragCommit:
        return self._write_piece(iterator, self.frag_dir, "part")

    def commit(self, messages):
        import shutil

        from .fragment_writer import publish_fragment

        # publish ONLY the files the committed task attempts reported:
        # a failed/speculative attempt leaves its own uuid-named file
        # (possibly footer-less) in the fragment dir — harvesting the
        # whole dir would commit duplicate rows or crash on the torn
        # file (the stream sink's staged-pieces discipline, applied to
        # the batch writer)
        committed = {m.file_name for m in messages
                     if m is not None and m.file_name}
        if not committed:
            # empty save(): publish NOTHING — a cell_num=0 record has no
            # MBR, overlaps everything, and crashes the group merge
            shutil.rmtree(self.frag_dir, ignore_errors=True)
            return
        for fn in os.listdir(self.frag_dir):
            if fn not in committed:
                _unlink_quiet(os.path.join(self.frag_dir, fn))
        publish_fragment(self.uri, self.schema, self.frag_name, self.ts)

    def abort(self, messages):
        import shutil

        shutil.rmtree(self.frag_dir, ignore_errors=True)


class TileDBStreamWriter(_FragmentSink, DataSourceStreamArrowWriter):
    """Array-as-streaming-SINK: ``df.writeStream.format("tiledb")``
    commits ONE fragment per micro-batch — the write-side complement
    of :class:`TileDBStreamReader`'s fragment change feed
    (reference-world: continuous array ingest,
    ``/root/reference/tiledb/fragment.py`` commit granularity).

    Per batch: executor tasks stream Arrow batches into staged parquet
    pieces under ``<uri>/__stream_stage``; the driver ``commit`` moves
    the pieces into a fresh fragment dir and publishes a single
    FragmentRecord whose name embeds the sink ``batchId``
    (``..._sb<batchId>_...``).  That marker makes the commit
    IDEMPOTENT: a batch replayed after a sink-commit-then-crash
    (checkpoint not yet advanced) finds its batchId already in the
    manifest, discards the re-staged pieces, and publishes nothing —
    each micro-batch lands exactly once.  Every micro-batch conforms to
    the layout resolved at construction, so every fragment is stamped
    with that schema version even if the schema evolves mid-stream.
    Contract: one streaming query per sink array at a time (two
    concurrent queries would collide on batchIds — the reference's
    process-level single-writer model), and the target array must
    already exist (create it with ``from_pandas/from_spark
    mode="schema_only"`` or a first batch ingest)."""

    def __init__(self, uri: str, schema=None):
        super().__init__(uri, schema)
        self.stage_dir = os.path.join(self.uri, "__stream_stage")

    def write(self, iterator) -> _FragCommit:
        return self._write_piece(iterator, self.stage_dir, "piece")

    def commit(self, messages, batchId: int) -> None:
        import shutil

        from .. import manifest as mf
        from .fragment_writer import publish_fragment

        pieces = [m.file_name for m in messages
                  if m is not None and m.file_name]
        tag = f"sb{batchId}_"
        if any(f"_{tag}" in f.name
               for f in mf.read_manifest(self.uri).fragments):
            # replayed batch (sink committed, checkpoint didn't
            # advance before a crash): the fragment is already
            # published — drop the re-staged pieces, publish nothing
            for fn in pieces:
                _unlink_quiet(os.path.join(self.stage_dir, fn))
            return
        if not pieces:
            return  # empty micro-batch: no fragment
        ts = mf.now_ms()
        frag_name = mf.new_fragment_name(ts, tag=tag)
        frag_dir = mf.fragment_path(self.uri, frag_name)
        os.makedirs(frag_dir, exist_ok=True)
        for fn in pieces:
            shutil.move(os.path.join(self.stage_dir, fn),
                        os.path.join(frag_dir, fn))
        publish_fragment(self.uri, self.schema, frag_name, ts)
        # sweep orphans: pieces staged by FAILED/speculative task
        # attempts never reach `messages` — once this batch's collected
        # pieces are published, anything left in the staging dir is
        # garbage (single-streaming-writer contract; commit runs after
        # all the batch's tasks finished)
        for leftover in os.listdir(self.stage_dir):
            _unlink_quiet(os.path.join(self.stage_dir, leftover))

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.file_name:
                _unlink_quiet(os.path.join(self.stage_dir, m.file_name))


def register(spark) -> None:
    """Register the 'tiledb' format on a session."""
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass  # static conf on some builds; session.py sets it at startup
    spark.dataSource.register(TileDBDataSource)


# ---------------------------------------------------------------------------
# streaming source: subscribe to an array's fragment commits
# ---------------------------------------------------------------------------

def mf_read(uri):
    from .. import manifest as mf

    return mf.read_manifest(uri).fragments


@dataclass
class _FragStreamSplit(InputPartition):
    file_paths: tuple
    columns: tuple
    # (name, stored fill scalar) for non-nullable evolved attrs — same
    # tuple TileDBReader.partitions computes, so stream and batch reads
    # of a pre-evolution fragment agree (fill value, not NULL)
    fills: tuple = ()
    # drop/re-add attr mask (Manifest.masked_attrs) — same semantics as
    # _Split.masked
    masked: tuple = ()


class TileDBStreamReader(DataSourceStreamReader):
    """CHANGE-FEED stream source over an array — the read-side
    complement of the fragment SINK (:class:`TileDBStreamWriter`):
    ``spark.readStream.format("tiledb")``
    emits each committed fragment's rows exactly once, in commit
    order, as new micro-batches.

    Semantics: the stream is the raw cell-version feed (CDC) — every
    committed cell version appears once; cross-fragment last-write-wins
    merging and delete-condition application are BATCH-read semantics
    over history, meaningless for a forward-only feed (a consumer sees
    the upsert and the delete as events).  Offsets are positions in the
    manifest's append-ordered fragment list, so recovery replays
    deterministically; the array must stay append-only while a stream
    runs (pause consolidate/vacuum — they rewrite the list).

    Scale shape: ``partitions(start, end)`` plans ONE InputPartition
    per new fragment parquet file on the driver; executors read Arrow
    record batches straight from the files — the batch reader's
    columnar path without the pruning machinery (a fragment IS the
    pruning unit here)."""

    def __init__(self, uri: str, schema: StructType):
        self.uri = uri
        self.schema = schema
        self.columns = tuple(f.name for f in schema.fields)

    def initialOffset(self) -> dict:
        return {"i": 0, "frag": None}

    def latestOffset(self) -> dict:
        # NOTE: no maxFragmentsPerTrigger-style cap — the Python
        # DataSource streaming API re-instantiates the reader per call
        # in a separate runner process and exposes no ReadLimit plumb,
        # so per-trigger backpressure cannot be anchored (verified
        # empirically); bound ingest by committing bounded fragments
        frags = mf_read(self.uri)
        # offsets are identity-bearing: position PLUS the name of the
        # fragment at that position, so a consolidate that shrinks the
        # list and later commits that grow it back past the checkpoint
        # cannot silently replay the wrong fragments' rows
        return {"i": len(frags),
                "frag": frags[-1].name if frags else None}

    def commit(self, end: dict) -> None:
        pass

    def partitions(self, start: dict, end: dict):
        import glob

        from .. import manifest as mf
        from ..manifest import fragment_path

        man = mf.read_manifest(self.uri)
        # bound BOTH offsets: a vacuum that shrank the list below a
        # checkpointed END offset must surface the diagnostic below,
        # not an IndexError from the identity loop
        if max(start["i"], end["i"]) > len(man.fragments):
            # the checkpoint is ahead of the manifest: consolidation or
            # vacuum rewrote the fragment list mid-stream — replaying
            # positions against the new list would deliver wrong rows
            raise RuntimeError(
                f"tiledb stream source: checkpoint offset "
                f"{max(start['i'], end['i'])} "
                f"exceeds the manifest's {len(man.fragments)} fragments "
                f"at {self.uri} — the array was consolidated/vacuumed "
                "while a stream was running.  Restart the stream with a "
                "fresh checkpoint (the feed is append-only by contract).")
        # identity check: the fragment NAME recorded at each offset
        # position must still be the fragment at that position — a
        # consolidate that shrank the list plus later commits that grew
        # it back would pass the length check yet replay different
        # fragments' rows (ADVICE r7).  Old checkpoints without "frag"
        # keep the length-only behavior.
        for off in (start, end):
            i, want = off["i"], off.get("frag")
            if i > 0 and want is not None \
                    and man.fragments[i - 1].name != want:
                raise RuntimeError(
                    f"tiledb stream source: checkpoint offset {i} "
                    f"recorded fragment {want!r} at that position but "
                    f"the manifest now has "
                    f"{man.fragments[i - 1].name!r} — the fragment "
                    f"list at {self.uri} was rewritten "
                    "(consolidate/vacuum) while a stream was running. "
                    "Restart the stream with a fresh checkpoint (the "
                    "feed is append-only by contract).")
        frags = man.fragments[start["i"]:end["i"]]
        # same fill tuple as TileDBReader.partitions: non-nullable attrs
        # added by schema evolution must stream back as their FILL value
        # on pre-evolution fragments, matching the batch datasource and
        # the native scan (_fill_evolved) — nulls-only conforming made
        # stream and batch reads of the same array disagree (ADVICE r13)
        from ..datatypes import stored_scalar
        fills = tuple(
            (a.name, stored_scalar(a.fill, a.dtype))
            for a in man.schema.attrs_list
            if a.fill is not None and not a.nullable
            and a.name in self.columns)
        splits = []
        for fr in frags:
            files = tuple(sorted(glob.glob(
                os.path.join(fragment_path(self.uri, fr), "*.parquet"))))
            if files:
                splits.append(_FragStreamSplit(
                    files, self.columns, fills,
                    man.masked_attrs(fr.schema_version)))
        return splits

    def read(self, partition: _FragStreamSplit):
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        target = to_arrow_schema(self.schema)
        for p in partition.file_paths:
            # pre-evolution fragments lack added columns: request only
            # what the file has, then conform (null-fill + cast) — a
            # blind columns= read raises 'Field not found' and kills
            # the stream on replay
            have = set(pq.ParquetFile(p).schema_arrow.names) \
                - set(partition.masked)
            want = [c for c in partition.columns if c in have]
            tbl = _conform_table(pq.read_table(p, columns=want), target,
                                 partition.fills)
            yield from tbl.to_batches()
