"""Spark custom data source: ``spark.read.format("tiledb")`` /
``df.write.format("tiledb")`` / ``spark.readStream.format("tiledb")``
(the fragment change-feed stream source, ``TileDBStreamReader``).

The north-star integration shape ("DataFrame read/write via custom data
source"): a Spark 4 Python DataSource over the engine's
parquet-fragment + manifest storage.

Read path:
- ``partitions()``: driver-side planning — time-travel fragment selection
  and per-dim MBR pruning from pushed filters.  A fragment that overlaps
  no other live fragment (or any fragment of an array that allows
  duplicates) becomes plain splits: (parquet file, row-group span)
  pieces of ~``_SPLIT_BYTES``, so a 1000-executor cluster gets balanced
  splits without listing data files on executors.
- ``pushFilters()``: typed Spark filters are kept for pruning AND handed
  back to Spark for re-evaluation (double-filtering keeps correctness
  trivially safe; the win is skipping whole fragments/row-groups).
- ``read()``: Arrow record batches straight from pyarrow with a row-level
  filter expression — columnar end-to-end.
- Delete conditions are compiled once, at planning, by the engine's
  QueryCondition compiler (``QueryCondition.to_arrow``: the grammar,
  enum-label codes, stored-unit datetime casts and null semantics of
  ``Array`` reads) into picklable Arrow expressions; a task drops the
  cells they match from each batch of the fragments written at or before
  the delete.  A condition the compiler refuses fails the planning with
  its ``TileDBError``.  Cross-fragment last-write-wins on no-duplicates
  arrays is resolved merge-on-read, with no shuffle: every connected
  component of MBR-overlapping fragments becomes merge splits of
  ~``_SPLIT_BYTES`` each — first-dim coordinate ranges when the row
  groups are narrow in the first dim, member row-group spans otherwise
  (see ``_component_splits``).  A merge task streams its members newest
  fragment first and drops the rows whose coordinates a newer member
  holds — an exact Arrow anti-join on the dim columns (see
  ``_read_group``).

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
Every split, write task, commit and planning call of it runs in a Spark
Python worker, whose fixed CPU per task on a 4-core host measured
~230-270 ms (``importlib.invalidate_caches`` re-reading every zip
archive's directory, then the daemon's ``gc.collect`` over the
import-time heap) and ~3 ms once ``tiledb_py_spark._worker.prepare``
runs in the worker.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
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
# ~96 MB of compressed row groups per read task, for plain and merge
# splits alike: big enough to amortize the Python worker's fixed cost per
# task (~3 ms of CPU on a 4-core host, ~250 ms before _worker.prepare)
# and its round-trip, small enough to balance a cluster
_SPLIT_BYTES = 96 << 20
# the only options a read takes; Spark passes ``path`` from ``load()``
# (keys arrive lower-cased)
_READ_OPTIONS = frozenset({"path", "uri"})


@dataclass
class _Split(InputPartition):
    file_path: str
    row_groups: tuple
    # simple conjunctive predicates for pyarrow: (col, op, value)
    predicates: tuple = ()
    # delete conditions visible to this fragment, compiled at planning:
    # pyarrow Expressions (QueryCondition.to_arrow) true on deleted cells
    deletes: tuple = ()
    dim_names: tuple = ()
    # last-write-wins merge split (no-duplicates arrays): members of one
    # connected component of MBR-overlapping fragments, NEWEST first,
    # entries (pieces, deletes, masked) with pieces ((path, row_groups
    # | None = all), ...).  The task reads each piece once (see
    # TileDBReader._read_group).  Empty for a plain split.
    group: tuple = ()
    # restrict a merge split to first-dim coordinates in [lo, hi)
    # (None = unbounded; () = the whole domain).  A coordinate lives in
    # exactly one slice, so the slices of a component merge independently.
    group_range: tuple = ()
    # the first seen_only group members only supply coordinates that
    # supersede the later ones; another split yields their own rows
    seen_only: int = 0
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


def _fills(schema, names) -> tuple:
    """``(name, stored fill scalar)`` of every non-nullable attr in
    ``names`` with a fill: fragments written before schema evolution
    added such an attr read it as that value, not NULL (the native
    path's ``Array._fill_evolved``), on the batch and stream reads
    alike."""
    from ..datatypes import stored_scalar

    return tuple((a.name, stored_scalar(a.fill, a.dtype))
                 for a in schema.attrs_list
                 if a.fill is not None and not a.nullable and a.name in names)


def _fragment_files(uri: str, frag) -> list:
    """A fragment's parquet files, in a stable order."""
    from ..manifest import fragment_path

    return [os.path.join(root, fn)
            for root, _dirs, files in os.walk(fragment_path(uri, frag))
            for fn in sorted(files) if fn.endswith(".parquet")]


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

    def _check_read_options(self, allowed) -> None:
        """Refuse LOUDLY any option a read does not use: a misspelt or
        removed option would otherwise be silently ignored."""
        unknown = sorted(set(self.options) - allowed)
        if unknown:
            raise ValueError(
                f"format('tiledb') read: unknown option(s) {unknown}; "
                f"supported: {sorted(allowed)}")

    def reader(self, schema: StructType) -> "TileDBReader":
        self._check_read_options(_READ_OPTIONS | {"timestamp"})
        ts = self.options.get("timestamp")
        return TileDBReader(self._uri(), int(ts) if ts is not None else None,
                            spark_schema=schema)

    def streamReader(self, schema: StructType) -> "TileDBStreamReader":
        self._check_read_options(_READ_OPTIONS)
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
                 spark_schema: Optional[StructType] = None):
        self.uri = uri
        self.timestamp = timestamp
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
        deletes = [d for d in m.delete_fragments_visible(self.timestamp)
                   if d.delete_condition]
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(
            self.spark_schema if self.spark_schema is not None
            else schema.spark_schema())
        fills = _fills(schema, arrow_schema.names)
        compiled: dict = {}  # each distinct condition, compiled once
        if deletes:
            from ..functions.query_condition import (QueryCondition,
                                                     schema_context)

            ctx = schema_context(schema)
            compiled = {c: QueryCondition(c).to_arrow(**ctx)
                        for c in {d.delete_condition for d in deletes}}

        def frag_deletes(f) -> tuple:
            # deletes apply to cells written at or before the delete's ts
            return tuple(
                compiled[d.delete_condition] for d in deletes
                if d.timestamp_range[0] >= f.timestamp_range[0])

        # commit order for last-write-wins (same total order as
        # Array._scan_df: timestamp, manifest order for same-ms ties —
        # NOT the random uuid name, which would flip LWW for ~half of
        # same-millisecond write pairs)
        frs = sorted(frs, key=lambda f: f.timestamp_range[0])
        preds = tuple(self._preds)
        dim_names = tuple(d.name for d in schema.domain)
        plain = list(range(len(frs)))
        comps: list = []  # merge components: fragment indices, newest first
        if not schema.allows_duplicates and len(frs) > 1:
            # connected components of the pairwise MBR-overlap graph
            # (union-find); every component of 2+ fragments is merged by
            # _read_group
            mbrs = [_decode_mbr(schema, f.nonempty_domain) for f in frs]
            parent = list(range(len(frs)))

            def find(x):
                while parent[x] != x:
                    parent[x] = parent[parent[x]]
                    x = parent[x]
                return x

            for i in range(len(frs)):
                for j in range(i + 1, len(frs)):
                    if all(_box_overlap(mbrs[i].get(d.name), mbrs[j].get(d.name))
                           for d in schema.domain):
                        parent[find(i)] = find(j)
            members: dict[int, list] = {}
            for i in range(len(frs)):
                members.setdefault(find(i), []).append(i)
            plain = [ms[0] for ms in members.values() if len(ms) == 1]
            # newest first; same-ms ties break by MANIFEST order (the list
            # index — frs is stably ts-sorted), never the random uuid
            # name, matching Array._scan_df's frag_order_key
            comps = [sorted(ms, key=lambda i: (frs[i].timestamp_range[0], i),
                            reverse=True)
                     for ms in members.values() if len(ms) > 1]

        # prefetch every planned file's parquet footer concurrently, in
        # one pool — serial footer reads (one round-trip each on object
        # storage) put O(#files) planning latency on the driver
        from concurrent.futures import ThreadPoolExecutor

        files = {i: _fragment_files(self.uri, f) for i, f in enumerate(frs)}
        all_paths = [p for paths in files.values() for p in paths]
        md_map: dict = {}
        if all_paths:
            with ThreadPoolExecutor(
                    max_workers=min(16, len(all_paths))) as ex:
                md_map = dict(zip(all_paths, ex.map(
                    lambda p: pq.ParquetFile(p).metadata, all_paths)))
        splits: list[_Split] = []
        dim_preds = tuple(p for p in preds if p[0] in dim_names)
        for comp in comps:
            entries = tuple(
                (tuple(files[i]), frag_deletes(frs[i]),
                 m.masked_attrs(frs[i].schema_version)) for i in comp)
            splits.extend(
                _Split(file_path="", row_groups=(), predicates=preds,
                       group=group, group_range=rng, seen_only=seen_only,
                       dim_names=dim_names, arrow_schema=arrow_schema,
                       fills=fills)
                for group, rng, seen_only in _component_splits(
                    entries, md_map, dim_names[0], dim_preds))
        for i in plain:
            f = frs[i]
            masked = m.masked_attrs(f.schema_version)
            # row-group stats of a masked (drop/re-add predecessor)
            # column describe the WRONG attr — never prune on them
            prune_preds = tuple(p for p in preds if p[0] not in masked)
            fdel = frag_deletes(f)
            splits.extend(
                _Split(file_path=p, row_groups=span, predicates=preds,
                       deletes=fdel, dim_names=dim_names,
                       arrow_schema=arrow_schema, fills=fills, masked=masked)
                for p in files[i] for span in _rg_spans(md_map[p], prune_preds))
        return splits or [_Split(file_path="", row_groups=(), predicates=(),
                                 deletes=())]

    def read(self, split: _Split):
        return self._read_group(split) if split.group else _read_plain(split)

    def _read_group(self, split: _Split):
        """Last-write-wins merge over one connected component of
        MBR-overlapping fragments.  Members arrive NEWEST first and are
        read one at a time, streamed batch by batch: each batch is
        conformed to the declared schema (evolution fills, drop/re-add
        masks, legacy narrow dim types), cleared of its deleted cells,
        and anti-joined against the coordinates of the newer members.
        A member's surviving coordinates join that seen set once the
        whole member is read — so a deleted newer cell no longer hides
        the older one, the ``Array._scan_df`` delete-then-dedup order.
        The first
        ``split.seen_only`` members only feed the seen set: another split
        yields their rows (see ``_component_splits``); a member read only
        for its coordinates and without deletes reads only its dims.

        The anti-join is exact: an Arrow hash join on the dim columns
        alone (the attrs never enter the join, so list-typed attrs and
        ``not null`` fields pass through untouched).  Memory: the seen
        coordinates' own bytes — one row of dim values per distinct live
        coordinate of the newer members — plus the batches awaiting the
        join, at most as many rows as the seen set (so each hash build
        over the seen set is amortized over at least as many probe rows)
        or one batch.  No member is materialized whole.

        Pruning before the merge uses only dim predicates and the slice's
        ``[lo, hi)`` first-dim range (row-group statistics, then rows): a
        newer version of a cell has the same coordinates, so every
        version of a cell is kept or dropped together.  Attr predicates
        filter only the merged output — a newer version that fails them
        still hides the older one.

        Trade-off: a component under ``_SPLIT_BYTES`` is one task however
        many fragments it has, where a per-fragment split would give one
        task per file; total CPU is lower because every file is read
        once, not once per older overlapping fragment."""
        import numpy as np
        import pyarrow as pa

        dims = list(split.dim_names)
        dim_schema = pa.schema([split.arrow_schema.field(d) for d in dims])
        lo, hi = (tuple(split.group_range) + (None, None))[:2]
        pre = [p for p in split.predicates if p[0] in dims]
        if lo is not None:
            pre.append((dims[0], ">=", lo))
        if hi is not None:
            pre.append((dims[0], "<", hi))
        pre_expr = _preds_to_expr(pre)
        out_expr = _preds_to_expr(split.predicates)
        seen = None  # dim columns of every live coordinate seen so far

        def merge(tbls, coords, emit):
            """Anti-join ``tbls`` against the seen coordinates; keep the
            survivors' coordinates in ``coords`` and, when ``emit``,
            yield the survivors that pass the pushed predicates."""
            tbl = pa.concat_tables(tbls)
            if seen is not None:
                # in the calling thread: a task is one core's work, and
                # Acero's threaded joins, run between the batches of a
                # live scan, aborted a few percent of processes at exit
                # (std::terminate)
                rows = tbl.select(dims).append_column(
                    "__row", pa.array(np.arange(tbl.num_rows)))
                tbl = tbl.take(rows.join(
                    seen, keys=dims, join_type="left anti",
                    use_threads=False)["__row"])
            coords.append(tbl.select(dims))
            if emit:
                if out_expr is not None:
                    tbl = tbl.filter(out_expr)
                yield from (b for b in tbl.to_batches() if b.num_rows)

        for k, (pieces, dels, gmask) in enumerate(split.group):
            emit = k >= split.seen_only
            columns, target = ((None, split.arrow_schema) if emit or dels
                               else (dims, dim_schema))
            coords, pending, n = [], [], 0
            for path, row_groups in pieces:
                for batch in _parquet_fragment(path, row_groups).to_batches(
                        filter=pre_expr, columns=columns):
                    if not batch.num_rows:
                        continue
                    tbl = _conform_table(pa.Table.from_batches([batch]),
                                         target, split.fills, gmask)
                    if dels:
                        tbl = _apply_deletes(tbl, dels)
                    pending.append(tbl)
                    n += tbl.num_rows
                    if seen is None or n >= seen.num_rows:
                        yield from merge(pending, coords, emit)
                        pending, n = [], 0
            if pending:
                yield from merge(pending, coords, emit)
            if coords:
                seen = pa.concat_tables(
                    ([seen] if seen is not None else []) + coords)


def _read_plain(split: _Split):
    """Arrow batches of one plain split (``row_groups`` ``None`` = the whole
    file): pushed predicates, conformed to the declared schema, delete
    conditions applied.  Also the stream source's per-file read."""
    import pyarrow as pa

    if not split.file_path:
        return
    # The split's row groups stream through a dataset fragment (no
    # whole-split materialization — bounded memory regardless of
    # split size).  Its footer, read once, also gives the file schema
    # below.
    frag = _parquet_fragment(split.file_path, split.row_groups)
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
    pf_schema = frag.physical_schema
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

    for batch in frag.to_batches(filter=expr):
        if batch.num_rows == 0:
            continue
        if conform or split.deletes:
            tbl = pa.Table.from_batches([batch])
            if conform:
                tbl = _conform_table(tbl, split.arrow_schema,
                                     split.fills, split.masked)
            if split.deletes:
                tbl = _apply_deletes(tbl, split.deletes)
            for b in tbl.to_batches():
                if b.num_rows:
                    yield b
        else:
            yield batch


def _parquet_fragment(path: str, row_groups=None):
    """A pyarrow dataset fragment over one parquet file, restricted to
    ``row_groups`` (``None`` = all): its batches stream, and a filter
    skips row groups by their statistics."""
    import pyarrow.dataset as ds
    import pyarrow.fs as pafs

    if "://" in path:
        fs, fs_path = pafs.FileSystem.from_uri(path)
    else:
        fs, fs_path = pafs.LocalFileSystem(), os.path.abspath(path)
    return ds.ParquetFileFormat().make_fragment(
        fs_path, filesystem=fs,
        row_groups=None if row_groups is None else list(row_groups))


def _rg_spans(md, preds: tuple = ()) -> list:
    """Row-group spans of one parquet file (its footer ``md``) of about
    ``_SPLIT_BYTES`` each, over the row groups ``preds`` may match."""
    spans: list = [[]]
    size = 0
    for rg in range(md.num_row_groups):
        if not _rg_matches(md.row_group(rg), preds):
            continue
        if size >= _SPLIT_BYTES:
            spans.append([])
            size = 0
        spans[-1].append(rg)
        size += md.row_group(rg).total_byte_size
    return [tuple(span) for span in spans if span]


def _component_splits(entries, md_map, dim0: str, dim_preds: tuple):
    """Plan one merge component as ``(group, group_range, seen_only)``
    triples, one merge task each, of about ``_SPLIT_BYTES`` of row-group
    data per task.  ``entries``: ``(paths, deletes, masked)`` per member,
    newest first; ``md_map``: path -> parquet footer.  Group entries hold
    ``(path, row_groups)`` pieces (``None`` = the whole file).

    A component of at most ``_SPLIT_BYTES`` is one task.  A larger one
    takes whichever of two plans re-reads fewer bytes:

    - First-dim range slices (``_first_dim_ranges``): every slice
      merges all members restricted to its ``[lo, hi)``; a row group is
      read by every slice it straddles.  Cheap when the row groups are
      narrow in the first dim (sorted fragments).
    - Member spans: consecutive members are packed into tasks of about
      ``_SPLIT_BYTES``, a larger member is cut into row-group spans of
      that size, and each task first reads the coordinates of every
      newer member (``seen_only``).  Cheap when the newer members are
      small — a large base plus small upserts re-reads only the
      upserts per span, whatever the row-group layout (unsorted sink
      writes and Hilbert-ordered fragments have row groups as wide as
      the domain, which every range slice would re-read)."""
    whole = tuple((tuple((p, None) for p in paths), dels, masked)
                  for paths, dels, masked in entries)
    rgs = [[md_map[p].row_group(i) for p in paths
            for i in range(md_map[p].num_row_groups)]
           for paths, _dels, _masked in entries]
    sizes = [sum(rg.total_byte_size for rg in member) for member in rgs]
    total = sum(sizes)
    if total <= _SPLIT_BYTES:
        return [(whole, (), 0)]
    spans = []
    start = run = 0  # members [start, k) wait for one packed task
    for k, ((paths, dels, masked), size) in enumerate(zip(entries, sizes)):
        if start < k and run + size > _SPLIT_BYTES:
            spans.append((whole[:k], (), start))
            start, run = k, 0
        if size <= _SPLIT_BYTES:
            run += size
            continue
        for p in paths:
            for span in _rg_spans(md_map[p], dim_preds):
                spans.append((whole[:k] + ((((p, span),), dels, masked),),
                              (), k))
        start = k + 1
    if start < len(entries):
        spans.append((whole, (), start))
    # imported only here: the operators package costs ~80 ms to import
    # in a fresh planning worker
    from ..operators.stats_bounds import column_chunk_minmax

    ranges, range_reread = _first_dim_ranges(
        [(column_chunk_minmax(rg, dim0), rg.total_byte_size)
         for member in rgs for rg in member], total)
    if ranges and range_reread <= sum(sum(sizes[:seen_only])
                                      for _g, _r, seen_only in spans):
        return [(whole, rng, 0) for rng in ranges]
    return spans


def _first_dim_ranges(rgs, total: int):
    """``(ranges, reread)``: half-open ``(lo, hi)`` first-dim ranges
    (``None`` = unbounded) cutting row groups ``rgs`` —
    ``((min, max) | None, bytes)`` pairs totalling ``total`` bytes — at
    row-group minimums into slices of about ``_SPLIT_BYTES``, and the
    bytes read beyond ``total`` because a row group is read by every
    slice it straddles.  ``([], 0)`` when a statistic is missing or no
    cut exists."""
    import bisect

    if any(mm is None for mm, _size in rgs):
        return [], 0
    rgs = sorted(rgs, key=lambda t: t[0])
    target = total / -(-total // _SPLIT_BYTES)
    bounds: list = []
    acc, next_cut = 0, target
    for (mn, _mx), size in rgs:
        if acc >= next_cut and (not bounds or mn > bounds[-1]):
            bounds.append(mn)
            next_cut += target
        acc += size
    if not bounds:
        return [], 0
    edges = [None] + bounds + [None]
    return (list(zip(edges, edges[1:])),
            sum(size * (bisect.bisect_right(bounds, mx)
                        - bisect.bisect_right(bounds, mn))
                for (mn, mx), size in rgs))


def _apply_deletes(tbl, conds):
    """Drop the cells of an Arrow table that compiled delete conditions
    (``_Split.deletes``) match — fully columnar; the leaf rule of the
    compiler keeps the mask null-free, so a null cell survives a delete
    whose comparison it cannot satisfy."""
    for cond in conds:
        tbl = tbl.filter(~cond)
    return tbl


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

@dataclass
class _FragStreamSplit(InputPartition):
    """One fragment of a stream micro-batch: a plain ``_Split`` per file
    (whole file, no predicates or deletes), read in order."""
    splits: tuple


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
    per new fragment on the driver; executors stream each of its files
    batch by batch through the batch reader's plain-split read
    (``_read_plain``: schema-evolution fills and drop/re-add masks
    included) without the pruning machinery (a fragment IS the pruning
    unit here)."""

    def __init__(self, uri: str, schema: StructType):
        self.uri = uri
        self.schema = schema

    def initialOffset(self) -> dict:
        return {"i": 0, "frag": None}

    def latestOffset(self) -> dict:
        # NOTE: no maxFragmentsPerTrigger-style cap — the Python
        # DataSource streaming API re-instantiates the reader per call
        # in a separate runner process and exposes no ReadLimit plumb,
        # so per-trigger backpressure cannot be anchored (verified
        # empirically); bound ingest by committing bounded fragments
        from .. import manifest as mf

        frags = mf.read_manifest(self.uri).fragments
        # offsets are identity-bearing: position PLUS the name of the
        # fragment at that position, so a consolidate that shrinks the
        # list and later commits that grow it back past the checkpoint
        # cannot silently replay the wrong fragments' rows
        return {"i": len(frags),
                "frag": frags[-1].name if frags else None}

    def commit(self, end: dict) -> None:
        pass

    def partitions(self, start: dict, end: dict):
        from pyspark.sql.pandas.types import to_arrow_schema

        from .. import manifest as mf

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
        target = to_arrow_schema(self.schema)
        fills = _fills(man.schema, target.names)
        splits = []
        for fr in man.fragments[start["i"]:end["i"]]:
            masked = man.masked_attrs(fr.schema_version)
            files = _fragment_files(self.uri, fr)
            if files:
                splits.append(_FragStreamSplit(tuple(
                    _Split(file_path=p, row_groups=None, arrow_schema=target,
                           fills=fills, masked=masked) for p in files)))
        return splits

    def read(self, partition: _FragStreamSplit):
        for split in partition.splits:
            yield from _read_plain(split)
