"""Fragment introspection + maintenance: FragmentInfoList, consolidate,
vacuum, delete_fragments.

Reference: ``tiledb/fragment.py:13-270`` (FragmentInfo/FragmentInfoList),
``array.py:729-792`` (consolidate), ``highlevel.py:211-335``
(consolidate/vacuum helpers), ``array.py:625-659`` (delete_fragments),
``consolidation_plan.py:9`` (ConsolidationPlan).

Spark rebuild: consolidation reads the live fragments through the Array
scan (deletes applied, last-write-wins merged) laid out by ranges of the
dims, writes that layout as a single fragment, and commits a manifest
version that swaps the old fragment list for the new one.  The merge and
the write's cell-order layout share ONE range exchange, sized by the
estimated bytes (``range_layout``): a small array is one
``Exchange SinglePartition`` and two Spark jobs (the exchange's map
stage and the write), with no sampling job; above
``spark.sql.files.maxPartitionBytes`` the range partitioner adds its
sampling job.  Vacuum then GCs unreferenced fragment directories.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
from typing import Optional

from . import manifest as mf
from .manifest import FragmentRecord


class FragmentInfo:
    """Snapshot of one fragment (reference ``fragment.py:24-34``)."""

    def __init__(self, rec: FragmentRecord, uri: str, schema):
        self._rec = rec
        self.uri = os.path.join(mf.fragments_dir(uri), rec.name)
        self.timestamp_range = tuple(rec.timestamp_range)
        self.cell_num = rec.cell_num
        self.sparse = schema.sparse
        self.dense = not schema.sparse
        self.version = rec.schema_version
        self._schema = schema

    @property
    def nonempty_domain(self):
        out = []
        for d in self._schema.domain:
            box = self._rec.nonempty_domain.get(d.name)
            out.append(tuple(box) if box else (None, None))
        return tuple(out)

    def __repr__(self):
        return (f"FragmentInfo(uri={self.uri!r}, ts={self.timestamp_range}, "
                f"cells={self.cell_num})")


class FragmentInfoList:
    """``tiledb.array_fragments(uri)`` (reference ``fragment.py:13-270``)."""

    def __init__(self, uri: str, include_deletes: bool = False):
        self.array_uri = uri
        m = mf.read_manifest(uri)
        self._schema = m.schema
        recs = [f for f in m.fragments
                if (include_deletes or f.kind == "write")
                and f.superseded_by is None]
        self._infos = [FragmentInfo(r, uri, m.schema) for r in recs]
        # consolidated-away fragments awaiting vacuum (reference
        # FragmentInfoList.to_vacuum / to_vacuum_num)
        self.to_vacuum = tuple(
            os.path.join(mf.fragments_dir(uri), f.name)
            for f in m.fragments if f.superseded_by is not None)
        self.to_vacuum_num = len(self.to_vacuum)
        self.unconsolidated_metadata_num = 0

    def __len__(self):
        return len(self._infos)

    def __getitem__(self, i):
        return self._infos[i]

    def __iter__(self):
        return iter(self._infos)

    @property
    def timestamp_range(self):
        return tuple(f.timestamp_range for f in self._infos)

    @property
    def cell_num(self):
        return tuple(f.cell_num for f in self._infos)

    @property
    def nonempty_domain(self):
        return tuple(f.nonempty_domain for f in self._infos)

    @property
    def mbrs(self):
        """Per-fragment tuple of per-tile minimum bounding rectangles
        (reference ``fragment.py`` mbrs, loaded via
        ``array_fragments(include_mbrs=True)``).  Tiles here are
        parquet row groups; each MBR is a per-dim (lo, hi) tuple from
        the row-group column statistics."""
        if not getattr(self, "include_mbrs", False):
            raise AttributeError(
                "mbrs not loaded; call array_fragments(uri, "
                "include_mbrs=True)")
        import pyarrow.parquet as pq

        dims = self._schema.dim_names
        out = []
        for info in self._infos:
            boxes = []
            for root, _dirs, files in os.walk(info.uri):
                for fn in sorted(files):
                    if not fn.endswith(".parquet"):
                        continue
                    md = pq.ParquetFile(os.path.join(root, fn)).metadata
                    for g in range(md.num_row_groups):
                        rg = md.row_group(g)
                        box = []
                        stats = {rg.column(c).path_in_schema:
                                 rg.column(c).statistics
                                 for c in range(rg.num_columns)}
                        for d in dims:
                            st = stats.get(d)
                            box.append((st.min, st.max)
                                       if st is not None and st.has_min_max
                                       else (None, None))
                        boxes.append(tuple(box))
            out.append(tuple(boxes))
        return tuple(out)


def array_fragments(uri: str, include_mbrs: bool = False, ctx=None,
                    include_deletes: bool = False) -> FragmentInfoList:
    """FragmentInfoList for the array (reference
    ``highlevel.py:186-200``); ``include_mbrs`` loads per-fragment
    minimum bounding rectangles into ``.mbrs``."""
    fi = FragmentInfoList(uri, include_deletes=include_deletes)
    fi.include_mbrs = bool(include_mbrs)
    return fi


class ConsolidationPlan:
    """Which fragments would consolidate together (reference
    ``consolidation_plan.py:9-117``): fragments are divided into *nodes*;
    each node's members should be rewritten into one fragment.

    Grouping is greedy size-tiered in timestamp order: accumulate adjacent
    fragments until the node reaches ``fragment_size`` bytes (the reference
    constructor's "desired fragment size").  Fragment bytes come from the
    on-disk parquet footprint — a metadata-scale walk, no data read.

    Accepts an open :class:`Array` or a bare URI as ``array`` (the
    reference requires an open array; the URI form is a convenience).
    """

    def __init__(self, ctx, array, fragment_size: int = 1 << 30):
        del ctx  # compat slot (reference passes a Ctx first)
        uri = getattr(array, "uri", array)
        if not isinstance(fragment_size, int):
            raise ValueError("`fragment_size` argument must be of type int")
        m = mf.read_manifest(uri)
        frags = sorted((f for f in m.fragments
                        if f.kind == "write" and f.superseded_by is None),
                       key=lambda f: (f.timestamp_range, f.name))
        self._nodes: list[list[str]] = []
        cur: list[str] = []
        size = 0
        for f in frags:
            fbytes = _dir_bytes(mf.fragment_path(uri, f))
            if cur and size + fbytes > fragment_size:
                self._nodes.append(cur)
                cur, size = [], 0
            cur.append(os.path.join(mf.fragments_dir(uri), f.name))
            size += fbytes
        if cur:
            self._nodes.append(cur)

    @property
    def num_nodes(self) -> int:
        return len(self._nodes)

    def __len__(self) -> int:
        return self.num_nodes

    def num_fragments(self, node_idx: int) -> int:
        return len(self._nodes[node_idx])

    def fragment_uri(self, node_idx: int, fragment_idx: int) -> str:
        return self._nodes[node_idx][fragment_idx]

    def __getitem__(self, idx: int) -> dict:
        if idx < 0 or idx >= self.num_nodes:
            raise IndexError("Index out of bounds")
        return {"num_fragments": len(self._nodes[idx]),
                "fragment_uris": list(self._nodes[idx])}

    def __repr__(self) -> str:
        import pprint

        return pprint.PrettyPrinter().pformat({
            "num_nodes": self.num_nodes,
            "fragments": {f"node_{i}": self[i] for i in range(self.num_nodes)},
        })

    def dump(self) -> str:
        """JSON string for the plan (reference ``dump()``)."""
        import json

        return json.dumps(
            {"nodes": [{"uris": [{"uri": u} for u in node]}
                       for node in self._nodes]}, indent=2)


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def consolidate(uri: str, timestamp=None, spark=None,
                fragment_uris=None) -> str:
    """Rewrite the fragments visible at ``timestamp`` into one (reference
    ``array.py:729-792``).

    The combined scan already applies delete conditions and duplicate
    resolution, so consolidation *materializes* them.  The folded write
    AND delete fragments stay in the manifest flagged ``superseded_by``
    the new fragment — still readable by timestamped opens that predate
    the consolidation (reference keeps consolidated fragments until
    vacuum) — and only ``vacuum()`` drops them.

    The new fragment's timestamp is the max ts_end over everything folded
    in, deletes included: its content incorporates the deletes' effects,
    so its logical time must dominate them (a write-only max would make a
    post-write/pre-delete open see post-delete data).

    ``fragment_uris`` (reference ``Array.consolidate(fragment_uris=...)``,
    typically a :class:`ConsolidationPlan` node) restricts the rewrite to
    the named write fragments — full paths or bare ``__ts1_ts2_...``
    names.  Delete fragments then stay live (they still govern the
    untouched fragments); only deletes committed AT OR BEFORE the
    product's timestamp are materialized into the folded subset (their
    re-application on read is a no-op).  A delete committed AFTER every
    folded write is deliberately NOT materialized: the product is
    stamped at the write-only max ts, so baking a later delete in would
    make a post-write/pre-delete timestamped open see post-delete data
    — that delete stays live and anti-applies on read.  Like the
    reference, consolidate timestamp-adjacent fragments (a plan node) —
    folding around an interleaved unfolded fragment can reorder
    same-millisecond last-write-wins ties."""
    from .array import Array
    from .sources.fragment_writer import write_fragment_spark

    arr = Array.load_typed(uri, timestamp=timestamp, spark=spark)
    m = arr._manifest
    # the keys write_fragment_spark lays sparse row/col-major fragments
    # out by: the scan's merge runs on that layout's exchange and the
    # write keeps it; Hilbert and dense fragments are laid out as before
    layout = (arr.schema.dim_names if arr.schema.sparse
              and arr.schema.cell_order != "hilbert" else [])
    if fragment_uris is not None:
        names = {os.path.basename(os.path.normpath(u)) for u in fragment_uris}
        folded = [f for f in m.live_fragments(arr.timestamp)
                  if f.name in names]
        if not folded:
            return uri
        ts_end = max(f.timestamp_range[1] for f in folded)
        # dedup within subset; deletes up to ts_end applied (later
        # deletes stay live — see docstring)
        df = arr._scan_df(fragments=names, max_delete_ts=ts_end,
                          layout=layout)
    else:
        folded = (m.live_fragments(arr.timestamp)
                  + m.delete_fragments_visible(arr.timestamp))
        if not folded:
            return uri
        df = arr._scan_df(layout=layout)  # deletes + dedup folded in
        ts_end = max(f.timestamp_range[1] for f in folded)
    folded_names = {f.name for f in folded}

    def _supersede(man, rec):
        # same commit as the new fragment record: a crash (or a reader)
        # between two separate commits would see the folded fragments
        # AND the consolidated copy live simultaneously — doubled cells
        # on duplicate-allowing schemas, forever
        for f in man.fragments:
            if f.name in folded_names and f.name != rec.name:
                f.superseded_by = rec.name

    write_fragment_spark(uri, arr.schema, df, timestamp=ts_end,
                         sort_within=not layout, on_commit=_supersede)
    return uri


def vacuum(uri: str, timestamp=None) -> int:
    """Drop superseded fragment records from the manifest, then remove
    fragment directories no longer referenced (reference vacuum removes
    consolidated fragment files).

    Only directories that were COMMITTED in some manifest version are
    removable.  A directory unknown to every manifest version is an
    in-flight concurrent write (fragment parquet lands on disk BEFORE
    its manifest record commits) — rmtree'ing it would destroy that
    writer's data the moment its commit landed; such dirs are left
    alone (a crashed write's orphan dir costs disk, never
    correctness).

    ``timestamp`` (reference vacuum time-range config; int = end,
    (start, end) tuple) restricts the purge to superseded fragments
    whose timestamp range falls inside the window — others stay
    time-travelable."""
    if timestamp is None:
        lo, hi = 0, 2**62
    elif isinstance(timestamp, tuple):
        lo, hi = (0 if timestamp[0] is None else timestamp[0],
                  2**62 if timestamp[1] is None else timestamp[1])
    else:
        lo, hi = 0, timestamp

    def _purge(man):
        man.fragments = [
            f for f in man.fragments
            if f.superseded_by is None
            or not (lo <= f.timestamp_range[0] and f.timestamp_range[1] <= hi)]

    # Snapshot "ever committed" BEFORE the purge commit: a fragment
    # committed concurrently AFTER this snapshot is either (a) in the
    # purge result's manifest (its commit preceded ours) and therefore
    # in `live`, or (b) absent from this snapshot and therefore skipped
    # — either way untouchable.  Snapshotting AFTER the purge would let
    # such a commit land in `ever` while the purge result predates it,
    # satisfying `in ever and not in live` and rmtree'ing a LIVE
    # fragment's data (the exact loss this function's contract forbids).
    ever = mf.all_fragment_names(uri)
    m = mf.commit(uri, _purge)
    live = {f.name for f in m.fragments}
    removed = 0
    fdir = mf.fragments_dir(uri)
    if not os.path.isdir(fdir):
        return 0
    for name in os.listdir(fdir):
        if name not in live and name in ever:
            shutil.rmtree(os.path.join(fdir, name), ignore_errors=True)
            removed += 1
    return removed


def delete_fragments(uri: str, ts_start: int, ts_end: int) -> int:
    """Drop fragments whose timestamp range falls inside [ts_start, ts_end]
    (reference ``Array.delete_fragments``, ``array.py:625-659``)."""
    dropped: list[str] = []

    def _drop(m):
        keep = []
        for f in m.fragments:
            t0, t1 = f.timestamp_range
            if f.kind == "write" and ts_start <= t0 and t1 <= ts_end:
                dropped.append(f.name)
            else:
                keep.append(f)
        m.fragments = keep

    mf.commit(uri, _drop)
    return len(dropped)


def _fragments_to_copy(m: "mf.Manifest", lo, hi) -> list:
    """Records (writes AND deletes) that must travel when copying the
    window [lo, hi] — shared by :func:`copy_fragments_to_existing_array`
    and :func:`create_array_from_fragments` so their selection cannot
    drift.

    A fragment travels iff it is in-window AND its data has no newer
    carrier that also travels.  A superseded fragment whose
    consolidation product falls OUTSIDE [lo, hi] is the ONLY carrier of
    its window's data — skipping it unconditionally (the pre-r12
    behavior) silently dropped that window even though a timestamped
    open of the source reconstructs it; recursive because the product
    may itself be folded into a still-later out-of-window
    consolidation.  DELETE fragments follow the same rule: a delete
    materialized by a traveling product is already inside that
    product's rows; an unmaterialized in-window delete must travel or
    its removed rows silently RESURRECT in the destination."""
    by_name = {f.name: f for f in m.fragments}
    memo: dict = {}

    def _in_window(f):
        t0, t1 = f.timestamp_range
        return lo <= t0 and t1 <= hi

    def _will_copy(f):
        if f.name in memo:
            return memo[f.name]
        memo[f.name] = False  # cycle guard
        if _in_window(f):
            if f.superseded_by is None:
                memo[f.name] = True
            else:
                prod = by_name.get(f.superseded_by)
                memo[f.name] = not (prod is not None and _will_copy(prod))
        return memo[f.name]

    return [f for f in m.fragments if _will_copy(f)]


def _copy_fragment_dir(src_uri: str, dst_uri: str, f: FragmentRecord) -> None:
    """Copy a fragment's data directory if it has one (delete fragments
    are manifest-record-only: a condition, no parquet)."""
    p = mf.fragment_path(src_uri, f)
    if os.path.isdir(p):
        shutil.copytree(p, mf.fragment_path(dst_uri, f))


def copy_fragments_to_existing_array(src_uri: str, dst_uri: str,
                                     timestamp_range, config=None, ctx=None,
                                     verbose: bool = False,
                                     dry_run: bool = False) -> list:
    """Copy fragments in ``timestamp_range`` (inclusive) from one EXISTING
    array to another with an identical schema (reference
    ``fragment.py:387-510``).  Returns the copied fragment names.
    Selection (out-of-window consolidation carriers, delete fragments)
    follows :func:`_fragments_to_copy`."""
    if not mf.array_exists(dst_uri):
        raise FileNotFoundError(f"Array URI `{dst_uri}` does not exist")
    if not (isinstance(timestamp_range, tuple) and len(timestamp_range) == 2):
        raise TypeError(
            "'timestamp_range' argument expects tuple(start: int, end: int)")
    src = mf.read_manifest(src_uri)
    dst = mf.read_manifest(dst_uri)
    if src.schema.to_json() != dst.schema.to_json():
        raise ValueError(
            "source and destination array schemas must be identical")
    # fragment records carry SOURCE-relative schema_version stamps, and
    # evolution-fill / drop-re-add masking interpret them against the
    # destination's schema_version / attr_since history — copying across
    # diverged histories would fill or mask the wrong columns (or
    # resurface a dropped predecessor's bytes)
    if (src.schema_version, src.dropped_attrs, src.attr_since) != \
            (dst.schema_version, dst.dropped_attrs, dst.attr_since):
        raise ValueError(
            "source and destination evolution histories differ "
            f"(schema_version {src.schema_version} vs "
            f"{dst.schema_version}, attr drop/re-add records "
            f"{(src.dropped_attrs, src.attr_since)} vs "
            f"{(dst.dropped_attrs, dst.attr_since)}); fragment "
            "schema_version stamps would be misinterpreted. "
            "Consolidate the source first, or use "
            "create_array_from_fragments (which carries the history).")
    lo, hi = timestamp_range
    existing = {f.name for f in dst.fragments}
    picked = [f for f in _fragments_to_copy(src, lo, hi)
              if f.name not in existing]
    if verbose or dry_run:
        for f in picked:
            print(f"copy {mf.fragment_path(src_uri, f)} -> "
                  f"{mf.fragment_path(dst_uri, f)}")
    if dry_run:
        return [f.name for f in picked]
    # clear superseded_by: the product a record points at may not be
    # copied, and a record still marked superseded would be hidden from
    # FragmentInfoList and DELETED by the first vacuum() on dst
    records = [dataclasses.replace(f, superseded_by=None) for f in picked]
    for f in picked:
        _copy_fragment_dir(src_uri, dst_uri, f)
    mf.commit(dst_uri, lambda man: man.fragments.extend(records))
    return [f.name for f in picked]


def create_array_from_fragments(src_uri: str, dst_uri: str, timestamp_range,
                                config=None, ctx=None, verbose: bool = False,
                                dry_run: bool = False) -> str:
    """Copy fragments in a timestamp range to a new array
    (reference ``fragment.py:273-510``).  Selection (out-of-window
    consolidation carriers, delete fragments) follows
    :func:`_fragments_to_copy`."""
    m = mf.read_manifest(src_uri)
    if mf.array_exists(dst_uri):
        raise FileExistsError(dst_uri)
    lo, hi = timestamp_range
    picked = _fragments_to_copy(m, lo, hi)
    if verbose or dry_run:
        for f in picked:
            print(f"copy {mf.fragment_path(src_uri, f)} -> "
                  f"{mf.fragment_path(dst_uri, f)}")
    if dry_run:
        # nothing on disk: a preview that created the destination would
        # make the later real call FileExistsError against a half-made
        # array with no fragments and no carried history
        return dst_uri
    mf.create_array(dst_uri, m.schema)
    copied = []
    for f in picked:
        _copy_fragment_dir(src_uri, dst_uri, f)
        copied.append(dataclasses.replace(f, superseded_by=None))

    def _carry(man):
        man.fragments.extend(copied)
        # copied records carry source-relative schema_version stamps;
        # evolution fill and drop/re-add masking interpret them against
        # the manifest's history — carry it, or a fragment predating a
        # re-add would read the dropped predecessor's bytes in the copy
        man.schema_version = m.schema_version
        man.dropped_attrs = dict(m.dropped_attrs)
        man.attr_since = dict(m.attr_since)

    mf.commit(dst_uri, _carry)
    return dst_uri
