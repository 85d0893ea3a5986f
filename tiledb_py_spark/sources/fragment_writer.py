"""Fragment writers: one immutable parquet directory per write.

The reference's write path builds per-column buffers and submits a WRITE
query that produces a timestamped fragment
(``/root/reference/tiledb/array.py:820-985``; fragment info harvested at
:966-985).  Here a fragment is a directory of parquet files plus a
``FragmentRecord`` in the manifest carrying (ts, cell count, per-dim MBR).

Two paths:
- pandas/numpy input (the reference's native ingest shape): direct pyarrow
  write on the driver — no Spark job for small writes, mirroring the
  low-latency single-node write of the reference.
- Spark DataFrame input (the scale path): ``df.write.parquet`` with rows
  range-partitioned/sorted by dim columns so parquet row-group min/max
  stats align with dim ranges — the analog of TileDB's space-tile layout,
  and what makes range predicates prune at 100 TB.

Every writer — both paths above, the ``format("tiledb")`` batch and
stream sinks, and ``consolidate`` — commits through
:func:`publish_fragment`: MBR stats harvested from parquet footers
(driver-side metadata reads only, no data scan), the domain check, and
one atomic manifest commit.
"""

from __future__ import annotations

import os
from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..manifest import (FragmentRecord, commit, fragment_path,
                        new_fragment_name, now_ms)
from ..schema import ArraySchema


def _validate_domain(schema: ArraySchema, mbr: dict, frag_dir: str) -> None:
    """Reject writes whose coordinates fall outside the declared dim
    domain (the reference core raises TileDBError for out-of-domain
    coordinates) — an OOB coordinate would otherwise pollute
    nonempty_domain/MBRs and surface from full-range reads.  Checked
    from the already-harvested footer MBR: no extra scan.  Only
    numeric dims are validated (string dims have no domain)."""
    from ..datatypes import stored_scalar

    for d in schema.domain:
        if d.domain[0] is None or d.dtype.kind not in "iuf":
            continue
        b = mbr.get(d.name)
        if not b:
            continue
        lo = stored_scalar(d.domain[0], d.dtype)
        hi = stored_scalar(d.domain[1], d.dtype)
        if b[0] < lo or b[1] > hi:
            import shutil

            shutil.rmtree(frag_dir, ignore_errors=True)
            raise IndexError(
                f"coordinates on dimension {d.name!r} span "
                f"[{b[0]}, {b[1]}], outside the domain [{lo}, {hi}]")


def _mbr_value(v):
    """JSON-safe MBR bound; datetimes -> ISO strings (comparable after
    np.datetime64 round-trip in plans.range_ir.mbr_intersects)."""
    if isinstance(v, np.datetime64):
        return str(v.astype("datetime64[us]"))
    if isinstance(v, np.generic):
        return v.item()
    if hasattr(v, "isoformat"):  # datetime.datetime / pandas.Timestamp
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def stats_from_parquet_dir(frag_dir: str, dim_names: list[str]) -> tuple[int, dict]:
    """(cell_num, per-dim MBR) from parquet footers only."""
    total = 0
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    for root, _dirs, files in os.walk(frag_dir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            pf = pq.ParquetFile(os.path.join(root, fn))
            md = pf.metadata
            total += md.num_rows
            schema_names = [md.schema.column(i).name for i in range(md.num_columns)]
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    name = schema_names[ci]
                    if name not in dim_names:
                        continue
                    st = g.column(ci).statistics
                    if st is None or not st.has_min_max:
                        continue
                    mn, mx = st.min, st.max
                    if name not in mins or _lt(mn, mins[name]):
                        mins[name] = mn
                    if name not in maxs or _lt(maxs[name], mx):
                        maxs[name] = mx
    mbr = {d: [_mbr_value(mins[d]), _mbr_value(maxs[d])]
           for d in dim_names if d in mins}
    return total, mbr


def _lt(a, b) -> bool:
    try:
        return a < b
    except TypeError:
        return False


def _normalize_storage(pdf, schema: ArraySchema):
    """Coerce pandas columns to the schema's STORAGE representation: any
    column whose TypeInfo says ``stored_as: int64`` (ns datetimes,
    coarser-than-day units, timedeltas) must be written as int64 — writing
    it as a pandas timestamp would let pyarrow store microseconds under a
    LongType schema and reads would misread the unit."""
    import pandas as pd

    out = pdf.copy()
    for c in list(schema.domain) + list(schema.attrs_list):
        if c.name not in out.columns:
            continue
        ann = c.type_info.annotations
        s = out[c.name]
        if ann.get("stored_as") == "int64" and s.dtype.kind in ("M", "m"):
            np_dt = np.dtype(c.type_info.np_dtype)
            out[c.name] = s.to_numpy().astype(np_dt).view("int64")
        elif (getattr(c, "nullable", False) and not getattr(c, "var", False)
              and np.dtype(c.type_info.np_dtype).kind in "iu"
              and s.dtype.kind in ("O", "f")):
            # nullable integer attr arriving as object/float (pandas'
            # null upcasts): store via the nullable extension dtype so
            # pyarrow writes ints-with-nulls, not DOUBLE under an int
            # schema (Spark's reader rejects the mismatch)
            ext = np.dtype(c.type_info.np_dtype).name.capitalize() \
                .replace("Uint", "UInt")
            out[c.name] = s.astype(ext)
    return out


def _schema_codec(schema: ArraySchema) -> str:
    """Parquet codec from declared FilterLists (§2.9 mapping); zstd default."""
    for c in list(schema.attrs_list) + list(schema.domain):
        codec = getattr(c.filters, "parquet_codec", lambda: None)()
        if codec:
            return codec
    return "zstd"


def check_write_columns(schema: ArraySchema, have) -> None:
    """Refuse a write whose columns are not exactly the schema's dims +
    attrs (any order).  A silently dropped dim/attr commits a fragment
    that reads back NULL for that column (lost coordinates for dims);
    silently dropping an extra column's data is the same loss class —
    the reference requires every attribute in a write and refuses
    unknown ones."""
    cols = schema.dim_names + schema.attr_names
    have = list(have)
    absent = [c for c in cols if c not in have]
    if absent:
        raise ValueError(
            f"write is missing schema columns {absent}; every dim and "
            f"attr must be present (have: {have})")
    unknown = [c for c in have if c not in cols]
    if unknown:
        raise ValueError(
            f"write has columns {unknown} not in the array schema "
            f"(dims+attrs: {cols}); drop them with .select(...) or "
            f"evolve the schema first")


def publish_fragment(uri: str, schema: ArraySchema, name: str, ts: int,
                     on_commit=None) -> FragmentRecord:
    """Publish the parquet directory of fragment ``name`` as ONE manifest
    record — the single commit point of every writer.  Footer stats give
    the cell count and MBR (no data scan); an out-of-domain write is
    refused and its directory removed; the record is stamped with the
    schema version the writer laid its files out against and appended
    in one atomic ``manifest.commit``.

    The stamp is the version ``schema`` was READ at (``read_manifest``
    tags it): an evolution committing between plan and this commit must
    not mark the fragment post-evolution — its files have the OLD
    layout, and a too-new stamp would disable evolved-fill / drop-re-add
    masking for them.  Hand-built schemas (array creation) carry no tag;
    the manifest's current version is correct there.

    ``on_commit(manifest, rec)`` is an extra mutation applied in the SAME
    commit — ``consolidate`` supersedes the folded fragments atomically
    with the new record (two commits would let a crash or a concurrent
    reader see the folded fragments AND their product)."""
    frag_dir = fragment_path(uri, name)
    cell_num, mbr = stats_from_parquet_dir(frag_dir, schema.dim_names)
    _validate_domain(schema, mbr, frag_dir)
    rec = FragmentRecord(name=name, timestamp_range=(ts, ts),
                         cell_num=cell_num, nonempty_domain=mbr)
    plan_version = getattr(schema, "_read_version", None)

    def _append(m):
        rec.schema_version = (plan_version if plan_version is not None
                              else m.schema_version)
        m.fragments.append(rec)
        if on_commit is not None:
            on_commit(m, rec)

    commit(uri, _append)
    return rec


def write_fragment_pandas(uri: str, schema: ArraySchema, pdf,
                          timestamp: Optional[int] = None,
                          row_group_size: Optional[int] = None) -> FragmentRecord:
    """Driver-side pyarrow write of one fragment from a pandas DataFrame
    whose columns are dims + attrs (stored layout)."""
    check_write_columns(schema, pdf.columns)
    ts = timestamp if timestamp is not None else now_ms()
    name = new_fragment_name(ts)
    frag_dir = fragment_path(uri, name)
    os.makedirs(frag_dir, exist_ok=True)
    cols = schema.dim_names + schema.attr_names
    if list(pdf.columns) != cols:
        # column reselect copies EVERY block (43s measured on a
        # 100M-cell dense grid) — skip it when already in stored order
        pdf = pdf[cols]
    pdf = _normalize_storage(pdf, schema)
    # sort by dims for row-group min/max locality (space-tile analog)
    if schema.sparse and len(pdf) > 0:
        if schema.cell_order == "hilbert":
            from ..hilbert import hilbert_key_for_schema

            key = hilbert_key_for_schema(pdf, schema)
            pdf = pdf.iloc[np.argsort(key, kind="stable")]
        elif schema.cell_order in ("row-major", "col-major"):
            order = schema.dim_names if schema.cell_order != "col-major" else schema.dim_names[::-1]
            pdf = pdf.sort_values(order, kind="stable")
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(
        table, os.path.join(frag_dir, "part-00000.parquet"),
        compression=_schema_codec(schema),
        row_group_size=row_group_size or max(schema.capacity, 4096),
        # Spark's vectorized reader rejects TIMESTAMP(NANOS); store micros
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )
    return publish_fragment(uri, schema, name, ts)


def layout_partitions(df) -> int:
    """Partition count of a range layout of ``df``: one partition per
    ``spark.sql.files.maxPartitionBytes`` of Catalyst's size estimate,
    between 1 and ``defaultParallelism``.  An unknown estimate
    (``Long.MaxValue``) gives ``defaultParallelism``."""
    from ..stats import record

    spark = df.sparkSession
    cap = max(spark.sparkContext.defaultParallelism, 1)
    est = int(str(df._jdf.queryExecution().optimizedPlan().stats()
                  .sizeInBytes()))
    per = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    n = min(max(-(-est // max(per, 1)), 1), cap)
    record("py.layout_partitions", n)
    return n


def range_layout(df, keys, merge=None):
    """``df`` laid out by ranges of ``keys``: range-partitioned into
    :func:`layout_partitions` partitions, then sorted within each.  One
    exchange; at one partition it is ``Exchange SinglePartition`` and
    Spark runs no sampling job.  ``merge`` (DataFrame -> DataFrame), if
    given, runs between the exchange and the sort: an aggregate grouped
    by any superset of ``keys`` is already clustered and plans no
    exchange of its own.  An ``orderBy`` on ``keys`` above the result
    plans none either."""
    df = df.repartitionByRange(layout_partitions(df), *keys)
    if merge is not None:
        df = merge(df)
    return df.sortWithinPartitions(*keys)


def write_fragment_spark(uri: str, schema: ArraySchema, df,
                         timestamp: Optional[int] = None,
                         sort_within: bool = True,
                         on_commit=None) -> FragmentRecord:
    """Cluster-scale fragment write from a Spark DataFrame.

    :func:`range_layout` on the dim columns gives globally
    range-clustered parquet files whose footer stats make both Spark
    row-group pruning and our manifest MBR pruning exact — the 'global
    order write' of the reference (``dense_array.py:655-663``) expressed
    as one Spark exchange.  The part-file count follows the input's
    estimated bytes (one file per ``spark.sql.files.maxPartitionBytes``),
    capped at ``defaultParallelism``: a small append writes one file and
    runs no sampling job.  Hilbert arrays range-partition on the curve
    key into the same count.  ``sort_within=False`` writes ``df`` as laid
    out (``consolidate`` passes rows its scan already laid out by the
    dims).  ``on_commit``: see :func:`publish_fragment`."""
    check_write_columns(schema, df.columns)
    ts = timestamp if timestamp is not None else now_ms()
    name = new_fragment_name(ts)
    df = df.select(*(schema.dim_names + schema.attr_names))
    if sort_within and schema.sparse and schema.dim_names:
        if schema.cell_order == "hilbert":
            # Arrow-batched Hilbert key; range-partition on the key so the
            # whole fragment is globally curve-ordered
            import pandas as pd
            from pyspark.sql import functions as F
            from pyspark.sql.functions import pandas_udf

            dim_names = list(schema.dim_names)
            schema_ref = schema

            @pandas_udf("long")
            def _hkey(*dims: pd.Series) -> pd.Series:
                from ..hilbert import hilbert_key_for_schema

                pdf = pd.DataFrame({d: s for d, s in zip(dim_names, dims)})
                return pd.Series(hilbert_key_for_schema(pdf, schema_ref).astype("int64"))

            n = layout_partitions(df)
            df = (df.withColumn("__hkey", _hkey(*[F.col(c) for c in dim_names]))
                    .repartitionByRange(n, "__hkey")
                    .sortWithinPartitions("__hkey")
                    .drop("__hkey"))
        else:
            df = range_layout(df, schema.dim_names)
    (df.write.mode("overwrite").option("compression", _schema_codec(schema))
       .parquet(fragment_path(uri, name)))
    return publish_fragment(uri, schema, name, ts, on_commit)
