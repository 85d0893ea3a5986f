"""Row order and content of ordered reads against a last-write-wins model.

A 2-D sparse int x int array with a string and a float attr gets three
overlapping ``from_spark`` appends and one delete.  Its 'C' and 'F'
``df[:]`` reads, a ``multi_index`` read, and the reads after a partial
and a full ``consolidate`` must equal an in-memory last-write-wins model
sorted by the same keys, row for row and in order.

Ordered reads and writes lay rows out by key ranges into one partition
per ``spark.sql.files.maxPartitionBytes`` of estimated input.  The
scenario runs at the default (every layout here is one partition) and at
``2k`` (several range partitions, so the range partitioner samples and
each part file of a fragment holds one key range).
"""

import glob
import os
import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import tiledb_py_spark as tdb

COLS = ["x", "y", "s", "f"]


def _batch(rng, i):
    xy = rng.choice(900, 300, replace=False)
    x, y = xy // 30, xy % 30
    return pd.DataFrame({"x": x.astype(np.int64), "y": y.astype(np.int64),
                         "s": [f"b{i}-{a}-{b}" for a, b in zip(x, y)],
                         "f": rng.uniform(0, 100, len(xy))})


def _rows(model, keys=("x", "y"), pick=lambda x, y: True):
    """The model's cells as ``(x, y, s, f)`` rows sorted by ``keys``: a
    cell's newest version not removed by a later delete (deletes apply
    to every version written before them, then the newest survivor
    wins — the engine's delete-then-merge order)."""
    pos = {"x": 0, "y": 1}
    rows = [(x, y, *live[-1]) for (x, y), versions in model.items()
            if pick(x, y) and (live := [v for v in versions if v])]
    return sorted(rows, key=lambda r: tuple(r[pos[k]] for k in keys))


def _df_rows(pdf):
    pdf = pdf.reset_index()
    return list(zip(pdf["x"].tolist(), pdf["y"].tolist(),
                    pdf["s"].tolist(), pdf["f"].tolist()))


def _dict_rows(d):
    return list(zip(d["x"].tolist(), d["y"].tolist(), d["s"].tolist(),
                    d["f"].tolist()))


def _part_files(uri, frag):
    return sorted(glob.glob(os.path.join(uri, "__fragments", frag, "*.parquet")))


def _assert_range_clustered(uri, frag, many):
    """Each part file is sorted on (x, y), and the files hold disjoint,
    ascending key ranges."""
    files = _part_files(uri, frag)
    assert (len(files) > 1) if many else (len(files) == 1), files
    prev = None
    for fn in files:
        t = pq.read_table(fn, columns=["x", "y"])
        keys = list(zip(t.column("x").to_pylist(), t.column("y").to_pylist()))
        assert keys == sorted(keys), fn
        if keys:
            assert prev is None or prev < keys[0], fn
            prev = keys[-1]


def _check_reads(uri, spark, model):
    with tdb.open(uri, spark=spark) as A:
        assert _df_rows(A.query(order="C").df[:]) == _rows(model)
        assert _df_rows(A.query(order="F").df[:]) == _rows(model, ("y", "x"))
        got = A.query(order="C").multi_index[4:20, 10:29]
        assert _dict_rows(got) == _rows(
            model, pick=lambda x, y: 4 <= x <= 20 and 10 <= y <= 29)
        got = A.query(order="F").multi_index[[3, 7, 11], :]
        assert _dict_rows(got) == _rows(
            model, ("y", "x"), pick=lambda x, y: x in (3, 7, 11))


def _scenario(uri, spark, many):
    rng = np.random.default_rng(11)
    model = {}  # (x, y) -> versions, oldest first; None = deleted
    tdb.from_spark(uri, spark.createDataFrame(_batch(rng, 0)).limit(0),
                   index_dims=["x", "y"], mode="schema_only",
                   full_domain=True)
    writes = []
    for i in range(3):
        pdf = _batch(rng, i)
        tdb.from_spark(uri, spark.createDataFrame(pdf), mode="append")
        for x, y, s, f in pdf[COLS].itertuples(index=False):
            model.setdefault((x, y), []).append((s, f))
        time.sleep(0.003)
        with tdb.open(uri, spark=spark) as A:
            writes.append(max(A._manifest.live_fragments(A.timestamp),
                              key=lambda r: r.timestamp_range[0]).name)
        if i == 1:
            with tdb.open(uri, mode="d") as D:
                D.query(cond="f < 30.0").submit()
            model = {k: [v if v and v[1] >= 30.0 else None for v in vs]
                     for k, vs in model.items()}
            time.sleep(0.003)
    for w in writes:
        _assert_range_clustered(uri, w, many)
    _check_reads(uri, spark, model)

    # partial: the last two appends, with the delete committed between
    # them materialized; it stays live for the first append
    tdb.consolidate(uri, spark=spark, fragment_uris=writes[1:])
    with tdb.open(uri, spark=spark) as A:
        live = [f.name for f in A._manifest.live_fragments(A.timestamp)]
    assert len(live) == 2 and writes[0] in live
    _assert_range_clustered(uri, next(f for f in live if f != writes[0]),
                            many)
    _check_reads(uri, spark, model)

    tdb.consolidate(uri, spark=spark)
    with tdb.open(uri, spark=spark) as A:
        (frag,) = A._manifest.live_fragments(A.timestamp)
    _assert_range_clustered(uri, frag.name, many)
    _check_reads(uri, spark, model)


@pytest.mark.parametrize("max_partition_bytes", [None, "2k"])
def test_ordered_reads_match_lww_model(uri, spark, max_partition_bytes):
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key, None)
    if max_partition_bytes is not None:
        spark.conf.set(key, max_partition_bytes)
    try:
        _scenario(uri, spark, many=max_partition_bytes is not None)
    finally:
        if saved is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, saved)
