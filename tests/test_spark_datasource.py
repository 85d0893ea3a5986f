"""Custom Spark data source: spark.read/write.format('tiledb')."""

import numpy as np
import pandas as pd
import pytest

import tiledb_py_spark as tdb


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    from tiledb_py_spark.sources.spark_datasource import register

    register(spark)


@pytest.fixture()
def arr(uri, spark):
    pdf = pd.DataFrame({"k": np.arange(500, dtype=np.int64),
                        "v": np.arange(500) * 1.5})
    # full_domain: the stream tests append fragments at coords 1000+,
    # which out-of-domain write validation would (rightly) reject on a
    # batch-1-pinned domain
    tdb.from_pandas(uri, pdf, index_dims=["k"], full_domain=True)
    return uri


def test_format_read(arr, spark):
    df = spark.read.format("tiledb").load(arr)
    assert df.count() == 500
    assert set(df.columns) == {"k", "v"}


def test_format_filter_pushdown_correct(arr, spark):
    df = spark.read.format("tiledb").load(arr)
    rows = df.filter((df.k >= 10) & (df.k < 20)).collect()
    assert sorted(r.k for r in rows) == list(range(10, 20))
    rows = df.filter(df.k.isin([1, 5, 400])).collect()
    assert sorted(r.k for r in rows) == [1, 5, 400]


def test_format_write_appends_fragment(arr, spark):
    extra = spark.createDataFrame(
        pd.DataFrame({"k": np.arange(500, 600, dtype=np.int64),
                      "v": np.zeros(100)}))
    extra.write.format("tiledb").mode("append").save(arr)
    assert spark.read.format("tiledb").load(arr).count() == 600
    assert len(tdb.array_fragments(arr)) == 2
    # engine path sees the same data
    assert tdb.open(arr, spark=spark).dataframe().count() == 600


def test_format_timestamp_option(arr, spark):
    extra = spark.createDataFrame(
        pd.DataFrame({"k": np.arange(500, 550, dtype=np.int64),
                      "v": np.zeros(50)}))
    extra.write.format("tiledb").mode("append").save(arr)
    ts1 = tdb.array_fragments(arr)[0].timestamp_range[1]
    old = spark.read.format("tiledb").option("timestamp", ts1).load(arr)
    assert old.count() == 500


def test_format_overwrite_rejected(arr, spark):
    df = spark.read.format("tiledb").load(arr)
    with pytest.raises(Exception):
        df.write.format("tiledb").mode("overwrite").save(arr)


def test_format_overlapping_nodup_last_write_wins(uri, spark):
    """Overlapping fragments on a no-duplicates array resolve to the LAST
    write per coordinate, merge-on-read style (the merge split anti-joins
    each fragment against the newer ones' coordinates)."""
    pdf = pd.DataFrame({"k": np.arange(10, dtype=np.int64),
                        "v": np.zeros(10)})
    tdb.from_pandas(uri, pdf, index_dims=["k"], full_domain=True)
    pdf2 = pd.DataFrame({"k": np.arange(5, 15, dtype=np.int64),
                         "v": np.ones(10)})
    tdb.from_pandas(uri, pdf2, index_dims=["k"], mode="append")
    out = (spark.read.format("tiledb").load(uri)
           .orderBy("k").toPandas())
    assert out["k"].tolist() == list(range(15))
    # coords 0-4 keep the first write, 5-14 take the second
    assert out["v"].tolist() == [0.0] * 5 + [1.0] * 10
    # matches the engine's own scan exactly
    eng = tdb.open(uri, spark=spark).dataframe().orderBy("k").toPandas()
    assert out.equals(eng)


def test_format_lww_after_delete_resurfaces_old(uri, spark):
    """A newer row that was itself deleted no longer supersedes: the older
    cell resurfaces (delete-then-dedup order, same as Array._scan_df)."""
    pdf = pd.DataFrame({"k": np.arange(5, dtype=np.int64),
                        "v": np.arange(5) * 1.0})
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    pdf2 = pd.DataFrame({"k": np.arange(5, dtype=np.int64),
                         "v": np.arange(5) + 100.0})
    tdb.from_pandas(uri, pdf2, index_dims=["k"], mode="append")
    with tdb.open(uri, "d", spark=spark) as A:
        A.query(cond="v >= 100.0").submit_delete()
    out = (spark.read.format("tiledb").load(uri).orderBy("k").toPandas())
    eng = tdb.open(uri, spark=spark).dataframe().orderBy("k").toPandas()
    assert out.equals(eng)
    # the delete killed the overwrites; originals resurface
    assert out["v"].tolist() == [0.0, 1.0, 2.0, 3.0, 4.0]


@pytest.mark.parametrize("cond", [
    "c == 'red'",  # enum attr: label -> code
    "d < '2021-01-05'",  # datetime dim: string in the stored unit
    "v >= val(25.0) or k in {1, 2}",  # val() wrapper, set literal
], ids=["enum_label", "datetime_dim", "val_set_literal"])
def test_format_delete_forms_match_engine(uri, spark, cond):
    """Every delete form the engine accepts reads the same through
    ``format("tiledb")`` as through ``Array.dataframe()``: both compile
    it with the one QueryCondition compiler.  An overlapping upsert puts
    the delete on the last-write-wins merge path."""
    n = 30
    pdf = pd.DataFrame({
        "d": pd.date_range("2021-01-01", periods=n, freq="D"),
        "k": np.arange(n, dtype=np.int64),
        "c": pd.Categorical(np.array(["red", "green", "blue"])[np.arange(n) % 3]),
        "v": np.arange(n) * 1.0,
    })
    tdb.from_pandas(uri, pdf, index_dims=["d"])
    upsert = pdf.iloc[:6].assign(v=pdf["v"].iloc[:6] + 100.0)
    tdb.from_pandas(uri, upsert, index_dims=["d"], mode="append")
    with tdb.open(uri, "d", spark=spark) as A:
        A.delete_cells(cond)
    eng = (tdb.open(uri, spark=spark).df[:].reset_index()[["k", "v"]]
           .sort_values("k").reset_index(drop=True))
    fmt = (spark.read.format("tiledb").load(uri).toPandas()[["k", "v"]]
           .sort_values("k").reset_index(drop=True))
    assert 0 < len(eng) < n
    assert fmt.values.tolist() == eng.values.tolist()


def test_format_lww_many_overlaps_streams_each_file_once(uri, spark):
    """Hot-key upsert: 20 updates all overlapping the base fragment.
    Planning must route the overlap component through a merge split
    where every parquet file is referenced exactly ONCE, and the result
    must match the engine's shuffle-dedup scan."""
    base = pd.DataFrame({"k": np.arange(200, dtype=np.int64),
                         "v": np.zeros(200)})
    tdb.from_pandas(uri, base, index_dims=["k"])
    for i in range(1, 21):
        upd = pd.DataFrame({"k": np.arange(50, dtype=np.int64),
                            "v": np.full(50, float(i))})
        tdb.from_pandas(uri, upd, index_dims=["k"], mode="append")

    from tiledb_py_spark.sources.spark_datasource import TileDBReader

    r = TileDBReader(uri, None)
    splits = r.partitions()
    group_splits = [s for s in splits if s.group]
    assert group_splits, "expected the overlap component to be grouped"
    refs = []
    for s in splits:
        refs.extend(p for pieces, _d, _m in s.group for p, _rg in pieces)
        if s.file_path:
            refs.append(s.file_path)
    assert len(refs) == len(set(refs)) == 21  # each file planned exactly once

    out = spark.read.format("tiledb").load(uri).orderBy("k").toPandas()
    eng = tdb.open(uri, spark=spark).dataframe().orderBy("k").toPandas()
    assert out.equals(eng)
    assert out["v"].tolist() == [20.0] * 50 + [0.0] * 150

    # group path is delete-aware: killing the winning write resurfaces
    # the previous one (same delete-then-dedup order as Array._scan_df)
    with tdb.open(uri, "d", spark=spark) as A:
        A.query(cond="v >= 20.0").submit_delete()
    out = spark.read.format("tiledb").load(uri).orderBy("k").toPandas()
    assert out["v"].tolist() == [19.0] * 50 + [0.0] * 150

    # pushed filters still prune the OUTPUT of the group split without
    # breaking supersession (newer out-of-range rows still tombstone)
    df = spark.read.format("tiledb").load(uri)
    got = df.filter(df.k < 10).orderBy("k").toPandas()
    assert got["v"].tolist() == [19.0] * 10


def _read_in_process(uri):
    """Plan and read a ``format("tiledb")`` scan in THIS process, so a
    monkeypatched ``_SPLIT_BYTES`` applies (Spark plans Python data
    sources in a Python worker, which a monkeypatch made here does not
    reach).  Returns (splits, rows sorted by k)."""
    from tiledb_py_spark.sources.spark_datasource import TileDBReader

    r = TileDBReader(uri, None)
    splits = r.partitions()
    out = pd.concat([b.to_pandas() for s in splits for b in r.read(s)])
    return splits, out.sort_values("k").reset_index(drop=True)


def test_format_lww_giant_component_auto_slices(uri, spark, monkeypatch):
    """A merge component above _SPLIT_BYTES must NOT serialize into one
    task: planning slices it into first-dim coordinate ranges (one
    independent merge per slice), and the sliced result is identical to
    the engine's shuffle-dedup scan."""
    import glob
    import os

    import pyarrow.parquet as pq

    from tiledb_py_spark import manifest as mf
    from tiledb_py_spark.sources import spark_datasource as sd

    rng = np.random.RandomState(7)
    base = pd.DataFrame({"k": np.arange(5000, dtype=np.int64),
                         "v": np.zeros(5000)})
    tdb.from_pandas(uri, base, index_dims=["k"])
    for i in range(1, 12):
        # every update overlaps the full domain -> one component
        ks = np.sort(rng.choice(5000, 2000, replace=False)).astype(np.int64)
        upd = pd.DataFrame({"k": ks, "v": np.full(len(ks), float(i))})
        tdb.from_pandas(uri, upd, index_dims=["k"], mode="append")
    # tiny test fragments land in ONE row group each; rewrite with small
    # sorted row groups to model a real multi-row-group fragment (where
    # range slicing actually prunes I/O — the planner refuses to slice
    # single-giant-row-group layouts, see the unsorted test)
    for f in mf.read_manifest(uri).fragments:
        for p in glob.glob(os.path.join(mf.fragment_path(uri, f.name),
                                        "**", "*.parquet"), recursive=True):
            pq.write_table(pq.read_table(p).sort_by("k"), p,
                           row_group_size=250)

    # a tiny split size forces slicing of this small test component
    monkeypatch.setattr(sd, "_SPLIT_BYTES", 16 << 10)
    splits, sliced = _read_in_process(uri)
    group_splits = [s for s in splits if s.group]
    assert len(group_splits) > 1, "giant component should slice into >1 task"
    # slices must partition the domain: contiguous half-open ranges
    rngs = sorted((s.group_range for s in group_splits),
                  key=lambda r: (r[0] is not None, r[0]))
    assert rngs[0][0] is None and rngs[-1][1] is None
    for a, b in zip(rngs, rngs[1:]):
        assert a[1] == b[0]
    eng = tdb.open(uri, spark=spark).dataframe().orderBy("k").toPandas()
    assert sliced.equals(eng)

    # delete-awareness survives slicing: killing the winning writes
    # resurfaces previous values, identically to the engine scan
    with tdb.open(uri, "d", spark=spark) as A:
        A.query(cond="v >= 11.0").submit_delete()
    _, sliced = _read_in_process(uri)
    eng = tdb.open(uri, spark=spark).dataframe().orderBy("k").toPandas()
    assert sliced.equals(eng)


def _yielded_pieces(splits, md_of):
    """(path, row group) of every row group a merge split YIELDS rows
    from (members before ``seen_only`` only supply coordinates), one
    entry per split that yields it, plus each split's yielded bytes."""
    pieces, sizes = [], []
    for s in splits:
        size = 0
        for member in s.group[s.seen_only:]:
            for path, rgs in member[0]:
                md = md_of(path)
                for i in (range(md.num_row_groups) if rgs is None else rgs):
                    pieces.append((path, i))
                    size += md.row_group(i).total_byte_size
        sizes.append(size)
    return pieces, sizes


def test_format_lww_unsorted_component_skips_slicing(uri, spark, monkeypatch):
    """Wide row groups (unsorted data) would be re-read by every range
    slice — the planner must not range-slice them, and must not fall
    back to one serialized task either: it cuts the members into
    row-group spans, each row group yielded by exactly one split."""
    import glob
    import os

    import pyarrow.parquet as pq

    from tiledb_py_spark import manifest as mf
    from tiledb_py_spark.sources import spark_datasource as sd

    rng = np.random.RandomState(3)
    base = pd.DataFrame({"k": np.arange(4000, dtype=np.int64),
                         "v": np.zeros(4000)})
    tdb.from_pandas(uri, base, index_dims=["k"])
    for i in range(1, 12):
        upd = pd.DataFrame({"k": np.arange(0, 4000, 2, dtype=np.int64),
                            "v": np.full(2000, float(i))})
        tdb.from_pandas(uri, upd, index_dims=["k"], mode="append")
    # shuffle every fragment file and rewrite with small row groups:
    # each row group now spans ~the whole key domain
    all_rgs = set()
    for f in mf.read_manifest(uri).fragments:
        for p in glob.glob(os.path.join(mf.fragment_path(uri, f.name),
                                        "**", "*.parquet"), recursive=True):
            tbl = pq.read_table(p)
            perm = rng.permutation(tbl.num_rows)
            pq.write_table(tbl.take(perm), p, row_group_size=500)
            all_rgs |= {(p, i)
                        for i in range(pq.ParquetFile(p).num_row_groups)}

    monkeypatch.setattr(sd, "_SPLIT_BYTES", 16 << 10)
    splits, out = _read_in_process(uri)
    group_splits = [s for s in splits if s.group]
    assert len(group_splits) > 1
    assert all(s.group_range == () for s in group_splits)
    pieces, _ = _yielded_pieces(
        group_splits, lambda p: pq.ParquetFile(p).metadata)
    assert len(pieces) == len(set(pieces)) and set(pieces) == all_rgs
    # and the merge still resolves LWW correctly on the shuffled files
    eng = tdb.open(uri, spark=spark).dataframe().orderBy("k").toPandas()
    assert out.equals(eng)

    # a delete that kills the newest versions resurfaces the previous
    # ones across split boundaries, as in the engine scan
    with tdb.open(uri, "d", spark=spark) as A:
        A.query(cond="v >= 11.0").submit_delete()
    _, out = _read_in_process(uri)
    eng = tdb.open(uri, spark=spark).dataframe().orderBy("k").toPandas()
    assert out.equals(eng)


def test_format_lww_sink_base_plus_upsert_keeps_bounded_splits(
        uri, spark, monkeypatch):
    """A large base written unsorted by the format("tiledb") sink plus
    one small overlapping upsert: the merge must keep one bounded split
    per base span (each re-reading only the upsert's coordinates), not
    one task holding the whole component."""
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from tiledb_py_spark.sources import spark_datasource as sd

    tdb.from_pandas(uri, pd.DataFrame({"k": np.arange(1, dtype=np.int64),
                                       "v": np.zeros(1)}),
                    index_dims=["k"], mode="schema_only", full_domain=True)
    (spark.range(20_000).select(F.col("id").alias("k"),
                                (F.col("id") * 0.5).alias("v"))
     .repartition(6).write.format("tiledb").mode("append").save(uri))
    upd = pd.DataFrame({"k": np.arange(100, 20_000, 97, dtype=np.int64),
                        "v": np.full(206, -1.0)})
    tdb.from_pandas(uri, upd, index_dims=["k"], mode="append")

    monkeypatch.setattr(sd, "_SPLIT_BYTES", 16 << 10)
    splits, out = _read_in_process(uri)
    group_splits = [s for s in splits if s.group]
    assert len(group_splits) >= 6
    md = {}

    def md_of(p):
        return md.setdefault(p, pq.ParquetFile(p).metadata)

    pieces, sizes = _yielded_pieces(group_splits, md_of)
    assert len(pieces) == len(set(pieces))
    biggest_rg = max(md_of(p).row_group(i).total_byte_size
                     for p, i in pieces)
    assert max(sizes) <= sd._SPLIT_BYTES + biggest_rg
    # the only re-read input is the upsert's coordinates
    upsert = group_splits[0].group[0][0]
    assert all(s.group[:s.seen_only] in ((), (group_splits[0].group[0],))
               for s in group_splits)
    assert sum(s.seen_only for s in group_splits) == len(group_splits) - 1
    assert len(upsert) == 1
    eng = tdb.open(uri, spark=spark).dataframe().orderBy("k").toPandas()
    assert out.equals(eng)
    assert (out.set_index("k").loc[upd["k"], "v"] == -1.0).all()


def test_format_lww_few_overlaps_keeps_per_split_anti_join(uri, spark):
    """A few overlapping fragments plan ONE merge split for their
    component, with each file planned exactly once, while a fragment
    that overlaps nothing keeps its plain split."""
    base = pd.DataFrame({"k": np.arange(100, dtype=np.int64),
                         "v": np.zeros(100)})
    tdb.from_pandas(uri, base, index_dims=["k"], full_domain=True)
    for i in range(1, 4):
        upd = pd.DataFrame({"k": np.arange(10, dtype=np.int64),
                            "v": np.full(10, float(i))})
        tdb.from_pandas(uri, upd, index_dims=["k"], mode="append")
    far = pd.DataFrame({"k": np.arange(200, 210, dtype=np.int64),
                        "v": np.full(10, 5.0)})
    tdb.from_pandas(uri, far, index_dims=["k"], mode="append")

    from tiledb_py_spark.sources.spark_datasource import TileDBReader

    splits = TileDBReader(uri, None).partitions()
    group_splits = [s for s in splits if s.group]
    assert len(group_splits) == 1 and len(group_splits[0].group) == 4
    plain = [s.file_path for s in splits if s.file_path]
    refs = [p for pieces, _d, _m in group_splits[0].group
            for p, _rg in pieces]
    assert len(plain) == 1
    assert len(refs + plain) == len(set(refs + plain)) == 5
    out = spark.read.format("tiledb").load(uri).orderBy("k").toPandas()
    assert out["v"].tolist() == [3.0] * 10 + [0.0] * 90 + [5.0] * 10


def test_format_lww_attr_filter_keeps_supersession(uri, spark):
    """A pushed ATTR predicate filters only the merged output: a newer
    version that fails it still hides the older version that passes."""
    base = pd.DataFrame({"k": np.arange(50, dtype=np.int64),
                         "v": np.zeros(50)})
    tdb.from_pandas(uri, base, index_dims=["k"])
    upd = pd.DataFrame({"k": np.arange(10, 30, dtype=np.int64),
                        "v": np.full(20, 100.0)})
    tdb.from_pandas(uri, upd, index_dims=["k"], mode="append")
    df = spark.read.format("tiledb").load(uri)
    got = sorted(r.k for r in df.filter(df.v < 50).collect())
    assert got == list(range(10)) + list(range(30, 50))


def test_format_lww_composite_string_key_matches_engine(uri, spark):
    """A 2-D (int64, string) array with overlapping appends and a delete:
    the exact anti-join on the composite key gives the engine's answer."""
    rng = np.random.RandomState(11)
    words = np.array(["x", "y", "zz", "été", "a b"])

    def batch(n, v):
        return pd.DataFrame({
            "a": rng.randint(0, 20, n).astype(np.int64),
            "s": words[rng.randint(0, len(words), n)],
            "v": np.full(n, v)}).drop_duplicates(["a", "s"])

    tdb.from_pandas(uri, batch(80, 0.0), index_dims=["a", "s"],
                    full_domain=True)
    for i in range(1, 4):
        tdb.from_pandas(uri, batch(40, float(i)), index_dims=["a", "s"],
                        mode="append")
    with tdb.open(uri, "d", spark=spark) as A:
        A.query(cond="v == 2.0").submit_delete()
    out = (spark.read.format("tiledb").load(uri)
           .orderBy("a", "s").toPandas())
    eng = (tdb.open(uri, spark=spark).dataframe()
           .orderBy("a", "s").toPandas())
    assert not out.duplicated(["a", "s"]).any()
    assert out.equals(eng)


def test_format_lww_list_attr_merges(uri, spark):
    """A list-typed (var-length) attr passes through the merge: only the
    dim columns enter the anti-join."""
    def batch(ks, x):
        return pd.DataFrame({
            "k": np.asarray(ks, dtype=np.int64),
            "emb": [np.full(3, x, dtype="float32") for _ in ks]})

    tdb.from_pandas(uri, batch(range(10), 0.0), index_dims=["k"])
    tdb.from_pandas(uri, batch(range(5), 1.0), index_dims=["k"],
                    mode="append")
    got = {r.k: list(r.emb) for r in
           spark.read.format("tiledb").load(uri).collect()}
    assert got == {k: [1.0 if k < 5 else 0.0] * 3 for k in range(10)}


def test_format_read_refuses_unknown_option(arr, spark, tmp_path):
    """Every read option outside the supported set fails loudly, naming
    the option — a removed one is never silently ignored."""
    for opt in ("lww_group_threshold", "lww_split_bytes", "timestmap"):
        with pytest.raises(Exception, match=rf"unknown option.*{opt}"):
            spark.read.format("tiledb").option(opt, "0").load(arr).collect()
    assert spark.read.format("tiledb").option("timestamp", 2**62) \
        .load(arr).count() == 500
    q = (spark.readStream.format("tiledb").option("timestamp", "1")
         .load(arr).writeStream.format("noop")
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        with pytest.raises(Exception, match=r"unknown option.*timestamp"):
            q.awaitTermination(120)
    finally:
        q.stop()


def test_rg_stats_pruning_plans_fewer_splits(uri, spark):
    """Driver-side planning skips whole row groups whose parquet min/max
    statistics cannot match the pushed predicates (the 100 TB lever: a
    selective dim filter should cost row groups, not a file scan)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tiledb_py_spark import manifest as mf
    from tiledb_py_spark.sources.spark_datasource import (TileDBReader,
                                                          _rg_matches)

    pdf = pd.DataFrame({"k": np.arange(100_000, dtype=np.int64),
                        "v": np.arange(100_000) * 1.0})
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    # rewrite the fragment's parquet with small row groups so stats
    # pruning has something to prune
    frag = mf.read_manifest(uri).fragments[0]
    import glob
    import os
    [pq_path] = glob.glob(os.path.join(mf.fragment_path(uri, frag.name),
                                       "**", "*.parquet"), recursive=True)
    tbl = pq.read_table(pq_path)
    pq.write_table(tbl.sort_by("k"), pq_path, row_group_size=10_000)
    md = pq.ParquetFile(pq_path).metadata
    assert md.num_row_groups == 10

    preds = (("k", ">=", 45_000), ("k", "<", 52_000))
    live = [i for i in range(md.num_row_groups)
            if _rg_matches(md.row_group(i), preds)]
    assert live == [4, 5]  # 8 of 10 row groups pruned at the driver

    r = TileDBReader(uri, None)
    r._preds = list(preds)
    splits = r.partitions()
    assert sum(len(s.row_groups) for s in splits) == 2

    # end-to-end through Spark stays correct
    df = spark.read.format("tiledb").load(uri)
    got = df.filter((df.k >= 45_000) & (df.k < 52_000)).count()
    assert got == 7_000


def test_stream_read_fragment_feed(arr, spark, tmp_path):
    """spark.readStream.format('tiledb'): each committed fragment's
    rows arrive exactly once in commit order; a fragment committed
    between micro-batch triggers is picked up by the next one; offsets
    replay deterministically from the checkpoint."""
    import pandas as pd

    batches = []

    def sink(df, bid):
        batches.append((bid, sorted(r.k for r in df.collect())))

    q = (spark.readStream.format("tiledb").load(arr)
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got0 = sorted(k for _, ks in batches for k in ks)
    assert got0 == list(range(500))     # the initial fragment, once

    # commit two more fragments, restart the stream from the checkpoint
    tdb.from_pandas(arr, pd.DataFrame(
        {"k": np.arange(1000, 1010, dtype=np.int64),
         "v": np.zeros(10)}), index_dims=["k"], mode="append")
    tdb.from_pandas(arr, pd.DataFrame(
        {"k": np.arange(2000, 2005, dtype=np.int64),
         "v": np.ones(5)}), index_dims=["k"], mode="append")
    batches.clear()
    q = (spark.readStream.format("tiledb").load(arr)
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got1 = sorted(k for _, ks in batches for k in ks)
    # ONLY the new fragments: the checkpoint offset excludes batch 1
    assert got1 == list(range(1000, 1010)) + list(range(2000, 2005))


def test_stream_array_to_array_etl(arr, spark, tmp_path):
    """Array-to-array streaming ETL: readStream from one array,
    transform, commit each micro-batch as a fragment of a SECOND array
    — the full subscribe -> process -> publish loop on engine storage
    alone.  The sink array ends exactly one processed row per source
    row."""
    from pyspark.sql import functions as F

    out_uri = str(tmp_path / "sink_array")
    src = spark.readStream.format("tiledb").load(arr)
    xform = src.withColumn("v2", F.col("v") * 2.0).drop("v")

    def commit_batch(df, bid):
        pdf = df.toPandas()
        if len(pdf):
            tdb.from_pandas(out_uri, pdf, index_dims=["k"],
                            mode="append" if tdb.array_exists(out_uri)
                            else "ingest",
                            full_domain=True)

    q = (xform.writeStream.foreachBatch(commit_batch)
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    A = tdb.open(out_uri, spark=spark)
    rows = {r.k: r.v2 for r in A.dataframe().collect()}
    assert len(rows) == 500
    assert rows[10] == 10 * 1.5 * 2.0


def test_stream_native_sink_one_fragment_per_batch(arr, spark, tmp_path):
    """writeStream.format('tiledb'): each micro-batch commits exactly
    ONE fragment of the sink array (two-file source -> two trigger
    batches -> two fragments), rows land once, and the staging dir
    holds no leftovers after the run."""
    import os

    from pyspark.sql import functions as F

    from tiledb_py_spark import manifest as mf

    out_uri = str(tmp_path / "native_sink")
    # schema_only creation: the sink array must exist before the first
    # batch; full domain so any coordinate fits
    tdb.from_pandas(out_uri, pd.DataFrame(
        {"k": np.array([0], dtype=np.int64), "v2": [0.0]}),
        index_dims=["k"], mode="schema_only", full_domain=True)

    src_dir = tmp_path / "src"
    src_dir.mkdir()
    pd.DataFrame({"k": np.arange(0, 50, dtype=np.int64),
                  "v2": np.arange(0, 50) * 2.0}) \
        .to_parquet(src_dir / "b1.parquet")
    pd.DataFrame({"k": np.arange(50, 80, dtype=np.int64),
                  "v2": np.arange(50, 80) * 2.0}) \
        .to_parquet(src_dir / "b2.parquet")

    schema = spark.read.parquet(str(src_dir)).schema
    q = (spark.readStream.schema(schema)
         .option("maxFilesPerTrigger", 1).parquet(str(src_dir))
         .writeStream.format("tiledb")
         .option("path", out_uri)
         .option("checkpointLocation", str(tmp_path / "nsckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)

    frags = mf.read_manifest(out_uri).fragments
    assert len(frags) == 2                      # one per micro-batch
    assert all("_sb" in f.name for f in frags)  # batchId markers
    assert sorted(f.cell_num for f in frags) == [30, 50]
    rows = {r.k: r.v2 for r in
            spark.read.format("tiledb").load(out_uri).collect()}
    assert len(rows) == 80 and rows[79] == 158.0
    stage = os.path.join(out_uri, "__stream_stage")
    assert not os.path.exists(stage) or not os.listdir(stage)


def test_stream_native_sink_checkpoint_restart(arr, spark, tmp_path):
    """Restarting a writeStream.format('tiledb') query from its
    checkpoint after new source data arrives appends exactly the new
    batch's fragment — no duplicate fragments, no replayed rows."""
    from tiledb_py_spark import manifest as mf

    out_uri = str(tmp_path / "restart_sink")
    tdb.from_pandas(out_uri, pd.DataFrame(
        {"k": np.array([0], dtype=np.int64), "v2": [0.0]}),
        index_dims=["k"], mode="schema_only", full_domain=True)
    src_dir = tmp_path / "rsrc"
    src_dir.mkdir()
    pd.DataFrame({"k": np.arange(0, 20, dtype=np.int64),
                  "v2": np.zeros(20)}).to_parquet(src_dir / "b1.parquet")
    schema = spark.read.parquet(str(src_dir)).schema

    def run():
        q = (spark.readStream.schema(schema).parquet(str(src_dir))
             .writeStream.format("tiledb").option("path", out_uri)
             .option("checkpointLocation", str(tmp_path / "rsckpt"))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(120)

    run()
    assert len(mf.read_manifest(out_uri).fragments) == 1
    pd.DataFrame({"k": np.arange(20, 25, dtype=np.int64),
                  "v2": np.ones(5)}).to_parquet(src_dir / "b2.parquet")
    run()   # resumes from the checkpoint: only b2 is new
    frags = mf.read_manifest(out_uri).fragments
    assert [f.cell_num for f in frags] == [20, 5]
    ks = sorted(r.k for r in
                spark.read.format("tiledb").load(out_uri).collect())
    assert ks == list(range(25))   # every row exactly once


def test_stream_native_sink_replay_idempotent(arr, spark, tmp_path):
    """Exactly-once at the sink: commit() with a batchId already in
    the manifest (the sink-committed-then-crashed replay) publishes
    nothing and discards the re-staged pieces."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tiledb_py_spark import manifest as mf
    from tiledb_py_spark.sources.spark_datasource import (
        TileDBStreamWriter, _FragCommit)

    out_uri = str(tmp_path / "replay_sink")
    tdb.from_pandas(out_uri, pd.DataFrame(
        {"k": np.array([0], dtype=np.int64), "v2": [0.0]}),
        index_dims=["k"], mode="schema_only", full_domain=True)
    w = TileDBStreamWriter(out_uri)

    def stage(vals):
        os.makedirs(w.stage_dir, exist_ok=True)
        fn = f"piece-test{vals[0]}.parquet"
        pq.write_table(pa.table({
            "k": pa.array(vals, type=pa.int64()),
            "v2": pa.array([float(v) for v in vals])}),
            os.path.join(w.stage_dir, fn))
        return _FragCommit(file_name=fn, rows=len(vals))

    w.commit([stage([1, 2, 3])], batchId=7)
    v7 = mf.read_manifest(out_uri).version
    assert len(mf.read_manifest(out_uri).fragments) == 1
    # replay of batch 7: already-published marker -> no-op, pieces gone
    w.commit([stage([1, 2, 3])], batchId=7)
    m = mf.read_manifest(out_uri)
    assert m.version == v7 and len(m.fragments) == 1
    assert not os.listdir(w.stage_dir)
    # a NEW batch still publishes — and the publish sweeps orphan
    # pieces left by failed/speculative task attempts (staged but
    # never reported in messages)
    orphan = stage([99])
    w.commit([stage([4, 5])], batchId=8)
    assert len(mf.read_manifest(out_uri).fragments) == 2
    assert orphan.file_name not in os.listdir(w.stage_dir)
    # abort drops staged pieces without publishing
    msg = stage([9])
    w.abort([msg, None], batchId=9)
    assert not os.listdir(w.stage_dir)
    assert len(mf.read_manifest(out_uri).fragments) == 2


def test_stream_offsets_identity_bearing(arr, spark):
    """Stream offsets record the fragment NAME at the offset position
    (ADVICE r7): after a vacuum shrinks the fragment list and later
    commits grow it back past a checkpointed offset, the length-only
    check would pass but the positions now name DIFFERENT fragments —
    the reader must refuse rather than silently replay wrong rows."""
    import pandas as pd

    from tiledb_py_spark.fragment import consolidate, vacuum
    from tiledb_py_spark.sources.spark_datasource import TileDBStreamReader

    schema = spark.read.format("tiledb").load(arr).schema
    tdb.from_pandas(arr, pd.DataFrame(
        {"k": np.arange(1000, 1010, dtype=np.int64),
         "v": np.zeros(10)}), index_dims=["k"], mode="append")
    tdb.from_pandas(arr, pd.DataFrame(
        {"k": np.arange(2000, 2005, dtype=np.int64),
         "v": np.ones(5)}), index_dims=["k"], mode="append")

    r = TileDBStreamReader(arr, schema)
    ckpt = r.latestOffset()                      # i=3, frag=<third frag>
    assert ckpt["i"] == 3 and ckpt["frag"] is not None

    # consolidate + vacuum: 3 fragments -> 1; then grow back to 3
    consolidate(arr, spark=spark)
    vacuum(arr)
    tdb.from_pandas(arr, pd.DataFrame(
        {"k": np.arange(3000, 3002, dtype=np.int64),
         "v": np.zeros(2)}), index_dims=["k"], mode="append")
    tdb.from_pandas(arr, pd.DataFrame(
        {"k": np.arange(4000, 4002, dtype=np.int64),
         "v": np.zeros(2)}), index_dims=["k"], mode="append")

    latest = r.latestOffset()
    assert latest["i"] == 3                       # length check alone passes
    with pytest.raises(RuntimeError, match="rewritten"):
        r.partitions(ckpt, latest)

    # a fresh checkpoint over the rewritten list works fine
    fresh = {"i": 0, "frag": None}
    assert len(r.partitions(fresh, latest)) == 3
