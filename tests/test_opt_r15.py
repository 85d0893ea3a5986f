"""Round-15 optimization pins.

Materialization (operators/_mat.py) is a salted per-build persist
(columnar cache, recomputable lineage) with a bounded library-owned
registry.  The load-bearing property is CROSS-RUN HONESTY: rebuilding
the same operator in one session must NOT serve the previous build's
cached blocks — every build recomputes from its sources.  The registry
never touches a table the caller cached and keeps at most eight
entries live.
"""

import os

import pytest
from pyspark.sql import functions as F


def _family_df(spark):
    return spark.createDataFrame(
        [(i, f"tok{i % 7} tok{i % 3} tok{i % 5} tok{i % 7} tok{i % 3}")
         for i in range(200)],
        ["doc_id", "text"])


def test_materialize_rebuild_recomputes(spark, tmp_path):
    """A rebuild of the same materialized table must evict the previous
    build's cache entry and recompute from its sources — proven by a
    side-effecting UDF in the lineage: if the second build served the
    first build's cached blocks, the UDF would not run again."""
    from pyspark.sql.types import LongType

    from tiledb_py_spark.operators._mat import materialize

    assert os.environ.get("SPARK_GRAFT_MATERIALIZE", "persist") == "persist"
    marker_dir = str(tmp_path / "touch")
    os.makedirs(marker_dir, exist_ok=True)

    @F.udf(LongType())
    def touch(x):
        import os as _os
        import uuid as _uuid
        open(_os.path.join(marker_dir, _uuid.uuid4().hex), "w").close()
        return x

    def build():
        return materialize(
            spark.range(0, 64, 1, 2)
                 .select(touch((F.col("id") % 7)).alias("k"))
                 .groupBy("k").agg(F.count("*").alias("c")))

    d1 = build()
    assert d1.count() == 7  # materializes run 1's cache
    n1 = len(os.listdir(marker_dir))
    assert n1 >= 64

    d2 = build()  # fresh build: must have EVICTED run 1's entry
    assert d2.count() == 7
    n2 = len(os.listdir(marker_dir))
    assert n2 >= 2 * n1 - 8, \
        "rebuild adopted the previous build's computed cache"
    # within ONE build, consumers share the cache: a second action on
    # d2 must NOT recompute
    assert d2.count() == 7
    assert len(os.listdir(marker_dir)) == n2, \
        "second action on the same build recomputed instead of reusing"
    d2.unpersist(True)


def test_materialize_family_results_identical_across_modes(spark,
                                                           monkeypatch):
    """Materialized and un-materialized builds must produce the same
    operator results.  Discrete outputs (ids, counts, strings) must be
    exactly equal; floating-point aggregates are compared at 1e-12
    relative — the materialization point changes double-summation
    ORDER (measured max 4.4e-16 here), which the oracle gate's
    tolerance also absorbs."""
    from tiledb_py_spark.operators import dedup, text

    df = _family_df(spark)

    def run():
        return (sorted(text.unigram_surprisal(df, "text", "doc_id")
                       .collect()),
                sorted(dedup.remove_repeated_lines(df, "text", "doc_id")
                       .collect()))

    ref_a, ref_b = run()
    with monkeypatch.context() as m:
        m.setattr(text, "materialize", lambda d: d)
        m.setattr(dedup, "materialize", lambda d: d)
        a, b = run()
    assert b == ref_b  # line-dedup output is discrete: exact
    assert len(a) == len(ref_a)
    for x, y in zip(a, ref_a):
        assert (x.doc_id, x.n_tokens) == (y.doc_id, y.n_tokens)
        assert x.surprisal == pytest.approx(y.surprisal, rel=1e-12)


def _persistent_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_materialize_keeps_caller_cache(spark):
    """A table the CALLER persisted must stay cached when an operator
    materializes a structurally identical plan."""
    from tiledb_py_spark.operators._mat import materialize

    def plan():
        return (spark.range(0, 50, 1, 2)
                     .select((F.col("id") % 5).alias("k"))
                     .groupBy("k").agg(F.count("*").alias("c")))

    before = _persistent_rdd_ids(spark)
    mine = plan().persist()
    try:
        assert mine.count() == 5
        caller = _persistent_rdd_ids(spark) - before
        assert caller
        lib = materialize(plan())
        assert lib.count() == 5
        assert caller <= _persistent_rdd_ids(spark), \
            "materialize evicted the caller's cached table"
    finally:
        mine.unpersist(True)


def test_materialize_entries_bounded(spark):
    """100 distinct builds, each forced by an action, leave at most
    eight library entries live — in Spark's persistent-RDD registry and
    in the materialized/evicted counters."""
    import json

    from tiledb_py_spark import stats
    from tiledb_py_spark.operators._mat import materialize

    was_enabled = stats.stats_enabled()
    stats.stats_enable()
    stats.stats_reset()
    try:
        before = _persistent_rdd_ids(spark)
        for i in range(100):
            t = materialize(spark.range(0, i + 1, 1, 1)
                                 .select((F.col("id") * 2).alias("x")))
            assert t.count() == i + 1
        assert len(_persistent_rdd_ids(spark) - before) <= 8
        c = json.loads(stats.stats_dump(print_out=False, json=True))
        assert c["py.mat.materialized"] == 100
        assert c["py.mat.materialized"] - c["py.mat.evicted"] <= 8
    finally:
        stats.stats_reset()
        if not was_enabled:
            stats.stats_disable()


def test_sig_band_keys_string_path_matches_column_path(spark):
    """The unrolled one-parse band-key expression must equal the
    Column-API tree in values (plan equality was verified at change
    time; values are the contract)."""
    from tiledb_py_spark.operators.dedup import _sig_band_keys

    df = spark.range(5).select(
        F.array(*[F.col("id") * i for i in range(64)]).alias("__sig"))
    a = df.select(_sig_band_keys(F.col("__sig"), 64, 16).alias("k")).collect()
    b = df.select(_sig_band_keys("__sig", 64, 16).alias("k")).collect()
    assert a == b


def test_bucket_index_sql_tree_matches_hof_fold(spark):
    """The SQL-snippet (binary-IF-tree codegen) form of bucket_index
    must equal the Column (array-filter fold) form on every edge:
    nulls (contract: bucket 0), duplicate cuts, string cuts containing
    quotes/backslashes, weird column names, and the non-finite-cut
    fallback."""
    from tiledb_py_spark.operators.stats_bounds import (
        _quote_ident, bucket_index, monotonic_view, monotonic_view_sql)

    df = spark.createDataFrame(
        [(float(x),) for x in range(10)] + [(None,)], ["d"])
    fb = [1.5, 3.0, 3.0, 7.25]
    assert (df.select(bucket_index(F.col("d"), fb).alias("b")).collect()
            == df.select(bucket_index("`d`", fb).alias("b")).collect())

    sdf = spark.createDataFrame(
        [("apple",), ("bob's",), ("c\\d",), (None,), ("zz",)], ["s"])
    sb = ["b", "bob's", "c\\a"]
    assert (sdf.select(bucket_index(F.col("s"), sb).alias("b")).collect()
            == sdf.select(bucket_index(_quote_ident("s"), sb).alias("b"))
                  .collect())

    tdf = spark.sql(
        "select timestamp'2024-01-01' + make_interval(0,0,0,0,id,0,0) as ts"
        " from range(5) union all select null")
    cuts = [1.7040e15, 1.70401e15]
    assert (tdf.select(bucket_index(
                monotonic_view("ts", "timestamp"), cuts).alias("b")).collect()
            == tdf.select(bucket_index(
                monotonic_view_sql("ts", "timestamp"), cuts).alias("b"))
                  .collect())

    wdf = spark.createDataFrame([(1.0,), (0.2,)], ["we`ird col"])
    assert (wdf.select(bucket_index(
                monotonic_view_sql("we`ird col", "double"), [0.5]).alias("b"))
               .collect()
            == wdf.select(bucket_index(
                F.col("`we``ird col`").cast("double"), [0.5]).alias("b"))
                  .collect())

    nf = [float("-inf"), 2.0]
    assert (df.select(bucket_index(F.col("d"), nf).alias("b")).collect()
            == df.select(bucket_index("`d`", nf).alias("b")).collect())

    # UNSORTED cuts: the documented contract (count of cuts strictly
    # below d) is order-independent; the tree must sort internally
    un = [5.0, 1.0, 3.0]
    assert (df.select(bucket_index(F.col("d"), un).alias("b")).collect()
            == df.select(bucket_index("`d`", un).alias("b")).collect())
    uns = ["m", "a", "f"]
    assert (sdf.select(bucket_index(F.col("s"), uns).alias("b")).collect()
            == sdf.select(bucket_index(_quote_ident("s"), uns).alias("b"))
                  .collect())


def test_bucket_index_string_tree_under_escaped_string_literals(spark):
    """String cuts in the IF tree must bucket like the fold whatever the
    session's ``escapedStringLiterals`` parser setting is."""
    from tiledb_py_spark.operators.stats_bounds import (
        _quote_ident, bucket_index)

    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        sdf = spark.createDataFrame(
            [("bob(",), ("c\\]",), ("a",), ("",)], ["s"])
        cuts = ["bob's", "c\\a", ""]
        fold = sdf.select(bucket_index(F.col("s"), cuts).alias("b")).collect()
        tree = sdf.select(bucket_index(_quote_ident("s"), cuts).alias("b")
                          ).collect()
        assert [r.b for r in fold] == [2, 2, 1, 0]
        assert tree == fold
    finally:
        spark.conf.set(key, prev)


def test_bucket_index_expr_array_matches_lit_array(spark):
    """The parsed-literal bounds array must bucket identically to the
    F.lit form, including negative/scientific-notation cuts."""
    from tiledb_py_spark.operators.stats_bounds import bucket_index

    bounds = [-1.5, -2.25e-3, 0.0, 1e-05, 3.7754, 1e22]
    df = spark.range(9).select((F.col("id") * 1.7 - 3).alias("d"))
    new = df.select(bucket_index(F.col("d"), bounds).alias("b")).collect()
    old_arr = F.array(*[F.lit(float(b)) for b in bounds])
    old = df.select(
        F.size(F.filter(old_arr, lambda bd: F.col("d") > bd)).alias("b")
    ).collect()
    assert new == old
