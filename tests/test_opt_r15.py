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


def _assert_buckets_match_model(df, snippet, cuts):
    """bucket_index(snippet, cuts) on every row equals the plain-Python
    model applied to the row's value of ``snippet``."""
    from reference_models import bucket_index_model

    from tiledb_py_spark.operators.stats_bounds import bucket_index

    rows = df.select(F.expr(snippet).alias("x"),
                     bucket_index(snippet, cuts).alias("b")).collect()
    assert rows
    assert [r.b for r in rows] == [bucket_index_model(r.x, cuts)
                                   for r in rows], (snippet, cuts)
    return [r.b for r in rows]


def test_bucket_index_sql_tree_matches_hof_fold(spark):
    """The binary-IF-tree bucket_index equals the reference model on
    every edge: nulls (contract: bucket 0), duplicate and unsorted cuts,
    +-inf and NaN cuts, a NaN value, string cuts containing
    quotes/backslashes, weird column names and timestamps.  A Column
    ``d`` is refused, naming the SQL-snippet form."""
    from tiledb_py_spark.operators.stats_bounds import (
        _quote_ident, bucket_index, monotonic_view_sql)

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [(float(x),) for x in range(10)] + [(None,), (nan,), (inf,),
                                            (-inf,)], "d double")
    for cuts in ([1.5, 3.0, 3.0, 7.25], [5.0, 1.0, 3.0],
                 [-inf, 2.0], [nan, inf, -inf, 2.0], [nan, nan, 4.0],
                 [inf, 8.0]):
        _assert_buckets_match_model(df, "`d`", cuts)
    # NaN is greatest: a NaN value sits above every non-NaN cut, and
    # NaN > NaN is false
    got = _assert_buckets_match_model(df, "`d`", [nan, inf, -inf, 2.0])
    assert got[-4:] == [0, 3, 2, 0]

    sdf = spark.createDataFrame(
        [("apple",), ("bob's",), ("c\\d",), (None,), ("zz",), ("é",)], ["s"])
    for cuts in (["b", "bob's", "c\\a"], ["m", "a", "f"], ["é", "z"]):
        _assert_buckets_match_model(sdf, _quote_ident("s"), cuts)

    tdf = spark.sql(
        "select timestamp'2024-01-01' + make_interval(0,0,0,0,id,0,0) as ts"
        " from range(5) union all select null")
    _assert_buckets_match_model(
        tdf, monotonic_view_sql("ts", "timestamp"), [1.7040e15, 1.70401e15])

    wdf = spark.createDataFrame([(1.0,), (0.2,)], ["we`ird col"])
    assert _assert_buckets_match_model(
        wdf, monotonic_view_sql("we`ird col", "double"), [0.5]) == [1, 0]

    with pytest.raises(TypeError, match="SQL snippet"):
        bucket_index(F.col("d"), [1.0])


def test_bucket_index_string_tree_under_escaped_string_literals(spark):
    """String cuts in the IF tree bucket like the model whatever the
    session's ``escapedStringLiterals`` parser setting is."""
    from tiledb_py_spark.operators.stats_bounds import _quote_ident

    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key, "false")
    spark.conf.set(key, "true")
    try:
        sdf = spark.createDataFrame(
            [("bob(",), ("c\\]",), ("a",), ("",)], ["s"])
        got = _assert_buckets_match_model(
            sdf, _quote_ident("s"), ["bob's", "c\\a", ""])
        assert got == [2, 2, 1, 0]
        df = spark.createDataFrame([(float("nan"),), (1.0,)], "d double")
        _assert_buckets_match_model(df, "`d`", [float("nan"), float("-inf")])
    finally:
        spark.conf.set(key, prev)


def test_bucket_index_expr_array_matches_lit_array(spark):
    """Negative and scientific-notation double cuts render as literals
    that bucket like the model."""
    bounds = [-1.5, -2.25e-3, 0.0, 1e-05, 3.7754, 1e22]
    df = spark.range(9).select((F.col("id") * 1.7 - 3).alias("d"))
    _assert_buckets_match_model(df, "`d`", bounds)
