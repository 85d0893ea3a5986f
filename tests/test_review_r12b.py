"""Round-12 review fixes, batch 3: events.py Arrow carry paths
(NaN keys, per-group prune, wide-span fallback), >12-digit attribution
ids, NaN-std guard, idempotent stream sink, asof NULL times, and group
handle/delete state hygiene."""

import contextlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import tiledb_py_spark as tdb


@contextlib.contextmanager
def _conf(spark, key, value):
    old = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_ewma_null_key_across_arrow_batches(spark):
    """A NULL entity key spans 2-row Arrow batches: the carry-key
    equality must treat NaN == NaN (pandas delivers NULL bigint keys
    as float64 NaN), or the recurrence silently restarts mid-series."""
    from reference_models import ewma_model

    from tiledb_py_spark.streaming.events import ewma

    rows = []
    for i in range(9):
        rows.append((None, i, f"2020-01-01 00:{i:02d}:00", float(i)))
    rows.append((1, 100, "2020-01-01 01:00:00", 5.0))
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, value double") \
        .selectExpr("user_id", "event_id", "cast(ts as timestamp) ts",
                    "value")
    want = {eid: w for (_u, eid), w in
            ewma_model([(u, ts, eid, v) for u, eid, ts, v in rows],
                       alpha=0.3).items()}
    with _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch", "2"):
        got = {r.event_id: r.ewma
               for r in ewma(df, "value", alpha=0.3).collect()}
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, (k, got[k], want[k])


_ATTR_KW = dict(touch_types=["view", "click"], conversion_type="purchase",
                lookback="1 minute")


def _attr_df(spark, rows):
    return spark.createDataFrame(
        rows, "user_id long, event_id long, event_type string, ts string") \
        .selectExpr("user_id", "event_id", "event_type",
                    "cast(ts as timestamp) ts")


def _attr_model(df):
    from reference_models import attribution_events, attribution_model

    return attribution_model(attribution_events(df),
                             _ATTR_KW["touch_types"],
                             _ATTR_KW["conversion_type"], 60_000_000)


def test_attribution_carry_prunes_per_group_not_batch_global(spark):
    """The carried touch window must prune against the LAST GROUP's own
    max time — an earlier group in the same Arrow batch with far later
    timestamps discarded the whole carry, silently unattributing the
    spanning group's conversion."""
    from tiledb_py_spark.streaming.events import attribution

    rows = [
        (1, 1, "view", "2024-01-01 10:00:00"),
        (1, 2, "view", "2024-01-01 10:00:05"),
        (1, 3, "purchase", "2024-01-01 10:00:30"),
        (9, 4, "view", "2024-01-01 00:00:01"),     # hours EARLIER
        (9, 5, "purchase", "2024-01-01 00:00:30"),
    ]
    df = _attr_df(spark, rows)
    want = _attr_model(df)
    with _conf(spark, "spark.sql.shuffle.partitions", "1"), \
            _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch",
                  "2"):
        got = {tuple(r) for r in
               attribution(df, **_ATTR_KW).collect()}
    assert got == want
    assert any(r[1] == 5 for r in got)   # user 9's conversion attributed


def test_attribution_null_key_across_batches(spark):
    """NULL-key conversions keep their carried touches across Arrow
    batch boundaries (NaN != NaN broke the carry equality)."""
    from tiledb_py_spark.streaming.events import attribution

    rows = [(None, i, "view", f"2024-01-01 00:00:{i:02d}")
            for i in range(1, 5)]
    rows.append((None, 9, "purchase", "2024-01-01 00:00:20"))
    rows.append((3, 10, "view", "2024-01-01 00:05:00"))
    df = _attr_df(spark, rows)
    want = _attr_model(df)
    with _conf(spark, "spark.sql.shuffle.partitions", "1"), \
            _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch",
                  "2"):
        got = {tuple(r) for r in
               attribution(df, **_ATTR_KW).collect()}
    assert got == want and len(got) == 1


def test_attribution_wide_span_fallback_keeps_carry(spark):
    """A batch whose (groups x span) composite key would overflow int64
    takes the per-group fallback — which must still honor the carried
    touch window (it ignored it entirely pre-r12).  ~300 single-row
    groups spanning 1680..2260 make (n_groups+2)*span_us exceed 2^62
    while every timestamp stays inside pandas' ns range; batch sizing
    puts user 0's touch at the END of batch 1 and its conversion at
    the START of the wide batch 2."""
    from tiledb_py_spark.streaming.events import attribution

    rows = []
    # 299 filler groups sorting BEFORE user 0 fill batch 1
    for u in range(-299, 0):
        rows.append((u, 1000 - u, "view", "2024-01-01 00:10:00"))
    rows.append((0, 1, "view", "2024-01-01 00:00:01"))    # row 300
    rows.append((0, 2, "purchase", "2024-01-01 00:00:30"))  # batch 2 head
    # 299 groups after user 0, with extreme-but-pandas-safe span
    for u in range(1, 300):
        ts = {1: "1680-01-01 00:00:00", 299: "2260-01-01 00:00:00"} \
            .get(u, "2024-01-01 00:20:00")
        rows.append((u, 2000 + u, "view", ts))
    df = _attr_df(spark, rows)
    want = _attr_model(df)
    with _conf(spark, "spark.sql.shuffle.partitions", "1"), \
            _conf(spark, "spark.sql.execution.arrow.maxRecordsPerBatch",
                  "300"):
        got = {tuple(r) for r in
               attribution(df, **_ATTR_KW).collect()}
    assert got == want
    assert any(r[1] == 2 for r in got)   # carried view attributed


def test_attribution_window_impl_large_ids(spark):
    """Snowflake-scale (>12 digit) event ids come back whole, from the
    operator and from the DuckDB oracle's window form, whose composite
    (ts_us, id) string key truncated them at a 12-char lpad."""
    import duckdb

    import __spark_entry__ as entry
    from tiledb_py_spark.streaming.events import attribution

    base = 7_000_000_000_000_000_00   # 18 digits
    rows = [(1, base + 1, "view", "2024-01-01 00:00:01"),
            (1, base + 2, "click", "2024-01-01 00:00:05"),
            (1, base + 9, "purchase", "2024-01-01 00:00:30")]
    df = _attr_df(spark, rows)
    out = attribution(df, **_ATTR_KW).collect()
    assert len(out) == 1
    assert out[0].first_touch_id == base + 1
    assert out[0].last_touch_id == base + 2
    assert {tuple(r) for r in out} == _attr_model(df)
    events = pd.DataFrame(rows, columns=["user_id", "event_id",
                                         "event_type", "ts"]) \
        .astype({"ts": "datetime64[us]"})
    con = duckdb.connect()
    con.register("events", events)
    oracle = con.execute(entry.oracle_sql()["attribution"]).fetchall()
    assert [(r[1], r[3], r[4]) for r in oracle] \
        == [(base + 9, base + 1, base + 2)]


def test_rolling_anomaly_min_periods_one_no_nan_flags(spark):
    """min_periods=1: an n=1 frame's 0/0 std is NaN, and Spark's
    NaN > 0 is true — rows must not be flagged with NaN z-scores."""
    from tiledb_py_spark.streaming.events import rolling_anomaly

    rows = [(1, i, f"2024-01-01 00:{i:02d}:00", v)
            for i, v in enumerate([10.0, 10.5, 10.2, 99.0])]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts string, value double") \
        .selectExpr("user_id", "event_id", "cast(ts as timestamp) ts",
                    "value")
    for vd in (None, 2):
        out = rolling_anomaly(df, min_periods=1, threshold=3.0,
                              value_decimals=vd).collect()
        assert [r.event_id for r in out] == [3]      # only the spike
        assert all(not np.isnan(r.zscore) for r in out)


def test_stream_events_to_array_replayed_batch_idempotent(tmp_path, spark):
    """A micro-batch replayed after a crash (fragment committed,
    checkpoint not advanced) must not commit duplicate rows: the
    fragment name embeds the batch id and the sink skips known ids."""
    import pandas as pd

    from tiledb_py_spark import manifest as mf
    from tiledb_py_spark.streaming.events import stream_events_to_array

    uri = str(tmp_path / "sink")
    tdb.from_pandas(uri, pd.DataFrame(
        {"event_id": np.array([0], dtype=np.int64), "v": [0.0]}),
        index_dims=["event_id"], mode="schema_only", full_domain=True)
    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"event_id": np.arange(5, dtype=np.int64),
                  "v": np.ones(5)}).to_parquet(src / "b1.parquet")
    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))
    q = stream_events_to_array(stream, uri, str(tmp_path / "ck1"))
    q.awaitTermination(120)
    assert len(mf.read_manifest(uri).fragments) == 1
    # replay batch 0 with a FRESH checkpoint (same batch id): skipped
    q = stream_events_to_array(
        spark.readStream.schema(schema).parquet(str(src)),
        uri, str(tmp_path / "ck2"))
    q.awaitTermination(120)
    assert len(mf.read_manifest(uri).fragments) == 1
    out = tdb.open(uri, spark=spark).dataframe()
    assert out.count() == 5


def test_asof_keyed_null_times_unmatched(spark):
    """NULL-time right rows never match (they sorted as time minus
    infinity in the keyed path); NULL-time left rows come back
    unmatched in BOTH directions."""
    from pyspark.sql import functions as F

    from tiledb_py_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, None, "b")], "k long, t long, lv string")
    right = spark.createDataFrame(
        [(1, None, "rnull"), (1, 3, "r3")], "k long, t long, rv string")
    for direction in ("backward", "forward"):
        out = {r.lv: (r.rv_right, r.t_right) for r in
               asof_join(left, right, on="t", by=["k"],
                         direction=direction).collect()}
        assert out["b"] == (None, None), direction
        if direction == "backward":
            assert out["a"] == ("r3", 3)
        else:
            assert out["a"] == (None, None)   # no right row at t >= 5


def test_pagerank_null_edges_sum_to_one(spark):
    """NULL edge endpoints are not nodes — equality joins drop their
    contributions, leaking rank mass every iteration (the sum-to-1
    invariant the gate asserts).  They are filtered up front."""
    from tiledb_py_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, None), (None, 2)],
        "src long, dst long")
    out = pagerank(edges, n_iter=5).collect()
    assert {r.node for r in out} == {1, 2, 3}       # NULL is not a node
    assert abs(sum(r.rank for r in out) - 1.0) < 1e-9


def test_bpe_encode_splitter_matches_training():
    """The Python encode UDFs split on ASCII \\s+ exactly like the
    Spark-side (Java regex) training tokenizer — str.split() would
    break on Unicode whitespace, encoding words never seen in
    training."""
    from tiledb_py_spark.operators.bpe import _train_ws_split

    nbsp = "foo\u00a0bar"
    assert _train_ws_split(nbsp) == [nbsp]      # ONE word, like training
    assert nbsp.split() == ["foo", "bar"]       # the old skew
    assert _train_ws_split(" foo\tbar\n") == ["foo", "bar"]
    assert _train_ws_split("") == []


def test_tokens_lower_no_phantom_empty_token(spark):
    from tiledb_py_spark.operators.retrieval import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, "!!!")], "doc_id long, text string")
    out = tfidf_top_terms(df, "text", "doc_id", k=3)
    terms = {(r.doc_id, r.term) for r in out.collect()}
    assert all(t != "" for _, t in terms)   # no phantom '' term
    assert (1, "alpha") in terms and not any(d == 2 for d, _ in terms)


def test_rrf_fuse_empty_rankings_refused(spark):
    from tiledb_py_spark.operators.retrieval import rrf_fuse

    with pytest.raises(ValueError, match="non-empty"):
        rrf_fuse({})


def test_label_classifier_boolean_roundtrip_and_empty_refusal(spark):
    from tiledb_py_spark.operators.classifier import (fit_label_classifier,
                                                      label_predict)

    rows = [(f"doc {'spam' * (i % 2)} words {i}", bool(i % 2))
            for i in range(60)]
    df = spark.createDataFrame(rows, "text string, is_spam boolean")
    m = fit_label_classifier(df, "text", "is_spam", max_iter=10)
    pred = label_predict(df, "text", m, out_col="pred")
    assert dict(pred.dtypes)["pred"] == "boolean"    # same type back
    # the contract the old long output broke under ANSI:
    agree = pred.filter(F.col("pred") == F.col("is_spam")).count()
    assert agree > 30
    # all-NULL labels refuse loudly instead of a degenerate model
    nulls = spark.createDataFrame(
        [("x", None)], "text string, is_spam boolean")
    with pytest.raises(ValueError, match="no labeled rows"):
        fit_label_classifier(nulls, "text", "is_spam")


def test_whitespace_tokens_no_edge_phantoms(spark):
    """trim() strips only 0x20 and split keeps edge empties, so text
    with leading/trailing NON-SPACE whitespace counted phantom ''
    tokens ('hello world\\n' -> 3).  One split + array_remove fixes
    every consumer (token counts, chunking, grams, min_words)."""
    from tiledb_py_spark.operators.text import (whitespace_token_count,
                                                whitespace_tokens)

    df = spark.createDataFrame(
        [("hello world\n",), ("\n",), ("a\tb",), ("  x  ",), ("",)],
        "text string")
    got = df.select(whitespace_tokens("text").alias("t"),
                    whitespace_token_count("text").alias("n")).collect()
    assert [r.t for r in got] == [["hello", "world"], [], ["a", "b"],
                                  ["x"], []]
    assert [r.n for r in got] == [2, 0, 2, 1, 0]


def test_exact_dedup_normalize_without_id_col(spark):
    from tiledb_py_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [("Foo Bar!",), ("foo  bar",), ("baz",)], "text string")
    out = exact_dedup(df, ["text"], normalize=True)
    assert out.count() == 2          # the two variants collapse
    assert exact_dedup(df, ["text"]).count() == 3   # raw: all distinct


def test_repetition_stats_impls_agree_on_unicode_whitespace(spark):
    """Spark's JAVA-regex semantics, checked against the reference
    model: ASCII-only \\s+ (NBSP and U+2028 stay inside a token),
    space-only line trim (a tab-only line counts), NULL text scores as
    an empty document."""
    from reference_models import (assert_rows_match_model,
                                  repetition_stats_model)

    from tiledb_py_spark.operators.text import repetition_stats

    docs = [(1, "real line one two\n  \t  \nreal line one two"),
            (2, "foo bar foo bar plain words here\n"),
            (3, None),
            (4, "a\u2028b c")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = {r.doc_id: r.asDict() for r in
         repetition_stats(df, "text").collect()}
    assert_rows_match_model(
        a, {k: repetition_stats_model(t) for k, t in docs})
    assert a[1]["r_n_lines"] == 3             # the tab-only line IS a line
    assert a[4]["r_top2gram_char_frac"] == 1.0   # 2 tokens, not 3


def test_minhash_band_geometry_validated(spark):
    from tiledb_py_spark.operators.dedup import minhash_dedup

    df = spark.createDataFrame([(1, "a b c d e")], "id long, text string")
    with pytest.raises(ValueError, match="must be in"):
        minhash_dedup(df, "text", "id", num_perm=32, bands=64).collect()
    with pytest.raises(ValueError, match="divide"):
        minhash_dedup(df, "text", "id", num_perm=64, bands=24).collect()


def test_quality_features_null_text_scores_empty(spark):
    from tiledb_py_spark.operators.text import quality_features

    df = spark.createDataFrame([(1, None), (2, "real words here")],
                               "doc_id long, text string")
    r = {x.doc_id: x for x in quality_features(df, "text").collect()}
    assert r[1].q_n_tokens == 0 and r[1].q_n_chars == 0
    assert r[1].q_stopword_ratio == 0.0 and r[1].q_punct_ratio == 0.0
    assert r[2].q_n_tokens == 3


def test_incremental_neardup_state_cap_still_drops(tmp_path, spark):
    """A binding state_bucket_cap keeps the smallest-id members of a
    hot band bucket — enough to witness every subsequent drop."""
    import tempfile

    from tiledb_py_spark.operators.dedup import incremental_neardup

    state = str(tmp_path / "state")
    same = "identical boilerplate text repeated verbatim in every doc"
    b1 = spark.createDataFrame([(i, same) for i in range(4)],
                               "doc_id long, text string")
    out1 = incremental_neardup(b1, "text", "doc_id", state,
                               state_bucket_cap=1)
    assert out1.count() == 1          # within-batch dedup keeps min id
    b2 = spark.createDataFrame([(10, same), (11, "completely different "
                                                 "fresh content now")],
                               "doc_id long, text string")
    out2 = incremental_neardup(b2, "text", "doc_id", state,
                               state_bucket_cap=1)
    got = sorted(r.doc_id for r in out2.collect())
    assert got == [11]                # the state dup dropped despite cap=1


def _mk(tmp_path, spark, pdf, name="arr", **kw):
    uri = str(tmp_path / name)
    tdb.from_pandas(uri, pdf, **kw)
    return tdb.open(uri, spark=spark)


def test_agg_nullable_all_null_reference_shapes(tmp_path, spark):
    """Reference validity rule (core.cc:466-485): a nullable attr with
    ZERO valid values returns None (integer dtypes) / NaN (float) from
    sum/min/max/mean — not the empty-set defaults (sum returned 0)."""
    import math

    pdf = pd.DataFrame({"k": [0, 1],
                        "i": pd.array([None, None], dtype="Int64"),
                        "f": pd.array([None, None], dtype="Float64")})
    A = _mk(tmp_path, spark, pdf, index_dims=["k"], full_domain=True)
    r = A.query(attrs=["i", "f"]).agg(["sum", "mean", "min", "count"])[:]
    assert r["i"]["sum"] is None and r["i"]["mean"] is None
    assert r["i"]["min"] is None and r["i"]["count"] == 2
    assert math.isnan(r["f"]["sum"]) and math.isnan(r["f"]["mean"])
    # a nullable attr WITH valid values keeps normal results
    pdf2 = pd.DataFrame({"k": [0, 1],
                         "i": pd.array([3, None], dtype="Int64")})
    A2 = _mk(tmp_path, spark, pdf2, name="arr2", index_dims=["k"],
             full_domain=True)
    assert A2.query(attrs=["i"]).agg("sum")[:] == 3


def test_agg_bool_attr_sum_mean(tmp_path, spark):
    pdf = pd.DataFrame({"k": [0, 1, 2], "b": [True, False, True]})
    A = _mk(tmp_path, spark, pdf, index_dims=["k"], full_domain=True)
    r = A.query(attrs=["b"]).agg(["sum", "mean"])[:]
    assert r["sum"] == 2 and abs(r["mean"] - 2 / 3) < 1e-12


def test_agg_over_dimension_column(tmp_path, spark):
    pdf = pd.DataFrame({"k": [2, 5, 9], "v": [1.0, 2.0, 3.0]})
    A = _mk(tmp_path, spark, pdf, index_dims=["k"], full_domain=True)
    r = A.query(attrs=["k"]).agg("sum")[:]
    assert r == 16 and isinstance(r, int)     # int dim -> int, not float
    # dense arrays don't KeyError on dim aggregates either
    dpdf = pd.DataFrame({"v": [1.0, 2.0, 3.0]})
    D = _mk(tmp_path, spark, dpdf, name="dense")
    rd = D.query(attrs=["__tiledb_rows"]).agg("max")[:]
    assert rd == 2


def test_agg_dotted_attr_name(tmp_path, spark):
    pdf = pd.DataFrame({"k": [0, 1], "a.b": [1.5, 2.5]})
    A = _mk(tmp_path, spark, pdf, index_dims=["k"], full_domain=True)
    assert A.query(attrs=["a.b"]).agg("sum")[:] == 4.0


def test_dense_point_list_selection(tmp_path, spark):
    """A[[1,3]] on a dense array routes through the multirange read
    (axes follow selection order) instead of IndexError."""
    pdf = pd.DataFrame({"v": [10.0, 11.0, 12.0, 13.0, 14.0]})
    A = _mk(tmp_path, spark, pdf)
    assert A[[1, 3]].tolist() == [11.0, 13.0]
    assert A[[3, 1]].tolist() == [13.0, 11.0]   # selection order kept
    with pytest.raises(NotImplementedError, match="write_subarray"):
        with tdb.open(str(tmp_path / "arr"), mode="w",
                      spark=spark) as W:
            W[[0, 2]] = {"v": np.array([0.0, 0.0])}


def test_read_subarray_negative_domain_coords(tmp_path, spark):
    """Explicit Subarray ranges are DOMAIN values: negative bounds must
    not wrap as relative numpy indices (the simple dense path did)."""
    import numpy as np

    uri = str(tmp_path / "neg")
    from tiledb_py_spark.schema import ArraySchema, Attr, Dim, Domain

    schema = ArraySchema(
        domain=Domain(Dim(name="x", domain=(-10, 10), tile=5,
                          dtype=np.int64)),
        attrs=[Attr(name="v", dtype=np.float64)], sparse=False)
    from tiledb_py_spark.array import Array

    Array.create(uri, schema)
    with tdb.open(uri, mode="w", spark=spark) as W:
        wsub = tdb.Subarray(W)
        wsub.add_dim_range(0, (-10, 10))   # S14: domain values
        W.write_subarray(wsub, np.arange(21, dtype="float64"))
    A = tdb.open(uri, spark=spark)
    sub = tdb.Subarray(A)
    sub.add_dim_range(0, (-3, -1))
    got = A.read_subarray(sub)
    assert got["v"].tolist() == [7.0, 8.0, 9.0]   # cells -3..-1


def test_dense_query_options_honored_or_refused(tmp_path, spark):
    pdf = pd.DataFrame({"v": [1.0, 2.0, 3.0]})
    A = _mk(tmp_path, spark, pdf)
    import pyarrow as pa

    t = A.query(return_arrow=True)[:]
    assert isinstance(t, pa.Table) and t.column("v").to_pylist() == \
        [1.0, 2.0, 3.0]
    with pytest.raises(NotImplementedError, match="return_incomplete"):
        A.query(return_incomplete=True)[:]
    f = A.query(order="F")[:]
    assert f.flags["F_CONTIGUOUS"]


def test_group_stale_handle_does_not_clobber(tmp_path):
    """Mutations through one handle must not revert changes made
    through another handle since open — including the consolidated
    metadata base (which vacuum then makes unrecoverable)."""
    from tiledb_py_spark.group import Group

    uri = str(tmp_path / "grp")
    sub = str(tmp_path / "member")
    tdb.from_pandas(sub, pd.DataFrame({"k": [0], "v": [1.0]}),
                    index_dims=["k"])
    Group.create(uri)
    g = Group(uri, "w")                   # stale handle
    g2 = Group(uri, "w")
    g2.meta["k"] = 1                       # delta file
    Group.consolidate_metadata(uri)        # folds into the base
    g.add(sub, name="m1")                  # pre-r12: reverted the fold
    Group.vacuum_metadata(uri)             # deletes the delta files
    g3 = Group(uri)
    assert g3.meta["k"] == 1               # survived fold+vacuum
    assert len(g3) == 1                    # and the member landed


def test_group_two_writers_both_members_land(tmp_path):
    from tiledb_py_spark.group import Group

    uri = str(tmp_path / "grp")
    a1 = str(tmp_path / "a1")
    a2 = str(tmp_path / "a2")
    for u in (a1, a2):
        tdb.from_pandas(u, pd.DataFrame({"k": [0], "v": [1.0]}),
                        index_dims=["k"])
    Group.create(uri)
    g1 = Group(uri, "w")
    g2 = Group(uri, "w")
    g1.add(a1, name="first")
    g2.add(a2, name="second")              # pre-r12: clobbered 'first'
    assert {m.name for m in Group(uri)} == {"first", "second"}


def test_indexing_datetime_ndarray_points(tmp_path, spark):
    """datetime64 ndarray selections keep their element type — the old
    .tolist() degraded them to raw int nanoseconds, silently selecting
    nothing (range IR) or raising (multi_index's datetime guard)."""
    ts = pd.date_range("2024-01-01", periods=5, freq="D") \
        .astype("datetime64[ns]")
    pdf = pd.DataFrame({"t": ts, "v": np.arange(5.0)})
    uri = str(tmp_path / "arr")
    tdb.from_pandas(uri, pdf, index_dims=["t"])
    A = tdb.open(uri, spark=spark)
    sel = np.array(["2024-01-02", "2024-01-04"], dtype="datetime64[ns]")
    out = A.multi_index[sel]
    assert sorted(out["v"].tolist()) == [1.0, 3.0]
    # 2-tuple (lo, hi) ranges inside list selections (reference
    # iter_ranges) work alongside scalars
    out2 = A.multi_index[[(np.datetime64("2024-01-01"),
                           np.datetime64("2024-01-02")),
                          np.datetime64("2024-01-05")]]
    assert sorted(out2["v"].tolist()) == [0.0, 1.0, 4.0]
    # below-domain datetime slice start raises like the reference
    with pytest.raises(IndexError, match="out of bounds"):
        A[np.datetime64("1999-01-01"):np.datetime64("2024-01-03")]


def test_indexing_float_dim_integer_stop_half_open(tmp_path, spark):
    """The reference keys half-open vs inclusive on the STOP value's
    type: an integer stop keeps numpy semantics even on a float dim
    (A[0:4] selects [0, 3], not everything in [0.0, 4.0])."""
    pdf = pd.DataFrame({"x": [3.0, 3.5, 4.0], "v": [1.0, 2.0, 3.0]})
    uri = str(tmp_path / "arr")
    tdb.from_pandas(uri, pdf, index_dims=["x"])
    A = tdb.open(uri, spark=spark)
    assert A[3:4]["v"].tolist() == [1.0]                  # [3.0, 3.0]
    assert sorted(A[3:5]["v"].tolist()) == [1.0, 2.0, 3.0]
    assert sorted(A[3.0:4.0]["v"].tolist()) == [1.0, 2.0, 3.0]
    assert A[3]["v"].tolist() == [1.0]                     # scalar int
    # huge half-open int stop: everything from 3 up (no clamp-to-ub
    # truncation of fractional top coords)
    assert sorted(A[3:100]["v"].tolist()) == [1.0, 2.0, 3.0]


def test_indexing_string_dim_rejects_numeric_stop(tmp_path, spark):
    pdf = pd.DataFrame({"k": ["a", "b", "c"], "v": [1.0, 2.0, 3.0]})
    uri = str(tmp_path / "arr")
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    A = tdb.open(uri, spark=spark)
    with pytest.raises(ValueError, match="Non-string range"):
        A["a":5]


def test_row_group_stats_corrupt_file_falls_back(tmp_path):
    """An unreadable parquet file (crashed-write leftover) returns the
    documented None fallback instead of failing the planning step."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tiledb_py_spark.operators.stats_bounds import (
        mixture_quantile_bounds, parquet_range_bounds, row_group_stats)

    d = tmp_path / "data"
    d.mkdir()
    pq.write_table(pa.table({"x": pa.array([1.0, 2.0, 3.0])}),
                   d / "good.parquet")
    (d / "truncated.parquet").write_bytes(b"PAR1garbage")
    assert row_group_stats(str(d), "x") is None
    assert parquet_range_bounds(str(d), "x", 4) is None
    # the vectorized mixture quantiles still balance a healthy set
    cuts = mixture_quantile_bounds(
        [(0.0, 10.0, 100), (10.0, 10.0, 50), (5.0, 15.0, 100)], 4)
    assert cuts == sorted(cuts) and len(cuts) == 3
    assert all(0.0 < c < 15.0 for c in cuts)


def test_portable_hash60_null_columns_distinct(spark):
    """concat_ws silently skips NULLs, so (NULL,'x') / ('x',NULL) — and
    ('a','b') / ('a\\x1fb', NULL) — hashed identically, correlating
    split/sample decisions across distinct rows.  NULLs now coalesce to
    a sentinel; non-null values hash exactly as before."""
    from tiledb_py_spark.operators.pipeline import portable_hash60

    df = spark.createDataFrame(
        [(None, "x"), ("x", None), ("a", "b"), ("a\x1fb", None)],
        "c1 string, c2 string")
    hs = [r.h for r in
          df.select(portable_hash60(["c1", "c2"]).alias("h")).collect()]
    assert len(set(hs)) == 4


def test_stratified_sample_null_stratum(spark):
    from tiledb_py_spark.operators.pipeline import stratified_sample

    df = spark.createDataFrame(
        [(i, None if i % 2 else "en") for i in range(200)],
        "doc_id long, lang string")
    out = stratified_sample(df, "lang", {None: 1.0}, ["doc_id"],
                            default_fraction=0.0)
    got = out.collect()
    assert len(got) == 100 and all(r.lang is None for r in got)


def test_chunk_documents_rejects_negative_overlap(spark):
    from tiledb_py_spark.operators.pipeline import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, "text", ["doc_id"], chunk_tokens=2,
                        overlap=-1)


def test_approx_quantiles_verify_null_group(spark):
    from tiledb_py_spark.operators.sketches import approx_quantiles

    rows = [(None if i % 2 else "a", float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "src string, x double")
    plain = approx_quantiles(df, "x", [0.5], by="src")
    ver = approx_quantiles(df, "x", [0.5], by="src", verify=True)
    assert plain.count() == 2
    got = {r.src: r.within_bound for r in ver.collect()}
    assert set(got) == {None, "a"}       # NULL group not dropped
    assert all(got.values())


def test_heavy_hitters_join_path_matches_isin(spark):
    """The >1024-candidate broadcast-join recount returns the same
    survivors as the literal isin path."""
    from tiledb_py_spark.operators.sketches import heavy_hitters

    rows = [("hot",)] * 500 + [(f"t{i}",) for i in range(300)]
    df = spark.createDataFrame(rows, "item string")
    small = {(r.item, r.n) for r in
             heavy_hitters(df, "item", threshold_frac=0.2).collect()}
    # force the join path with an explicit large k
    big = {(r.item, r.n) for r in
           heavy_hitters(df, "item", threshold_frac=0.2,
                         k=2000).collect()}
    assert small == {("hot", 500)}
    assert big == small


def test_hilbert_wide_domains_scale_not_clamp(tmp_path, spark):
    """Wide integer/timestamp domains scale onto the key grid — the
    old lo+65535 clamp made every realistic timestamp dim a
    near-constant coordinate (no curve locality at all); NaN/NaT
    coordinates land in bucket 0 instead of garbage."""
    import numpy as np

    from tiledb_py_spark.hilbert import hilbert_key_for_schema
    from tiledb_py_spark.schema import ArraySchema, Attr, Dim, Domain

    schema = ArraySchema(
        domain=Domain(
            Dim(name="t", domain=(np.datetime64("2020-01-01", "us"),
                                  np.datetime64("2025-01-01", "us")),
                dtype=np.dtype("datetime64[us]")),
            Dim(name="k", domain=(0, 1_000_000_000), tile=1000,
                dtype=np.int64)),
        attrs=[Attr(name="v", dtype=np.float64)], sparse=True)
    n = 1000
    rng = np.random.default_rng(7)
    pdf = pd.DataFrame({
        "t": np.datetime64("2020-01-01", "us")
        + rng.integers(0, 5 * 365 * 86400, n) * np.timedelta64(1_000_000, "us"),
        "k": rng.integers(0, 1_000_000_000, n),
        "v": rng.standard_normal(n)})
    keys = hilbert_key_for_schema(pdf, schema)
    assert len(np.unique(keys)) > 900       # was 2 pre-fix
    # NaT maps to bucket 0, not an int64 wraparound
    pdf2 = pdf.copy()
    pdf2.loc[0, "t"] = np.datetime64("NaT")
    keys2 = hilbert_key_for_schema(pdf2, schema)
    assert keys2[0] < (1 << 63) and np.array_equal(keys[1:], keys2[1:])


def test_group_delete_clears_metadata_log(tmp_path):
    from tiledb_py_spark.group import Group

    uri = str(tmp_path / "grp")
    Group.create(uri)
    g = Group(uri, "w")
    g.meta["k"] = 1
    Group.delete(uri)
    Group.create(uri)                      # re-create at the same URI
    assert "k" not in Group(uri).meta.keys()   # nothing resurrected
