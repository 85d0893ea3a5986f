"""Plan-shape assertions: the scale guarantees README claims must hold in
the actual physical plan — pushed filters, pruned read schema, broadcast
joins for enum-decode-sized tables."""

import itertools

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import tiledb_py_spark as tdb
from tiledb_py_spark.plans import DimRanges, QueryPlan


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))


@pytest.fixture()
def arr(uri, spark):
    pdf = pd.DataFrame({"k": np.arange(5000, dtype=np.int64),
                        "a": np.arange(5000) * 1.0,
                        "b": np.arange(5000) * 2.0,
                        "c": [f"s{i}" for i in range(5000)]})
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    return uri


def test_range_predicate_pushed_to_scan(arr, spark):
    A = tdb.open(arr, spark=spark)
    plan = QueryPlan(dim_ranges=[DimRanges(name="k", intervals=[(100, 200)])],
                     attrs=["a"], order="U")
    s = _plan(A._execute(plan))
    assert "PushedFilters" in s
    assert "GreaterThanOrEqual(k,100)" in s
    assert "LessThanOrEqual(k,200)" in s


def test_column_pruning_reaches_scan(arr, spark):
    A = tdb.open(arr, spark=spark)
    plan = QueryPlan(dim_ranges=[], attrs=["a"], order="U")
    s = _plan(A._execute(plan))
    # only k (dim) + a should be read; b and c pruned out of ReadSchema
    read_schema = [ln for ln in s.splitlines() if "ReadSchema" in ln][0]
    assert "a:double" in read_schema
    assert "b:double" not in read_schema
    assert "c:string" not in read_schema


def test_condition_pushed(arr, spark):
    A = tdb.open(arr, spark=spark)
    df = A.dataframe(cond="a > 100.0", attrs=["a"])
    s = _plan(df)
    assert "GreaterThan(a,100.0)" in s


def test_whole_stage_codegen(arr, spark):
    A = tdb.open(arr, spark=spark)
    df = A.dataframe(cond="a > 100.0 and b < 900.0")
    s = _plan(df)
    assert "codegen id" in s  # filter runs in whole-stage generated code


def test_dense_fill_join_broadcasts_small_cells(uri, spark):
    """The dense fill join (generated grid ⟕ written cells) must not
    single-task: the grid is a distributed spark.range, and the written
    cells side joins without an exchange of the grid when broadcastable."""
    dom = tdb.Domain(tdb.Dim(name="k", domain=(0, 999), tile=1000,
                             dtype=np.int64))
    schema = tdb.ArraySchema(domain=dom, sparse=False,
                             attrs=[tdb.Attr(name="v", dtype=np.float64,
                                             fill=-1.0)])
    tdb.Array.create(uri, schema)
    with tdb.open(uri, "w", spark=spark) as A:
        A[0:500] = {"v": np.arange(500) * 1.0}
    with tdb.open(uri, spark=spark) as A:
        df = A.dataframe()
        s = _plan(df)
        assert "Range (0, 1000" in s  # distributed grid generator
        assert df.count() == 1000
        # fill materialized for the unwritten half
        assert df.filter(F.col("v") == -1.0).count() == 500


def test_sql_view_pushes_filters_to_scan(arr, spark):
    """A spark.sql query over Array.create_view() must push its predicate
    into the fragment parquet scan — the view is the lazy dataframe()
    plan, not a materialization."""
    A = tdb.open(arr, spark=spark)
    A.create_view("arr_view_t")
    df = spark.sql(
        "SELECT k, a FROM arr_view_t WHERE k >= 100 AND k <= 200")
    s = _plan(df)
    assert "PushedFilters" in s
    assert "GreaterThanOrEqual(k,100)" in s
    assert df.count() == 101


def test_minhash_signatures_plan_has_no_exchange(spark):
    """The staged-projection minhash signature pass is the crown-jewel
    shuffle-free plan (signatures are per-row expressions): any Exchange
    appearing here is a regression that would shuffle full document text
    at 100 TB."""
    from tiledb_py_spark.operators.dedup import minhash_signatures

    df = spark.range(0, 200).select(
        F.col("id"),
        F.concat(F.lit("some words here repeated tokens "),
                 (F.col("id") % 7).cast("string")).alias("text"))
    sig = minhash_signatures(df, "text", "id", num_perm=16)
    s = _plan(sig)
    assert "Exchange" not in s
    assert sig.count() == 200


def test_simhash_signatures_plan_has_no_exchange(spark):
    """Same guarantee for the simhash signature pass: single scan,
    JVM-side higher-order functions, zero shuffles."""
    from tiledb_py_spark.operators.dedup import simhash_signatures

    df = spark.range(0, 200).select(
        F.col("id"),
        F.concat(F.lit("alpha beta gamma delta "),
                 (F.col("id") % 5).cast("string")).alias("text"))
    sig = simhash_signatures(df, "text", "id", n_bits=16)
    s = _plan(sig)
    assert "Exchange" not in s
    assert sig.count() == 200


def test_format_lww_few_overlap_read_plans_no_shuffle(uri, spark):
    """format('tiledb') few-overlap LWW: supersession is resolved inside
    the merge read task by a pyarrow anti-join against newer fragments'
    coordinates — the SPARK plan must stay a plain BatchScan with no
    Exchange (a shuffle here would mean LWW leaked into the engine plan)."""
    from tiledb_py_spark.sources.spark_datasource import (TileDBReader,
                                                          register)

    register(spark)
    pdf = pd.DataFrame({"k": np.arange(100, dtype=np.int64),
                        "v": np.zeros(100)})
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    upd = pd.DataFrame({"k": np.arange(10, dtype=np.int64),
                        "v": np.ones(10)})
    tdb.from_pandas(uri, upd, index_dims=["k"], mode="append")

    # planning really does take the in-task merge route
    splits = TileDBReader(uri, None).partitions()
    assert [len(s.group) for s in splits] == [2]

    df = spark.read.format("tiledb").load(uri)
    s = _plan(df)
    assert "Exchange" not in s
    assert df.count() == 100


def test_corpus_assembly_row_local_ops_plan_no_exchange(spark):
    """hash_split / stratified_sample / scrub_text are pure row-local
    column expressions — any Exchange in their plans is a regression
    (deterministic_shuffle's sort exchange is intentional and excluded:
    that exchange IS the shuffle being requested)."""
    from tiledb_py_spark.operators.pipeline import (hash_split, scrub_text,
                                                    stratified_sample)

    df = spark.range(0, 100).select(
        F.col("id"), F.lit("en").alias("lang"),
        F.lit("text with words").alias("text"))
    for out in (
        hash_split(df, ["id"], {"train": 0.9, "test": 0.1}),
        stratified_sample(df, "lang", {"en": 0.5}, ["id"]),
        df.select("id", scrub_text("text").alias("clean")),
    ):
        s = _plan(out)
        assert "Exchange" not in s


def test_pack_sequences_offset_distributed_group_windows(spark):
    """Offset packing never serializes a group into one task: the data
    window partitions on (group, id-range bucket) — not the group key
    alone — never a global sort, and the row-path Exchange budget stays
    at one (the bucket window; totals/carry exchanges move only tiny
    per-bucket scalars)."""
    from tiledb_py_spark.operators.pipeline import pack_sequences

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), F.lit(100).alias("n"))
    # explicit bounds: sampled cuts can degenerate on 1000 synthetic
    # rows, which would take the one-task-per-group fallback
    out = pack_sequences(df, "n", ["id"], max_tokens=512, by="grp",
                         bounds=[250.0, 500.0, 750.0])
    s = _plan(out)
    import re
    assert re.search(r"windowspecdefinition\(grp#\d+L?, __grs_bkt#\d+", s), s
    assert "SinglePartition" not in s
    # formatted plans list each node twice (tree + "(n) Node" detail
    # header) — count the detail headers
    n_ex = len(re.findall(r"\(\d+\) Exchange", s))
    assert n_ex <= 3, s   # bucket window + totals + per-group carry


def test_repeated_ngrams_bounded_exchanges_no_window(spark):
    """The inverted-index formulation: pre-aggregated postings, document
    frequency folded back through a JOIN (AQE can skew-split a hot
    boilerplate gram; a window over the gram key cannot), within a fixed
    exchange budget."""
    import re

    from tiledb_py_spark.operators.dedup import repeated_ngram_stats

    df = spark.range(0, 50).select(
        F.col("id"), F.concat(F.lit("a b c d e f g h i j k l m n o p "),
                              (F.col("id") % 5).cast("string")).alias("text"))
    out = repeated_ngram_stats(df, "text", "id", n=5)
    s = _plan(out)
    assert len(re.findall(r"\(\d+\) Exchange", s)) <= 4
    assert "Window" not in s  # hot-gram skew must stay on the join path
    assert out.count() == 50


def test_chunk_documents_plan_no_exchange(spark):
    """Chunking is a narrow transform (project + generate): any Exchange
    is a regression."""
    from tiledb_py_spark.operators.pipeline import chunk_documents

    df = spark.range(0, 100).select(
        F.col("id"), F.lit("a b c d e f g h i j").alias("text"))
    out = chunk_documents(df, "text", ["id"], chunk_tokens=4, overlap=1)
    s = _plan(out)
    assert "Exchange" not in s
    assert out.count() == 300


def test_unigram_surprisal_bounded_exchanges(spark):
    """Two aggregation passes + one token join + one broadcast total:
    at most 4 data exchanges (broadcast exchanges excluded)."""
    import re

    from tiledb_py_spark.operators.text import unigram_surprisal

    df = spark.range(0, 100).select(
        F.col("id"), F.concat(F.lit("x y z w "),
                              (F.col("id") % 3).cast("string")).alias("text"))
    out = unigram_surprisal(df, "text", "id")
    s = _plan(out)
    data_exchanges = [m for m in re.findall(r"\(\d+\) (Broadcast)?Exchange", s)
                      if m != "Broadcast"]
    assert len(data_exchanges) <= 4
    assert out.count() == 100


def test_keyless_asof_avoids_global_window(spark):
    """Keyless as-of joins must not degrade to one global single-task
    window: the bucket decomposition partitions the window by time
    bucket."""
    from tiledb_py_spark.operators.asof import asof_join

    left = spark.range(0, 10_000).select(F.col("id").alias("t"))
    right = spark.range(0, 100).select((F.col("id") * 100).alias("t"),
                                       (F.col("id") * 2).alias("rv"))
    out = asof_join(left, right, on="t", num_buckets=8)
    s = _plan(out)
    # window partition spec carries the bucket column, not a constant
    assert "__asof_bkt" in s
    # and the answer equals the naive single-bucket result
    naive = asof_join(left, right, on="t", num_buckets=1)
    assert (out.orderBy("t").toPandas()["rv_right"].tolist()
            == naive.orderBy("t").toPandas()["rv_right"].tolist())


def test_contamination_bounded_exchanges_no_text_shuffle(spark):
    """Two-table inverted index: corpus postings pre-aggregate, benchmark
    collapses to a distinct gram-hash set, one join + per-doc
    re-aggregation + zero-gram re-attach — a fixed exchange budget, and
    the text column itself must never appear in an Exchange input
    (only 8-byte gram hashes and ids shuffle)."""
    import re

    from tiledb_py_spark.operators.dedup import ngram_contamination_stats

    corpus = spark.range(0, 60).select(
        F.col("id"), F.concat(F.lit("a b c d e f g h "),
                              (F.col("id") % 7).cast("string")).alias("text"))
    bench = spark.range(0, 10).select(
        F.col("id"), F.lit("a b c d e").alias("text"))
    out = ngram_contamination_stats(corpus, bench, "text", "id", n=5)
    s = _plan(out)
    assert len(re.findall(r"\(\d+\) Exchange", s)) <= 6
    assert "Window" not in s
    assert out.count() == 60


def test_semantic_dedup_single_cell_shuffle(spark):
    """Semantic dedup moves each vector across the wire exactly once:
    one Exchange on the cell id feeding the Arrow-batched per-cell scan
    (plus the driver-side fit, which is not in this plan)."""
    import re

    from tiledb_py_spark.operators.dedup import semantic_dedup
    from tiledb_py_spark.operators.similarity import IVFIndex

    rng = np.random.RandomState(3)
    df = spark.createDataFrame(
        [(i, rng.randn(4).tolist()) for i in range(300)], ["vec_id", "v"])
    idx = IVFIndex(n_cells=4, n_probe=4).fit(df, "v")
    out = semantic_dedup(df, "v", "vec_id", threshold=0.9, index=idx)
    s = _plan(out)
    data_exchanges = [m for m in re.findall(r"\(\d+\) (Broadcast)?Exchange", s)
                      if m != "Broadcast"]
    assert len(data_exchanges) == 1
    assert "FlatMapGroupsInPandas" in s or "FlatMapGroupsIn" in s
    assert out.count() > 0


def test_sample_exact_ungrouped_takes_ordered_no_global_sort(spark):
    """Ungrouped exact-n must plan as TakeOrderedAndProject (per-partition
    top-n + driver merge), never a full global Sort+Exchange."""
    from tiledb_py_spark.operators.pipeline import sample_exact

    df = spark.range(0, 100_000).select(F.col("id").alias("doc_id"))
    out = sample_exact(df, ["doc_id"], n=50)
    s = _plan(out)
    assert "TakeOrderedAndProject" in s
    assert out.count() == 50


def test_semantic_contamination_plan_no_exchange(spark):
    """The broadcast-matrix scan is shuffle-free: scan -> ArrowEvalPython,
    zero Exchanges (the benchmark matrix lives inside the UDF closure)."""
    import re

    from tiledb_py_spark.operators.dedup import semantic_contamination_stats

    rng = np.random.RandomState(2)
    corpus = spark.createDataFrame(
        [(i, rng.randn(4).tolist()) for i in range(200)], ["vec_id", "v"])
    bench = spark.createDataFrame(
        [(i, rng.randn(4).tolist()) for i in range(10)], ["vec_id", "v"])
    out = semantic_contamination_stats(corpus, bench, "v", "vec_id")
    s = _plan(out)
    assert "Exchange" not in s
    assert "ArrowEvalPython" in s
    assert out.count() == 200


def test_repetition_stats_and_clean_lines_row_local_no_exchange(spark):
    """Gopher repetition stats and C4 line cleaning are row-local array
    expressions — any Exchange is a regression (they must ride the scan
    stage untouched at 100 TB)."""
    from tiledb_py_spark.operators.text import clean_lines, repetition_stats

    df = spark.range(0, 50).select(
        F.col("id"),
        F.concat(F.lit("alpha beta gamma delta line one\nalpha beta "),
                 F.col("id").cast("string")).alias("text"))
    for out in (repetition_stats(df, "text", top_ns=(2,), dup_ns=(3,)),
                clean_lines(df, "text")):
        s = _plan(out)
        assert "Exchange" not in s


def test_line_dedup_bounded_exchanges_no_text_shuffle(spark):
    """remove_repeated_lines: postings carry only (hash, id, pos) — the
    exchange budget is fixed and no Window appears (hot boilerplate
    lines must stay on the AQE-splittable join path)."""
    import re

    from tiledb_py_spark.operators.dedup import remove_repeated_lines

    df = spark.range(0, 50).select(
        F.col("id"),
        F.concat(F.lit("shared header\nbody "),
                 F.col("id").cast("string")).alias("text"))
    out = remove_repeated_lines(df, "text", "id", min_docs=2)
    s = _plan(out)
    assert len(re.findall(r"\(\d+\) Exchange", s)) <= 5
    assert "Window" not in s


def test_dsir_weights_ratio_join_broadcast(spark):
    """The bucket log-ratio table must reach the postings via a
    BroadcastHashJoin — a sort-merge join here would shuffle the whole
    postings relation against an at-most-n_buckets-row table."""
    from tiledb_py_spark.operators.pipeline import importance_weights

    df = spark.range(0, 200).select(
        F.col("id"), F.lit("alpha beta gamma delta").alias("text"))
    tgt = df.filter(F.col("id") < 50)
    out = importance_weights(df, "text", "id", tgt, n_buckets=64)
    s = _plan(out)
    assert "BroadcastHashJoin" in s


def test_winnow_no_generator_child_clone(spark):
    """The winnowing explode must stay explode_outer: a plain explode
    lets InferFiltersFromGenerate clone the whole un-staged winnowing
    expression into a scan-pushed predicate (measured 80x slower).
    Regression: the gram-hash transform appears exactly once in the
    optimized plan and no Filter node carries an aggregate()."""
    from tiledb_py_spark.operators.dedup import winnow_fingerprints

    df = spark.range(0, 40).select(
        F.col("id"),
        F.concat(F.lit("tok a b c d e f g h i j "),
                 F.col("id").cast("string")).alias("text"))
    out = winnow_fingerprints(df, "text", "id", k=5, window=4)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("xxhash64") == 1
    for line in opt.splitlines():
        if "Filter" in line:
            assert "aggregate(" not in line and "xxhash64" not in line
    assert out.count() > 0


def test_round6_operator_exchange_budgets(spark):
    """Exchange budgets for the round-6 retrieval/selection operators:
    bm25 and tfidf keep their frequency tables on broadcast joins;
    temperature_mix adds no shuffle beyond the explode; perplexity
    bucketing is surprisal's budget plus exactly one ungrouped window."""
    import re

    from tiledb_py_spark.operators.pipeline import temperature_mix
    from tiledb_py_spark.operators.retrieval import (bm25_scores,
                                                     tfidf_top_terms)
    from tiledb_py_spark.operators.text import perplexity_buckets

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", "alpha beta gamma delta epsilon")
         for i in range(100)], ["doc_id", "lang", "text"])

    s = _plan(bm25_scores(df, "text", "doc_id", ["alpha", "beta"]))
    assert "BroadcastHashJoin" in s and "SortMergeJoin" not in s

    s = _plan(tfidf_top_terms(df, "text", "doc_id", k=2))
    assert "SortMergeJoin" not in s

    s = _plan(temperature_mix(df, "lang", ["doc_id"], alpha=0.5))
    assert "Exchange" not in s  # pure row-local explode after the rates

    s = _plan(perplexity_buckets(df, "text", "doc_id"))
    assert len(re.findall(r"\(\d+\) Window", s)) == 1


def test_round7_operator_exchange_budgets(spark):
    """Exchange budgets for the round-7 operators: classifier scoring
    and the optimizer's loss/gradient evaluation are shuffle-free;
    IVFPQ search never shuffles (predicate + cell prune at the scan,
    ADC row-local, top-k TakeOrdered); the unigram seed expansion is
    one aggregation over the word table (its input aggregation aside)."""
    import re

    import numpy as np

    from tiledb_py_spark.operators.bpe import (unigram_seed_counts,
                                               word_frequencies)
    from tiledb_py_spark.operators.classifier import (QualityClassifier,
                                                      quality_scores,
                                                      token_buckets)
    from tiledb_py_spark.operators.similarity import IVFPQIndex

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(50)],
        ["doc_id", "text"])

    # classifier scoring: scan -> project -> ArrowEvalPython, no Exchange
    m = QualityClassifier(weights=np.zeros(64), bias=0.0, n_buckets=64)
    s = _plan(quality_scores(df, "text", m))
    assert "Exchange" not in s

    # the featurization feeding each optimizer step is also row-local
    feats = df.select(
        F.lit(1.0).alias("y"),
        F.coalesce(token_buckets("text", 64),
                   F.array().cast("array<int>")).alias("bkts"))
    assert "Exchange" not in _plan(feats)

    # IVFPQ search plan: no Exchange anywhere — cell + predicate prune
    # at the scan, ADC scores row-local, top-k is TakeOrdered
    rng = np.random.RandomState(5)
    emb = spark.createDataFrame(
        [(i, rng.randn(8).tolist(), i % 2) for i in range(64)],
        "vec_id long, embedding array<double>, label int")
    idx = IVFPQIndex(n_cells=4, n_probe=2, m=4, n_codes=8).fit(
        emb, "embedding")
    tab = idx.build(emb, "embedding", "vec_id", keep_cols=["label"])
    s = _plan(idx.search(tab, rng.randn(8).tolist(), k=5,
                         predicate=F.col("label") == 1))
    assert "Exchange" not in s
    assert "TakeOrderedAndProject" in s

    # unigram seed: exactly the word-frequency Exchange + the piece
    # aggregation Exchange — nothing else
    s = _plan(unigram_seed_counts(word_frequencies(df, "text")))
    assert len(re.findall(r"\(\d+\) Exchange", s)) == 2


def test_interval_join_grid_plan_no_nested_loop(spark):
    """The interval-join grid path must be an EQUI hash/sort-merge join
    on (by-keys, bucket) — never BroadcastNestedLoop or a cartesian —
    and only the rare-long-interval branch may nested-loop, against a
    broadcast side."""
    from tiledb_py_spark.operators.intervals import (interval_join,
                                                     interval_overlap_join)

    pts = spark.createDataFrame(
        [(i, float(i * 7 % 10_000)) for i in range(500)], ["pid", "t"])
    ivs = spark.createDataFrame(
        [(j, float(j * 97 % 10_000), float(j * 97 % 10_000 + 50))
         for j in range(50)], ["iid", "s", "e"])

    # all-short: pure grid — no nested loop, no cartesian at all
    s = _plan(interval_join(pts, ivs, on="t", start="s", end="e",
                            interval_cols=["iid"], suffix="",
                            num_buckets=16, long_span_buckets=10**9))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s

    # hybrid: the long branch nested-loops ONLY against a broadcast
    # exchange; the grid branch stays equi
    s = _plan(interval_join(pts, ivs, on="t", start="s", end="e",
                            interval_cols=["iid"], suffix="",
                            num_buckets=16, long_span_buckets=4))
    assert "CartesianProduct" not in s
    if "BroadcastNestedLoopJoin" in s:
        assert "BroadcastExchange" in s

    # overlap grid: same contract
    rhs = spark.createDataFrame(
        [(j, float(j * 131 % 10_000), float(j * 131 % 10_000 + 40))
         for j in range(40)], ["rid", "rs", "re"])
    s = _plan(interval_overlap_join(
        ivs.withColumnRenamed("iid", "lid"), rhs,
        "s", "e", "rs", "re", right_cols=["rid"], suffix="",
        num_buckets=16, long_span_buckets=10**9))
    assert "CartesianProduct" not in s
    assert "BroadcastNestedLoopJoin" not in s


def test_kn3_no_corpus_sized_broadcast_hint(spark):
    """kneser_ney_trigram_logprob must not broadcast-HINT the corpus-
    sized tables (tri/ctx3/c2 are keyed by n-gram tuples and grow with
    corpus size); only the vocabulary-sized ctx2/c1 and the one-row
    scalar table carry hints.  With hints absent, AQE picks the join
    strategy from runtime sizes — tiny inputs may still broadcast, so
    the assertion targets the ANALYZED plan's hint nodes, not the
    physical join choice."""
    from tiledb_py_spark.operators.text import kneser_ney_trigram_logprob

    df = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog") for i in range(20)],
        ["doc_id", "text"])
    out = kneser_ney_trigram_logprob(df, "text", "doc_id")
    analyzed = out._jdf.queryExecution().analyzed().toString()
    # exactly 3 hints: ctx2 (token-keyed context totals), c1 (token-
    # keyed continuation counts), scal (one scalar row)
    assert analyzed.count("ResolvedHint") == 3

    # with broadcast_tables=False only the scalar row keeps its hint
    out = kneser_ney_trigram_logprob(df, "text", "doc_id",
                                     broadcast_tables=False)
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 1


def _scans(s: str) -> int:
    # formatted plans list each node twice (tree + "(n) Node" detail
    # header) — count the detail headers
    import re
    return len(re.findall(r"\(\d+\) Scan parquet", s))


def _overlapping(uri, n_frags=7):
    """Sparse no-duplicates array of ``n_frags`` overlapping fragments
    (distinct commit ms) plus one live delete on ``a``; returns the
    expected ``{k: a}``."""
    import time

    rng = np.random.default_rng(3)
    want = {}
    for i in range(n_frags):
        k = np.arange(1000) if i == 0 else rng.choice(1000, 200, replace=False)
        want.update({int(x): x * 1.0 + i for x in k})
        tdb.from_pandas(uri, pd.DataFrame(
            {"k": k.astype(np.int64), "a": k * 1.0 + i, "b": k * 2.0}),
            index_dims=["k"], mode="append" if i else "ingest",
            full_domain=True)
        time.sleep(0.003)
    with tdb.open(uri, mode="d") as A:
        A.query(cond="a < 50.0").submit()
    return {k: a for k, a in want.items() if a >= 50.0}


def test_overlapping_lww_read_is_one_scan(uri, spark):
    """An LWW merge read over many overlapping fragments and a live
    delete plans ONE parquet scan (the fragment order comes from each
    row's file path), and that scan still takes the range pushdown and
    the pruned read schema."""
    want = _overlapping(uri)
    A = tdb.open(uri, spark=spark)
    assert len(A._manifest.live_fragments(A.timestamp)) >= 6
    plan = QueryPlan(dim_ranges=[DimRanges(name="k", intervals=[(100, 800)])],
                     attrs=["a"], order="U")
    df = A._execute(plan)
    s = _plan(df)
    assert _scans(s) == 1, s
    assert "GreaterThanOrEqual(k,100)" in s and "LessThanOrEqual(k,800)" in s
    read_schema = [ln for ln in s.splitlines() if "ReadSchema" in ln][0]
    assert "a:double" in read_schema
    assert "b:double" not in read_schema
    assert {r.k: r.a for r in df.collect()} == {
        k: a for k, a in want.items() if 100 <= k <= 800}


def test_drop_readd_reads_one_scan_per_masked_group(uri, spark):
    """Fragments that mask a dropped-then-re-added attr read under a
    different schema: one scan per masked group, not per fragment."""
    for i in range(3):
        tdb.from_pandas(uri, pd.DataFrame(
            {"k": np.arange(i, i + 5, dtype=np.int64), "v": [1.0 * i] * 5,
             "w": [10 * i] * 5}),
            index_dims=["k"], mode="append" if i else "ingest",
            full_domain=True)
    e1 = tdb.ArraySchemaEvolution()
    e1.drop_attribute("w")
    e1.array_evolve(uri)
    e2 = tdb.ArraySchemaEvolution()
    e2.add_attribute(tdb.Attr("w", dtype=np.int64, fill=-5))
    e2.array_evolve(uri)
    for i in range(3, 6):
        tdb.from_pandas(uri, pd.DataFrame(
            {"k": np.arange(i, i + 5, dtype=np.int64), "v": [1.0 * i] * 5,
             "w": [10 * i] * 5}),
            index_dims=["k"], mode="append")
    with tdb.open(uri, spark=spark) as A:
        df = A.dataframe()
        assert _scans(_plan(df)) == 2
        got = {r.k: (r.v, r.w) for r in df.collect()}
    assert got == {k: (float(min(k, 5)), 10 * min(k, 5) if k >= 3 else -5)
                   for k in range(10)}


def test_new_fragment_does_not_recompile_the_read(uri, spark):
    """Appending one fragment to an overlapping array must not recompile
    the LWW read: the scan's generated code carries no per-fragment
    literal, so it compiles a bounded number of classes (counted by
    Spark's codegen metrics), not one per fragment."""
    import time

    _overlapping(uri)
    cm = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def read():
        c0 = cm.METRIC_COMPILATION_TIME().getCount()
        with tdb.open(uri, spark=spark) as A:
            n = len(A.df[:])
        return n, cm.METRIC_COMPILATION_TIME().getCount() - c0

    n0, _ = read()
    time.sleep(0.003)
    k = np.random.default_rng(4).choice(1000, 200, replace=False)
    tdb.from_pandas(uri, pd.DataFrame(
        {"k": k.astype(np.int64), "a": k + 1e6, "b": k * 2.0}),
        index_dims=["k"], mode="append")
    n1, compiled = read()
    assert n1 >= n0
    assert compiled <= 4, compiled


_job_groups = itertools.count()


def _jobs(spark, fn):
    """(result, Spark jobs ``fn`` ran), counted inside a fresh job group."""
    sc = spark.sparkContext
    group = f"jobs-{next(_job_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _shuffles(df) -> list:
    """Partitioning of every shuffle exchange in ``df``'s plan (the
    initial adaptive plan, also once ``df`` has run)."""
    import re
    s = df._jdf.queryExecution().executedPlan().toString()
    s = s.split("== Initial Plan ==")[-1]
    return re.findall(r"(?<!Broadcast)Exchange (\w+)", s)


def _layout_partitions(fn):
    """(result, ``py.layout_partitions`` recorded while ``fn`` ran)."""
    import json

    tdb.stats_enable()
    tdb.stats_reset()
    try:
        out = fn()
        dump = json.loads(tdb.stats_dump(print_out=False, json=True))
    finally:
        tdb.stats_disable()
        tdb.stats_reset()
    return out, dump.get("py.layout_partitions", 0)


def _spy_execute(A):
    """Record every DataFrame ``A._execute`` returns."""
    seen = []
    real = A._execute

    def spy(plan):
        df = real(plan)
        seen.append(df)
        return df
    A._execute = spy
    return seen


def test_ordered_merge_read_is_one_single_partition_exchange(uri, spark):
    """A 'C' read of a small overlapping array merges last-write-wins on
    the exchange that lays out its cell order: one ``Exchange
    SinglePartition``, no sampling job, no hash exchange — 2 Spark jobs
    per read, for a slice and for a condition + point read alike."""
    want = _overlapping(uri, n_frags=3)
    A = tdb.open(uri, spark=spark)
    seen = _spy_execute(A)
    (got, jobs), n = _layout_partitions(lambda: _jobs(spark, lambda: A.df[100:800]))
    assert _shuffles(seen[-1]) == ["SinglePartition"], _shuffles(seen[-1])
    assert jobs == 2 and n == 1
    got = got.reset_index()
    assert list(got["k"]) == sorted(k for k in want if 100 <= k <= 800)
    assert all(got["a"] == [want[k] for k in got["k"]])

    pts = [3, 60, 400, 700, 999]
    (got, jobs), n = _layout_partitions(lambda: _jobs(
        spark, lambda: A.query(cond="a >= 100.0").df[pts]))
    assert _shuffles(seen[-1]) == ["SinglePartition"], _shuffles(seen[-1])
    assert jobs == 2 and n == 1
    got = got.reset_index()
    assert list(got["k"]) == [k for k in pts if want.get(k, 0) >= 100.0]


def test_consolidate_merges_on_the_write_layout(uri, spark):
    """Consolidating a small overlapping array with a live delete runs
    the merge on the write's range exchange: 2 Spark jobs (the
    exchange's map stage and the write), one part file."""
    import glob

    want = _overlapping(uri, n_frags=3)
    (_, jobs), n = _layout_partitions(
        lambda: _jobs(spark, lambda: tdb.consolidate(uri, spark=spark)))
    assert jobs == 2 and n == 1
    A = tdb.open(uri, spark=spark)
    (frag,) = A._manifest.live_fragments(A.timestamp)
    assert len(glob.glob(f"{uri}/__fragments/{frag.name}/*.parquet")) == 1
    got = A.df[:].reset_index()
    assert list(got["k"]) == sorted(want)
    assert all(got["a"] == [want[k] for k in got["k"]])


def test_consolidate_writes_merged_rows_in_cell_order(uri, spark):
    """The merge's aggregate emits rows in hash-table order; the
    consolidated fragment is still sorted on the dims, because the
    layout sorts after the merge and the write keeps that layout."""
    import glob
    import time

    import pyarrow.parquet as pq

    for i, k in enumerate([np.arange(500, 1000), np.arange(0, 700, 2)]):
        tdb.from_pandas(uri, pd.DataFrame({"k": k.astype(np.int64),
                                           "a": k * 1.0 + i}),
                        index_dims=["k"], mode="append" if i else "ingest",
                        full_domain=True)
        time.sleep(0.003)
    tdb.consolidate(uri, spark=spark)
    A = tdb.open(uri, spark=spark)
    (frag,) = A._manifest.live_fragments(A.timestamp)
    (f,) = glob.glob(f"{uri}/__fragments/{frag.name}/*.parquet")
    t = pq.read_table(f).to_pandas()
    want = sorted(set(range(500, 1000)) | set(range(0, 700, 2)))
    assert list(t["k"]) == want
    assert list(t["a"]) == [k + 1.0 if k < 700 and k % 2 == 0 else k * 1.0
                            for k in want]


def test_small_from_spark_append_writes_one_file(uri, spark):
    """A 5,000-row ``from_spark`` append sizes its range layout by bytes:
    one part file, no sampling job — 2 Spark jobs."""
    import glob

    tdb.from_pandas(uri, pd.DataFrame({"k": np.arange(10, dtype=np.int64),
                                       "a": np.arange(10) * 1.0}),
                    index_dims=["k"], full_domain=True)
    sdf = spark.createDataFrame(pd.DataFrame(
        {"k": np.arange(5000, 0, -1, dtype=np.int64),
         "a": np.arange(5000) * 1.0}))
    (_, jobs), n = _layout_partitions(
        lambda: _jobs(spark, lambda: tdb.from_spark(uri, sdf, mode="append")))
    assert jobs == 2 and n == 1
    A = tdb.open(uri, spark=spark)
    frag = max(A._manifest.live_fragments(A.timestamp),
               key=lambda f: f.timestamp_range[0])
    files = glob.glob(f"{uri}/__fragments/{frag.name}/*.parquet")
    assert len(files) == 1
    import pyarrow.parquet as pq
    k = pq.read_table(files[0], columns=["k"]).column("k").to_pylist()
    assert k == sorted(k) and len(k) == 5000


def test_dense_multi_index_cells_have_no_exchange_below_fill_join(
        uri, spark, monkeypatch):
    """The written cells of a dense ``multi_index`` feed the fill join,
    which is sorted after the join: they are read unordered, so no
    layout exchange sits below the join (Catalyst drops a Sort there,
    not a repartition)."""
    import tiledb_py_spark.array as array_mod

    dom = tdb.Domain(tdb.Dim(name="k", domain=(0, 99), tile=100,
                             dtype=np.int64))
    schema = tdb.ArraySchema(domain=dom, sparse=False,
                             attrs=[tdb.Attr(name="v", dtype=np.float64,
                                             fill=-1.0)])
    tdb.Array.create(uri, schema)
    with tdb.open(uri, "w", spark=spark) as A:
        A[10:60] = {"v": np.arange(50) * 1.0}
    joined = []
    real = array_mod.dense_fill_join

    def spy(*a, **kw):
        joined.append(real(*a, **kw))
        return joined[-1]
    monkeypatch.setattr(array_mod, "dense_fill_join", spy)
    with tdb.open(uri, spark=spark) as A:
        got = A.multi_index[[slice(5, 20), slice(55, 70)]]
    s = joined[-1]._jdf.queryExecution().executedPlan().toString()
    # the cells are the broadcast (last printed) side of the join
    cells_side = s.split("BroadcastExchange", 1)[1]
    assert "Exchange" not in cells_side, s
    want = [float(k - 10) if 10 <= k < 60 else -1.0
            for k in [*range(5, 21), *range(55, 71)]]
    assert list(got["v"]) == want


def test_second_dim_ordered_merge_read_plans_one_exchange(uri, spark):
    """A 2-D 'C' read projecting only the second dim orders by it: the
    merge groups by both dims on the range exchange of that one dim, so
    the read plans one exchange where the parent planned a hash and a
    range exchange."""
    import time

    rng = np.random.default_rng(5)
    want = {}
    for i in range(3):
        xy = rng.choice(400, 150, replace=False)
        x, y = (xy // 20).astype(np.int64), (xy % 20).astype(np.int64)
        want.update({(int(a), int(b)): 10.0 * i + a for a, b in zip(x, y)})
        tdb.from_pandas(uri, pd.DataFrame({"x": x, "y": y, "a": 10.0 * i + x}),
                        index_dims=["x", "y"], mode="append" if i else "ingest",
                        full_domain=True)
        time.sleep(0.003)
    A = tdb.open(uri, spark=spark)
    df = A.query(dims=["y"], attrs=["a"]).submit()
    assert _shuffles(df) == ["SinglePartition"], _shuffles(df)
    rows = [(r.y, r.a) for r in df.collect()]
    assert [y for y, _ in rows] == sorted(y for _, y in want)
    assert sorted(rows) == sorted((y, a) for (_, y), a in want.items())
