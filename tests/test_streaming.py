"""Structured Streaming: batch/stream-shared window transforms and the
fragment-committing stream sink (real readStream/writeStream run)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

import tiledb_py_spark as tdb
from tiledb_py_spark.streaming import (session_window_stats,
                                       sliding_window_counts,
                                       tumbling_window_counts)


@pytest.fixture(scope="module")
def events(spark):
    ts = pd.to_datetime([
        "2024-01-01 00:05", "2024-01-01 00:20", "2024-01-01 01:10",
        "2024-01-01 01:40", "2024-01-01 03:00", "2024-01-01 03:10",
    ])
    pdf = pd.DataFrame({
        "ts": ts,
        "event_type": ["a", "b", "a", "a", "b", "b"],
        "user_id": [1, 1, 1, 2, 2, 2],
        "value": [1.0, 2.0, 3.0, 4.0, 5.0, 6.0],
    })
    return spark.createDataFrame(pdf)


def test_tumbling(events):
    out = {(r.window_start.hour, r.event_type): r.n_events
           for r in tumbling_window_counts(events, "1 hour").collect()}
    assert out[(0, "a")] == 1
    assert out[(0, "b")] == 1
    assert out[(1, "a")] == 2
    assert out[(3, "b")] == 2


def test_sliding(events):
    rows = sliding_window_counts(events, "1 hour", "30 minutes").collect()
    # event at 00:05 belongs to windows [23:30,00:30) and [00:00,01:00)
    starts = [r.window_start for r in rows
              if r.event_type == "a" and r.window_start.day == 1
              and r.window_start.hour == 0 and r.n_events >= 1]
    assert len(starts) >= 1


def test_session_windows(events):
    rows = session_window_stats(events, gap="30 minutes").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    # user 1: events at 00:05, 00:20 (one session), 01:10 (second session)
    assert len(by_user[1]) == 2
    # user 2: 01:40 alone, then 03:00+03:10 together
    assert len(by_user[2]) == 2
    sizes = sorted(r.n_events for r in by_user[2])
    assert sizes == [1, 2]


def test_stateful_running_totals(spark, tmp_path):
    """applyInPandasWithState: per-user state carries ACROSS micro-batches
    (two source files, maxFilesPerTrigger=1 -> two triggers)."""
    from tiledb_py_spark.streaming import running_user_totals

    src = tmp_path / "st_src"
    src.mkdir()
    pd.DataFrame({"user_id": [1, 1, 2], "value": [1.0, 2.0, 10.0]}) \
        .to_parquet(src / "b1.parquet")
    pd.DataFrame({"user_id": [1, 2], "value": [4.0, 20.0]}) \
        .to_parquet(src / "b2.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = running_user_totals(stream)
    q = (out.writeStream.format("memory").queryName("running_totals")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)

    rows = spark.sql("SELECT * FROM running_totals").collect()
    # final state per user must reflect BOTH batches
    final = {}
    for r in rows:
        final[r.user_id] = (r.n_events, r.total_value)
    assert final[1] == (3, 7.0)
    assert final[2] == (2, 30.0)
    # update mode emitted intermediate states too (state persisted)
    assert len(rows) >= 3


def test_stream_to_array_fragments(spark, tmp_path):
    """readStream -> foreachBatch fragment sink -> array time-travel read."""
    from tiledb_py_spark.streaming import (read_event_stream,
                                           stream_events_to_array)

    src = tmp_path / "stream_src"
    src.mkdir()
    pdf1 = pd.DataFrame({"k": np.arange(5, dtype=np.int64),
                         "v": np.arange(5) * 1.0})
    pdf2 = pd.DataFrame({"k": np.arange(5, 10, dtype=np.int64),
                         "v": np.arange(5, 10) * 1.0})
    pdf1.to_parquet(src / "f1.parquet")
    pdf2.to_parquet(src / "f2.parquet")

    uri = str(tmp_path / "arr")
    dom = tdb.Domain(tdb.Dim(name="k", domain=(0, 10**9), tile=10000,
                             dtype=np.int64))
    schema = tdb.ArraySchema(domain=dom,
                             attrs=[tdb.Attr(name="v", dtype=np.float64)],
                             sparse=True)
    tdb.Array.create(uri, schema)

    stream = read_event_stream(spark, str(src))
    q = stream_events_to_array(stream, uri, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    A = tdb.open(uri, spark=spark)
    res = A[:]
    assert sorted(res["k"].tolist()) == list(range(10))
    assert len(tdb.array_fragments(uri)) >= 1


def test_stream_dedup_within_watermark(spark, tmp_path):
    """Duplicate event ids across micro-batches are dropped within the
    watermark horizon; the same helper runs as plain dropDuplicates on a
    batch DataFrame."""
    from tiledb_py_spark.streaming import dedup_event_stream

    src = tmp_path / "dd_src"
    src.mkdir()
    b1 = pd.DataFrame({
        "event_id": [1, 2, 2],
        "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:01",
                              "2024-01-01 00:01"]).astype("datetime64[us]"),
        "v": [1.0, 2.0, 2.0]})
    b2 = pd.DataFrame({
        "event_id": [1, 3],  # 1 is a cross-batch duplicate
        "ts": pd.to_datetime(["2024-01-01 00:02",
                              "2024-01-01 00:03"]).astype("datetime64[us]"),
        "v": [1.0, 3.0]})
    b1.to_parquet(src / "b1.parquet")
    b2.to_parquet(src / "b2.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = dedup_event_stream(stream, keys=["event_id"], watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("dedup_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    ids = sorted(r.event_id
                 for r in spark.sql("SELECT * FROM dedup_stream").collect())
    assert ids == [1, 2, 3]

    # batch mode: same helper, plain dropDuplicates
    batch = spark.createDataFrame(pd.concat([b1, b2]))
    got = sorted(r.event_id
                 for r in dedup_event_stream(batch, keys=["event_id"]).collect())
    assert got == [1, 2, 3]


def test_stream_dedup_to_array_end_to_end(spark, tmp_path):
    """The full streaming pipeline the module advertises, composed:
    file-source stream -> bounded-state dedup (watermarked) -> fragment-
    committing array sink.  The array's final contents must equal the
    batch-mode answer over the same files, and each micro-batch must have
    committed its own timestamped fragment."""
    from tiledb_py_spark.streaming import (dedup_event_stream,
                                           read_event_stream,
                                           stream_events_to_array)

    src = tmp_path / "e2e_src"
    src.mkdir()
    b1 = pd.DataFrame({
        "event_id": np.array([1, 2, 2], dtype=np.int64),
        "ts": pd.to_datetime(["2024-01-01 00:00", "2024-01-01 00:01",
                              "2024-01-01 00:01"]).astype("datetime64[us]"),
        "v": [10.0, 20.0, 20.0]})
    b2 = pd.DataFrame({
        "event_id": np.array([1, 3], dtype=np.int64),  # 1 = cross-batch dup
        "ts": pd.to_datetime(["2024-01-01 00:02",
                              "2024-01-01 00:03"]).astype("datetime64[us]"),
        "v": [10.0, 30.0]})
    b1.to_parquet(src / "b1.parquet")
    b2.to_parquet(src / "b2.parquet")

    uri = str(tmp_path / "e2e_arr")
    dom = tdb.Domain(tdb.Dim(name="event_id", domain=(0, 10**9), tile=10000,
                             dtype=np.int64))
    schema = tdb.ArraySchema(domain=dom,
                             attrs=[tdb.Attr(name="v", dtype=np.float64)],
                             sparse=True)
    tdb.Array.create(uri, schema)

    stream = read_event_stream(spark, str(src), max_files_per_trigger=1)
    deduped = dedup_event_stream(stream, keys=["event_id"],
                                 watermark="1 hour").select("event_id", "v")
    q = stream_events_to_array(deduped, uri, str(tmp_path / "e2e_ckpt"))
    q.awaitTermination(120)

    A = tdb.open(uri, spark=spark)
    res = A[:]
    got = sorted(zip(res["event_id"].tolist(), res["v"].tolist()))

    batch = spark.createDataFrame(pd.concat([b1, b2]))
    want = sorted((r.event_id, r.v)
                  for r in dedup_event_stream(batch, keys=["event_id"])
                  .select("event_id", "v").collect())
    assert got == want == [(1, 10.0), (2, 20.0), (3, 30.0)]
    # one fragment per non-empty micro-batch (maxFilesPerTrigger=1)
    assert len(tdb.array_fragments(uri)) >= 2


def test_stream_neardup_within_watermark(spark, tmp_path):
    """SimHash-keyed streaming near-dup: an identical-text event in a
    later micro-batch is dropped; distinct texts survive; batch mode uses
    a global signature dropDuplicates."""
    from tiledb_py_spark.streaming import neardup_event_stream

    src = tmp_path / "nd_src"
    src.mkdir()
    msg = "breaking news something happened in the town today"
    b1 = pd.DataFrame({
        "event_id": np.array([1, 2], dtype=np.int64),
        "ts": pd.to_datetime(["2024-01-01 00:00",
                              "2024-01-01 00:01"]).astype("datetime64[us]"),
        "text": [msg, "a completely different story"]})
    b2 = pd.DataFrame({
        "event_id": np.array([3, 4], dtype=np.int64),
        "ts": pd.to_datetime(["2024-01-01 00:02",
                              "2024-01-01 00:03"]).astype("datetime64[us]"),
        # 3 = same text as 1 (different event_id!), 4 = new
        "text": [msg, "yet another unrelated report"]})
    b1.to_parquet(src / "b1.parquet")
    b2.to_parquet(src / "b2.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    out = neardup_event_stream(stream, "text", watermark="1 hour")
    q = (out.writeStream.format("memory").queryName("neardup_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    ids = sorted(r.event_id
                 for r in spark.sql("SELECT * FROM neardup_stream").collect())
    assert ids == [1, 2, 4]          # 3 suppressed despite fresh event_id
    assert "__simhash" not in spark.sql(
        "SELECT * FROM neardup_stream").columns

    batch = spark.createDataFrame(pd.concat([b1, b2]))
    got = sorted(r.event_id for r in
                 neardup_event_stream(batch, "text").collect())
    assert got == [1, 2, 4]


def test_stateless_quality_ops_run_on_streams(spark, tmp_path):
    """The round-6 quality/cleaning operators are row-local (column
    expressions and an Arrow-batched UDF), so they compose into a
    readStream unchanged — run clean_lines + repetition_stats +
    scrub_text over a file stream and check the sink matches the batch
    answer."""
    from tiledb_py_spark.operators.pipeline import scrub_text
    from tiledb_py_spark.operators.text import clean_lines, repetition_stats

    src = tmp_path / "docs_src"
    src.mkdir()
    pdf = pd.DataFrame({
        "doc_id": np.arange(4, dtype=np.int64),
        "text": ["good line one here\nok\ngood line two here",
                 "a b a b a b",
                 "email me at a@b.co now please",
                 "plain text document body"],
    })
    pdf.to_parquet(src / "f1.parquet")

    def enrich(df):
        out = clean_lines(df, "text", min_words=3)
        out = repetition_stats(out, "text", top_ns=(2,), dup_ns=())
        return out.withColumn("scrubbed", scrub_text("text"))

    batch = {r.doc_id: r for r in
             enrich(spark.read.parquet(str(src))).collect()}

    stream = (spark.readStream
              .schema(spark.read.parquet(str(src)).schema)
              .parquet(str(src)))
    rows = []
    q = (enrich(stream).writeStream
         .foreachBatch(lambda df, _id: rows.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.doc_id: r for r in rows}
    assert set(got) == set(batch)
    for k in got:
        assert got[k].clean_text == batch[k].clean_text
        assert got[k].r_top2gram_char_frac == batch[k].r_top2gram_char_frac
        assert got[k].scrubbed == batch[k].scrubbed
    assert "a@b.co" not in got[2].scrubbed


def test_sessionize_stream_matches_batch_across_microbatches(spark, tmp_path):
    """Streaming sessionization: state carries session/event ordinals
    across micro-batches; for an in-order stream the result equals the
    batch sessionize window answer — including a session that SPANS the
    batch boundary."""
    from tiledb_py_spark.streaming.events import sessionize
    from tiledb_py_spark.streaming.stateful import sessionize_stream

    src = tmp_path / "sess_src"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01")

    def ts(minutes):
        return t0 + pd.Timedelta(minutes=minutes)

    # batch 1: user 1 events at 0,10; user 2 at 5 (us precision:
    # pandas' default ns TIMESTAMP is rejected by the vectorized reader)
    pd.DataFrame({"event_id": [1, 2, 3],
                  "ts": [ts(0), ts(10), ts(5)],
                  "user_id": [1, 1, 2]}).astype(
        {"ts": "datetime64[us]"}).to_parquet(src / "b1.parquet")
    # batch 2: user 1 at 20 (same session, spans the boundary) and 120
    # (new session); user 2 at 200 (new session)
    pd.DataFrame({"event_id": [4, 5, 6],
                  "ts": [ts(20), ts(120), ts(200)],
                  "user_id": [1, 1, 2]}).astype(
        {"ts": "datetime64[us]"}).to_parquet(src / "b2.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    rows = []
    q = (sessionize_stream(stream, gap_minutes=30.0).writeStream
         .foreachBatch(lambda df, _id: rows.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r.event_id: (r.session_idx, r.event_idx) for r in rows}
    batch = {r.event_id: (r.session_idx, r.event_idx) for r in
             sessionize(spark.read.parquet(str(src)), by="user_id",
                        ts_col="ts", gap_minutes=30.0).collect()}
    assert got == batch
    assert got[4] == (1, 3)     # boundary-spanning session continued
    assert got[5] == (2, 1)


def test_classifier_scoring_runs_on_streams(spark, tmp_path):
    """A trained quality classifier scores a readStream unchanged (the
    Arrow scoring UDF is stateless and row-local) — the deploy shape
    for filtering a live crawl with a model trained offline.  The
    stream sink must equal the batch scores exactly, including the
    within-doc span cleaner composed upstream."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from tiledb_py_spark.operators.classifier import (fit_quality_classifier,
                                                      quality_scores)
    from tiledb_py_spark.operators.text import remove_self_repeated_spans

    src = tmp_path / "docs_src"
    src.mkdir()
    chorus = "s1 s2 s3 s4 s5 s6 s7 s8"
    pdf = pd.DataFrame({
        "doc_id": np.arange(6, dtype=np.int64),
        "text": [f"good clean prose item{i}" if i % 2 else
                 f"spam junk noise item{i} {chorus} x {chorus}"
                 for i in range(6)],
    })
    pdf.to_parquet(src / "f1.parquet")

    batch_df = spark.read.parquet(str(src))
    model = fit_quality_classifier(
        batch_df.withColumn("y", (F.col("doc_id") % 2).cast("int")),
        "text", "y", n_buckets=128, max_iter=30, tol=1e-4)

    def enrich(df):
        out = remove_self_repeated_spans(df, "text", n=8)
        return quality_scores(out, "clean_text", model)

    batch = {r.doc_id: (r.clean_text, r.quality_score)
             for r in enrich(batch_df).collect()}

    stream = (spark.readStream
              .schema(batch_df.schema)
              .parquet(str(src)))
    rows = []
    q = (enrich(stream).writeStream
         .foreachBatch(lambda df, _id: rows.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r.doc_id: (r.clean_text, r.quality_score) for r in rows}
    assert got == batch
    assert all(got[i][1] > 0.5 for i in (1, 3, 5))
    assert all(got[i][1] < 0.5 for i in (0, 2, 4))


def test_funnel_stream_matches_batch_across_microbatches(spark, tmp_path):
    """Streaming funnel: matched-step state persists across
    micro-batches (a funnel completing over two triggers), windows are
    honored from the first-touch anchor, and for an in-order stream the
    final per-user rows equal the batch funnel answer."""
    from tiledb_py_spark.streaming.events import funnel
    from tiledb_py_spark.streaming.stateful import funnel_stream

    src = tmp_path / "funnel_src"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01")
    ts = lambda m: t0 + pd.Timedelta(minutes=m)
    # user 1 views+clicks in batch 1, purchases in batch 2 (spans the
    # boundary); user 2's purchase lands past the 60-min window; user 3
    # emits only noise
    pd.DataFrame({"event_id": [1, 2, 3, 4],
                  "ts": [ts(0), ts(10), ts(5), ts(50)],
                  "user_id": [1, 1, 2, 2],
                  "event_type": ["view", "click", "view", "click"]}) \
        .astype({"ts": "datetime64[us]"}).to_parquet(src / "b1.parquet")
    pd.DataFrame({"event_id": [5, 6, 7],
                  "ts": [ts(30), ts(100), ts(40)],
                  "user_id": [1, 2, 3],
                  "event_type": ["purchase", "purchase", "noise"]}) \
        .astype({"ts": "datetime64[us]"}).to_parquet(src / "b2.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    rows = []
    q = (funnel_stream(stream, ["view", "click", "purchase"],
                       within_minutes=60.0).writeStream
         .outputMode("update")
         .foreachBatch(lambda df, _id: rows.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "fckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    final = {}
    for r in rows:  # update mode: last row per user wins
        final[r.user_id] = (r.n_steps, r.step1_ts, r.step2_ts, r.step3_ts)
    batch = {r.user_id: (r.n_steps, r.step1_ts, r.step2_ts, r.step3_ts)
             for r in funnel(spark.read.parquet(str(src)),
                             ["view", "click", "purchase"],
                             within="60 MINUTES").collect()}
    assert final == batch
    assert final[1][0] == 3          # completed across the boundary
    assert final[2][0] == 2          # purchase at +95min > 60min window
    assert 3 not in final            # noise-only user never emits


def test_ewma_stream_matches_batch_across_microbatches(spark, tmp_path):
    """Streaming EWMA: the last smoothed value carries across
    micro-batches; an in-order stream equals the batch ewma answer,
    nulls and boundary-spanning recurrences included."""
    from tiledb_py_spark.streaming.events import ewma
    from tiledb_py_spark.streaming.stateful import ewma_stream

    src = tmp_path / "ewma_src"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01")
    ts = lambda m: t0 + pd.Timedelta(minutes=m)
    pd.DataFrame({"event_id": [1, 2, 3],
                  "ts": [ts(0), ts(10), ts(5)],
                  "user_id": [1, 1, 2],
                  "value": [4.0, 8.0, 3.0]}) \
        .astype({"ts": "datetime64[us]"}).to_parquet(src / "b1.parquet")
    pd.DataFrame({"event_id": [4, 5, 6],
                  "ts": [ts(20), ts(30), ts(40)],
                  "user_id": [1, 1, 2],
                  "value": [16.0, None, 5.0]}) \
        .astype({"ts": "datetime64[us]"}).to_parquet(src / "b2.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    rows = []
    q = (ewma_stream(stream, alpha=0.5).writeStream
         .outputMode("append")
         .foreachBatch(lambda df, _id: rows.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "eckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r.event_id: r.ewma for r in rows}
    batch = {r.event_id: r.ewma for r in
             ewma(spark.read.parquet(str(src)), "value",
                  alpha=0.5).collect()}
    assert got == batch
    assert got[4] == 0.5 * 16.0 + 0.5 * (0.5 * 8.0 + 0.5 * 4.0)
    assert got[5] == got[4]      # null propagates across the recurrence


def test_stateful_schemas_derive_from_input(spark, tmp_path):
    """ewma_stream/funnel_stream derive entity/tiebreak/ts/value field
    NAMES and TYPES from the input schema (ADVICE r7): a string-typed
    entity key and non-default column names round-trip unchanged
    instead of failing or being silently renamed to user_id/event_id."""
    from tiledb_py_spark.streaming.stateful import ewma_stream, funnel_stream

    src = tmp_path / "sk_src"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01")
    ts = lambda m: t0 + pd.Timedelta(minutes=m)
    pd.DataFrame({"eid": [1, 2, 3, 4],
                  "when": [ts(0), ts(10), ts(5), ts(20)],
                  "who": ["alice", "alice", "bob", "alice"],
                  "amount": [4.0, 8.0, 3.0, 16.0],
                  "kind": ["view", "click", "view", "purchase"]}) \
        .astype({"when": "datetime64[us]"}).to_parquet(src / "b1.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = spark.readStream.schema(schema).parquet(str(src))

    rows = []
    q = (ewma_stream(stream, alpha=0.5, value_col="amount", by="who",
                     ts_col="when", tiebreak_col="eid").writeStream
         .outputMode("append")
         .foreachBatch(lambda df, _id: rows.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "skckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert {r.who for r in rows} == {"alice", "bob"}
    got = {r.eid: r.ewma for r in rows}
    assert got[4] == 0.5 * 16.0 + 0.5 * (0.5 * 8.0 + 0.5 * 4.0)
    # caller's column names survive
    assert set(rows[0].asDict()) == {"who", "eid", "when", "amount", "ewma"}

    frows = []
    q = (funnel_stream(stream, ["view", "click", "purchase"], by="who",
                       ts_col="when", step_col="kind", tiebreak_col="eid")
         .writeStream.outputMode("update")
         .foreachBatch(lambda df, _id: frows.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "skfckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    final = {r.who: r.n_steps for r in frows}
    assert final == {"alice": 3, "bob": 1}


def test_stateful_late_data_policies(spark, tmp_path):
    """Pins the documented LATE-DATA policy of each stateful operator
    (VERDICT r7 item 7) with an event arriving in a later micro-batch
    AFTER its entity's state advanced past its timestamp:

    * ewma_stream: the straggler folds into the recurrence AT ARRIVAL
      (alpha*x + (1-alpha)*latest_state) and advances the state later
      events smooth from;
    * funnel_stream: matched step times are monotone — a straggler step
      at-or-before the last matched time never matches, completions
      are never retracted; an out-of-order arrival still past the last
      match matches normally;
    * sessionize_stream: the straggler joins the entity's CURRENT
      session with the next event_idx (negative gap) and rewinds the
      gap anchor."""
    from tiledb_py_spark.streaming.stateful import (ewma_stream,
                                                    funnel_stream,
                                                    sessionize_stream)

    t0 = pd.Timestamp("2024-01-01")
    ts = lambda m: t0 + pd.Timedelta(minutes=m)

    def two_batches(name, b1, b2):
        src = tmp_path / name
        src.mkdir()
        pd.DataFrame(b1).astype({"ts": "datetime64[us]"}) \
            .to_parquet(src / "b1.parquet")
        pd.DataFrame(b2).astype({"ts": "datetime64[us]"}) \
            .to_parquet(src / "b2.parquet")
        schema = spark.read.parquet(str(src)).schema
        return (spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(str(src)))

    def run(df, mode, ck):
        rows = []
        q = (df.writeStream.outputMode(mode)
             .foreachBatch(lambda b, _id: rows.extend(b.collect()))
             .option("checkpointLocation", str(tmp_path / ck))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return rows

    # --- ewma: batch 2 carries a straggler at ts(5) after state saw
    # ts(0)=4.0 then ts(10)=8.0 (ewma 4.0, 6.0)
    stream = two_batches(
        "ew",
        {"event_id": [1, 2], "ts": [ts(0), ts(10)],
         "user_id": [1, 1], "value": [4.0, 8.0]},
        {"event_id": [3, 4], "ts": [ts(5), ts(20)],
         "user_id": [1, 1], "value": [16.0, 2.0]})
    got = {r.event_id: r.ewma for r in
           run(ewma_stream(stream, alpha=0.5), "append", "ew_ck")}
    assert got[2] == 6.0
    late = 0.5 * 16.0 + 0.5 * 6.0            # folds at ARRIVAL
    assert got[3] == late and got[3] != 0.5 * 16.0 + 0.5 * 4.0
    assert got[4] == 0.5 * 2.0 + 0.5 * late  # straggler advanced state

    # --- funnel: click at ts(5) arrives AFTER view matched at ts(10):
    # monotone matched times -> never matches; purchase straggler at
    # ts(15) (> last match) still matches
    stream = two_batches(
        "fn",
        {"event_id": [1], "ts": [ts(10)], "user_id": [1],
         "event_type": ["view"]},
        {"event_id": [2, 3], "ts": [ts(5), ts(15)], "user_id": [1, 1],
         "event_type": ["click", "purchase"]})
    rows = run(funnel_stream(stream, ["view", "click", "purchase"]),
               "update", "fn_ck")
    assert rows[-1].n_steps == 1              # click dropped, purchase
    #                                           blocked on missing click
    stream = two_batches(
        "fn2",
        {"event_id": [1], "ts": [ts(10)], "user_id": [1],
         "event_type": ["view"]},
        {"event_id": [2], "ts": [ts(15)], "user_id": [1],
         "event_type": ["click"]})
    rows = run(funnel_stream(stream, ["view", "click", "purchase"]),
               "update", "fn2_ck")
    assert rows[-1].n_steps == 2              # in-window straggler matches

    # --- sessionize: straggler at ts(5) after state advanced to ts(40)
    # joins the CURRENT session (negative gap) as its next event
    stream = two_batches(
        "sz",
        {"event_id": [1, 2], "ts": [ts(0), ts(40)], "user_id": [1, 1]},
        {"event_id": [3, 4], "ts": [ts(5), ts(41)], "user_id": [1, 1]})
    rows = run(sessionize_stream(stream, gap_minutes=30.0), "append",
               "sz_ck")
    got = {r.event_id: (r.session_idx, r.event_idx) for r in rows}
    assert got[1] == (1, 1) and got[2] == (2, 1)
    assert got[3] == (2, 2)                   # joins session 2 at arrival
    assert got[4] == (3, 1)                   # gap measured FROM the
    #                                           straggler: 41-5 > 30


@pytest.mark.parametrize("vd,off", [(None, 0.0), (2, 0.0), (2, 9.5e6)])
def test_rolling_anomaly_stream_matches_batch(spark, tmp_path, vd, off):
    """Streaming rolling z-score: the trailing frame persists across
    micro-batches (a spike in batch 2 is judged against baseline rows
    from batch 1); an in-order stream flags exactly the batch
    rolling_anomaly rows, null frame slots included — on the float
    path, the exact fixed-point path (value_decimals=2), AND at
    magnitudes past the old int64 sum-of-squares wrap (off=9.5e6, the
    r9 ADVICE divergence: stream Python ints were arbitrary-precision
    while batch BIGINT wrapped — the DECIMAL(38,0) frame sums restore
    bit-identity)."""
    from tiledb_py_spark.streaming.events import rolling_anomaly
    from tiledb_py_spark.streaming.stateful import rolling_anomaly_stream

    src = tmp_path / "anom_src"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01")
    ts = lambda m: t0 + pd.Timedelta(minutes=m)
    # batch 1: stable baseline for user 1 (10,11 alternating) + a null
    pd.DataFrame({"event_id": range(1, 8),
                  "ts": [ts(m) for m in range(7)],
                  "user_id": [1] * 7,
                  "value": [v if v is None else v + off for v in
                            [10.0, 11.0, 10.0, None, 11.0, 10.0, 11.0]]}) \
        .astype({"ts": "datetime64[us]"}).to_parquet(src / "b1.parquet")
    # batch 2: the spike (needs batch-1 state to be judged) + more
    # baseline + a second user with too few priors to ever flag
    pd.DataFrame({"event_id": [8, 9, 10, 11],
                  "ts": [ts(m) for m in (7, 8, 9, 10)],
                  "user_id": [1, 1, 2, 2],
                  "value": [v + off for v in [99.0, 10.0, 50.0, 500.0]]}) \
        .astype({"ts": "datetime64[us]"}).to_parquet(src / "b2.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    rows = []
    q = (rolling_anomaly_stream(stream, window=6, min_periods=3,
                                threshold=3.0,
                                value_decimals=vd).writeStream
         .outputMode("append")
         .foreachBatch(lambda df, _id: rows.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "ackpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.user_id, r.event_id):
           (r.baseline_mean, r.baseline_std, r.zscore) for r in rows}
    batch = {(r.user_id, r.event_id):
             (r.baseline_mean, r.baseline_std, r.zscore)
             for r in rolling_anomaly(
                 spark.read.parquet(str(src)), window=6, min_periods=3,
                 threshold=3.0, value_decimals=vd).collect()}
    assert got == batch
    assert (1, 8) in got          # the cross-boundary spike flagged
    assert all(u != 2 for (u, _e) in got)   # user 2 never has 3 priors


def test_rolling_anomaly_stream_int64_boundary(spark, tmp_path):
    """try_cast(double->bigint) validity is the CLOSED interval
    [-2^63, +2^63] in double space: Long.MaxValue.toDouble rounds UP
    to 2^63, so Spark accepts the double +2^63 and CLAMPS it to int64
    max; NULL only strictly beyond (probed on Spark 4.1.2 — NOT the
    asymmetric open bound an ANSI reading of try_cast suggests, which
    is what ADVICE r11 assumed).  The stream twin must mirror all
    three edges: +2^63 clamped-valid, -(2^63) exact-valid, strictly
    beyond -> NULL frame slot."""
    import math

    from tiledb_py_spark.streaming.events import rolling_anomaly
    from tiledb_py_spark.streaming.stateful import rolling_anomaly_stream

    pos = (2.0 ** 63) / 100.0     # scaled -> +2^63 -> clamps to i64max
    neg = -(2.0 ** 63) / 100.0    # scaled -> Long.MIN exactly -> valid
    beyond = (2.0 ** 63) * 1.01 / 100.0   # scaled -> NULL slot
    assert pos * 100.0 == 2.0 ** 63 and neg * 100.0 == -(2.0 ** 63)
    assert beyond * 100.0 > 2.0 ** 63

    src = tmp_path / "bnd_src"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01")
    ts = lambda m: t0 + pd.Timedelta(minutes=m)
    pd.DataFrame({"event_id": range(1, 6),
                  "ts": [ts(m) for m in range(5)],
                  "user_id": [1] * 5,
                  "value": [10.0, 11.0, 10.0, 11.0, 10.0]}) \
        .astype({"ts": "datetime64[us]"}).to_parquet(src / "b1.parquet")
    # boundary rows cross the trigger boundary so the state path judges
    # them against batch-1 baseline state
    pd.DataFrame({"event_id": [6, 7, 8, 9],
                  "ts": [ts(m) for m in (5, 6, 7, 8)],
                  "user_id": [1] * 4,
                  "value": [pos, beyond, neg, 10.0]}) \
        .astype({"ts": "datetime64[us]"}).to_parquet(src / "b2.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src)))
    rows = []
    q = (rolling_anomaly_stream(stream, window=6, min_periods=3,
                                threshold=3.0,
                                value_decimals=2).writeStream
         .outputMode("append")
         .foreachBatch(lambda df, _id: rows.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "bnd_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {r.event_id: (r.baseline_mean, r.baseline_std, r.zscore)
           for r in rows}
    batch = {r.event_id: (r.baseline_mean, r.baseline_std, r.zscore)
             for r in rolling_anomaly(
                 spark.read.parquet(str(src)), window=6, min_periods=3,
                 threshold=3.0, value_decimals=2).collect()}
    assert got == batch
    assert 6 in got       # +2^63 clamps valid -> judged vs baseline
    assert 7 not in got   # strictly beyond -> NULL slot in both paths


def test_time_resample_stream_matches_batch(spark, tmp_path):
    """Watermark-driven resampling: buckets (and their gap rows) emit
    exactly once when the watermark passes the bucket end; the emitted
    grid equals the batch time_resample answer for every finalized
    bucket, including an entity that went silent (flushed via the
    event-time timeout) and a cross-batch gap run."""
    from tiledb_py_spark.streaming.events import time_resample
    from tiledb_py_spark.streaming.stateful import time_resample_stream

    src = tmp_path / "tr_src"
    src.mkdir()
    t0 = pd.Timestamp("2024-01-01")
    ts = lambda m: t0 + pd.Timedelta(minutes=m)
    # batch 1: user 1 active in buckets 0 and 2 (15-min grid);
    #          user 2 one bucket then silent forever
    pd.DataFrame({"event_id": [1, 2, 3, 4],
                  "ts": [ts(1), ts(32), ts(35), ts(2)],
                  "user_id": [1, 1, 1, 2],
                  "value": [10.0, 30.0, 50.0, 7.0]}) \
        .astype({"ts": "datetime64[us]"}).to_parquet(src / "b1.parquet")
    # batch 2: user 1 reappears much later (gap run 3..7), and a final
    # high-ts event pushes the watermark past everything earlier
    pd.DataFrame({"event_id": [5, 6],
                  "ts": [ts(8 * 15 + 1), ts(1000)],
                  "user_id": [1, 1],
                  "value": [80.0, 0.0]}) \
        .astype({"ts": "datetime64[us]"}).to_parquet(src / "b2.parquet")

    schema = spark.read.parquet(str(src)).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(str(src))
              .selectExpr("event_id", "cast(ts as timestamp) ts",
                          "user_id", "value")
              .withWatermark("ts", "0 seconds"))
    rows = []
    q = (time_resample_stream(stream, interval_sec=900).writeStream
         .outputMode("append")
         .foreachBatch(lambda df, _id: rows.extend(df.collect()))
         .option("checkpointLocation", str(tmp_path / "trckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = {(r.user_id, pd.Timestamp(r.bucket)): (r.n_events, r.value)
           for r in rows}
    # no duplicate emissions
    assert len(got) == len(rows)
    # emission contract: a REAL bucket emits when the watermark (final:
    # ts(1000)) passes its end; a GAP run emits with the real bucket
    # that closes it.  So the expected set is the batch answer cut at
    # each entity's last FINALIZED real bucket (user 1: the ts(1000)
    # event's own bucket is still open, so its grid ends at the 02:00
    # bucket; user 2: its lone bucket).
    last_final = {1: ts(8 * 15), 2: t0}
    batch = {(r.user_id, pd.Timestamp(r.bucket)): (r.n_events, r.value)
             for r in time_resample(
                 spark.read.parquet(str(src)), "value",
                 interval="15 minutes").collect()
             if pd.Timestamp(r.bucket) <= last_final[r.user_id]}
    assert got == batch
    # the silent entity's lone bucket WAS flushed (timeout path)
    assert (2, t0) in got
    # user 1's gap run carries the ffill value 40.0 (mean of 30, 50)
    gap = got[(1, t0 + pd.Timedelta(minutes=45))]
    assert gap == (0, 40.0)
