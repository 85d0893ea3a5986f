"""Structured Streaming ingestion + windowed analytics for event streams.

The reference is a batch storage engine (SURVEY.md §2.7) — its nearest
analogs are timestamped fragment writes (append-only commits,
``/root/reference/tiledb/array.py:966-985``).  This module is the
Spark-native extension: ``readStream`` over event files -> watermarked
window aggregations -> the ``format("tiledb")`` sink committing each
micro-batch as a timestamped array fragment, giving streaming writes the
same time-travel / consolidation story as batch writes.

Each transformation is defined as a pure DataFrame function usable in BOTH
batch and streaming mode (the Structured Streaming contract), which is how
the driver's DuckDB oracle can check the batch equivalent.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _key_eq(a, b) -> bool:
    """NaN-safe entity-key tuple equality for the Arrow carry paths:
    numeric by-columns deliver NULL keys to pandas as float64 NaN, and
    NaN != NaN — a plain ``==`` would silently restart every carried
    recurrence at each batch boundary for the NULL-key group."""
    if a is None or b is None:
        return a is b
    if not isinstance(a, tuple):
        a = (a,)
    if not isinstance(b, tuple):
        b = (b,)
    return len(a) == len(b) and all(
        (x != x and y != y) or x == y for x, y in zip(a, b))


def tumbling_window_counts(events: DataFrame, window: str = "1 hour",
                           watermark: str = "1 hour",
                           streaming: bool = False) -> DataFrame:
    """Events per (window, event_type) with late-data watermarking."""
    if streaming:
        events = events.withWatermark("ts", watermark)
    return (events
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events", "sum_value"))


def sliding_window_counts(events: DataFrame, window: str = "1 hour",
                          slide: str = "30 minutes",
                          watermark: str = "1 hour",
                          streaming: bool = False) -> DataFrame:
    if streaming:
        events = events.withWatermark("ts", watermark)
    return (events
            .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"),
                    "event_type", "n_events"))


def session_window_stats(events: DataFrame, gap: str = "30 minutes",
                         watermark: str = "1 hour",
                         streaming: bool = False) -> DataFrame:
    """Per-user session windows (gap-based) — session count, length, value."""
    if streaming:
        events = events.withWatermark("ts", watermark)
    return (events
            .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum("value").alias("sum_value"))
            .select("user_id",
                    F.col("w.start").alias("session_start"),
                    F.col("w.end").alias("session_end"),
                    "n_events", "sum_value"))


def sessionize(events: DataFrame, by="user_id", ts_col: str = "ts",
               gap_minutes: float = 30.0,
               tiebreak_cols=("event_id",)) -> DataFrame:
    """Per-EVENT session assignment (the row-level complement of
    ``session_window_stats``, which only aggregates): every event gains

    - ``session_idx`` — 1-based ordinal of its session within the
      ``by`` entity (a new session starts when the gap to the previous
      event exceeds ``gap_minutes``, or at the entity's first event)
    - ``event_idx`` — 1-based ordinal of the event within its session

    This is the funnel/sequence-analysis primitive: downstream joins,
    per-session paths, and "nth event in session" predicates all key on
    ``(by, session_idx)``.

    Scale shape: ONE shuffle on the entity key (two stacked window
    functions over the same ``partitionBy(by) orderBy(ts)`` spec reuse
    a single Exchange+Sort); no driver-side state.  Ties on ``ts``
    order deterministically via ``tiebreak_cols``.  Gap comparison is
    ``>=`` on microsecond timestamps — an event landing EXACTLY at the
    gap starts a new session, matching ``F.session_window``'s
    ``[start, start + gap)`` windows so this row-level view and
    ``session_window_stats``' aggregate view agree on boundary
    events."""
    from pyspark.sql import Window

    by = [by] if isinstance(by, str) else list(by)
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak_cols]
    w = Window.partitionBy(*by).orderBy(*order)
    prev = F.lag(ts_col).over(w)
    gap_us = F.lit(int(gap_minutes * 60_000_000)).cast("long")
    delta_us = (F.unix_micros(F.col(ts_col).cast("timestamp"))
                - F.unix_micros(prev.cast("timestamp")))
    new_sess = F.when(prev.isNull() | (delta_us >= gap_us), 1).otherwise(0)
    out = (events
           .withColumn("__new", new_sess)
           .withColumn("session_idx",
                       F.sum("__new").over(
                           w.rowsBetween(Window.unboundedPreceding, 0))
                       .cast("long")))
    w2 = Window.partitionBy(*by, "session_idx").orderBy(*order)
    return (out.withColumn("event_idx",
                           F.row_number().over(w2).cast("long"))
               .drop("__new"))


def funnel(events: DataFrame, steps, by="user_id", ts_col: str = "ts",
           step_col: str = "event_type", within=None) -> DataFrame:
    """First-touch funnel analysis: for each ``by`` entity, the earliest
    time every step prefix of ``steps`` completes IN ORDER.

    Semantics (stated so the SQL replay is exact): step 1 matches the
    entity's EARLIEST step-1 event; step i+1 matches the earliest
    step-(i+1) event STRICTLY after the matched step-i time; with
    ``within`` (an ``INTERVAL`` string or Column), every later step must
    also land within that window of the matched step-1 time — the
    standard "first touch" anchoring (a later step-1 event is never
    reconsidered).  Greedy-earliest is optimal for the unwindowed
    ordered-prefix match (exchange argument), so ``n_steps`` is the
    maximal completed prefix under these semantics.

    Returns one row per entity that emitted at least one step event:
    ``(by, step1_ts..stepK_ts (null where unreached), n_steps)``.

    Scale shape: non-step events are filtered BEFORE the one entity-key
    shuffle; only (entity, ts, step_idx) rows move.  The per-entity
    match is a row-local ``aggregate`` fold over the time-sorted event
    array — no window chain, no k joins, no Python.  Per-entity state is
    bounded by that entity's step-event count (the sessionize caveat)."""
    k = len(steps)
    if k == 0 or len(set(steps)) != k:
        raise ValueError("steps must be a non-empty list of distinct "
                         "step values")
    by = [by] if isinstance(by, str) else list(by)
    if isinstance(within, str):
        within = F.expr(f"INTERVAL {within}")

    si = F.when(F.col(step_col) == F.lit(steps[0]), 0)
    for i, s in enumerate(steps[1:], start=1):
        si = si.when(F.col(step_col) == F.lit(s), i)
    ts_type = dict(events.dtypes)[ts_col]
    ev = (events.select(*by, F.col(ts_col).alias("__ts"), si.alias("__si"))
                .filter(F.col("__si").isNotNull()))
    # (ts, step_idx) sort: ties in time order by step index; matching is
    # strict-in-time so the tiebreak never changes the answer, it only
    # fixes the fold order
    agg = ev.groupBy(*by).agg(
        F.array_sort(F.collect_list(F.struct(F.col("__ts"),
                                             F.col("__si")))).alias("__evs"))

    init = F.array().cast(f"array<{ts_type}>")

    def fold(acc, e):
        need = F.size(acc)
        after_prev = F.when(need == 0, F.lit(True)) \
            .otherwise(e["__ts"] > F.element_at(acc, -1))
        ok = (need < k) & (e["__si"] == need) & after_prev
        if within is not None:
            in_window = F.when(need == 0, F.lit(True)) \
                .otherwise((e["__ts"] - F.element_at(acc, 1)) <= within)
            ok = ok & in_window
        return F.when(ok, F.concat(acc, F.array(e["__ts"]))).otherwise(acc)

    out = agg.withColumn("__done", F.aggregate("__evs", init, fold))
    cols = [F.when(F.size("__done") >= i + 1,
                   F.element_at("__done", i + 1)).alias(f"step{i + 1}_ts")
            for i in range(k)]
    return out.select(*by, *cols,
                      F.size("__done").cast("int").alias("n_steps"))


def ewma(events: DataFrame, value_col: str = "value", by="user_id",
         ts_col: str = "ts", alpha: float = 0.3,
         tiebreak_col: str = "event_id",
         out_col: str = "ewma", impl: str = "auto") -> DataFrame:
    """Per-entity exponentially weighted moving average in event-time
    order: ``ewma_1 = x_1``, ``ewma_t = alpha*x_t +
    (1-alpha)*ewma_{t-1}`` — the classic smoothing/anomaly baseline.
    Returns the input rows plus ``out_col``.

    Scale shape: ONE entity-key shuffle either way.  ``impl="arrow"``
    (the ``"auto"`` default) runs the recurrence as a per-entity
    ``applyInPandas`` using pandas' C ``ewm(adjust=False,
    ignore_na=True)`` kernel — O(n) in the entity's series length, so
    a HOT entity holding a constant fraction of the stream costs
    linear work in one task.  ``impl="expr"`` is the pure-Catalyst
    fold (collect to a sorted array, ``aggregate`` recurrence, explode
    back): no Python worker hop, but the immutable-array accumulator
    copies per element — O(n^2) for a single entity's series, fine at
    typical per-entity cardinality (10-100 events), quadratic-pathological
    on a skewed feed (measured: the sf1 hot-entity stress with ~20% of
    1M events on one key finishes in seconds on arrow and does not
    finish on expr).  Neither a window-sum rewrite (the closed form's
    ``(1-alpha)^-i`` overflows on long series) nor a Catalyst scan
    primitive exists, so arrow IS the scale path, not a fallback.
    Ties on ``ts`` order by ``tiebreak_col``.  Null values propagate
    the previous EWMA unchanged (the row still carries it)."""
    if not 0 < alpha <= 1:
        raise ValueError("alpha must be in (0, 1]")
    if impl not in ("auto", "arrow", "expr"):
        raise ValueError("impl must be auto|arrow|expr")
    by = [by] if isinstance(by, str) else list(by)
    if impl in ("auto", "arrow"):
        import pandas as pd

        from pyspark.sql import types as T

        cols = [*by, ts_col, tiebreak_col, value_col]
        # PARTITION-wise, not group-wise: one entity-key Exchange, a
        # partition-local sort, then pandas' C groupby().ewm() kernel
        # over each Arrow batch — ONE python call per ~10k-row batch
        # instead of one per entity (the per-group applyInPandas
        # variant measured 5.4s at sf0.1 / 1500 entities; this shape
        # is ~sub-second with identical results).  Entities spanning
        # Arrow batch boundaries continue via a carried seed row (the
        # adjust=False recurrence restarts exactly from the previous
        # smoothed value).
        proj = (events.select(*cols)
                .withColumn(value_col, F.col(value_col).cast("double"))
                .repartition(*[F.col(c) for c in by])
                .sortWithinPartitions(*by, ts_col, tiebreak_col))
        schema_out = T.StructType(
            list(proj.schema.fields)
            + [T.StructField(out_col, T.DoubleType(), True)])
        nby = len(by)

        def per_partition(pdfs):
            carry_key, carry = None, None
            for pdf in pdfs:
                if not len(pdf):
                    continue
                prepended = False
                if carry is not None:
                    first_key = tuple(pdf.iloc[0][k] for k in by)
                    if _key_eq(first_key, carry_key):
                        seed = pdf.iloc[[0]].copy()
                        seed[value_col] = carry
                        pdf = pd.concat([seed, pdf], ignore_index=True)
                        prepended = True
                # dropna=False: a NULL entity key is a group like any
                # other (the per-group predecessor processed it; with
                # the default dropna=True the ewm series comes back
                # SHORTER than pdf and the assignment below raises)
                s = pdf.groupby(by, sort=False, dropna=False)[value_col] \
                    .ewm(alpha=alpha, adjust=False, ignore_na=True).mean()
                pdf[out_col] = s.reset_index(
                    level=list(range(nby)), drop=True).to_numpy()
                if prepended:
                    pdf = pdf.iloc[1:]
                last = pdf.iloc[-1]
                carry_key = tuple(last[k] for k in by)
                cv = last[out_col]
                carry = None if pd.isna(cv) else float(cv)
                yield pdf

        return proj.mapInPandas(per_partition, schema_out)

    evs = F.array_sort(F.collect_list(F.struct(
        F.col(ts_col).alias("__ts"), F.col(tiebreak_col).alias("__tb"),
        F.col(value_col).cast("double").alias("__x"))))
    agg = events.groupBy(*by).agg(evs.alias("__evs"))

    def fold(acc, e):
        prev = F.when(F.size(acc) > 0, F.element_at(acc, -1))
        # NaN is MISSING like NULL (the arrow path's pandas ignore_na
        # semantics) — folding it arithmetically would poison every
        # later value of the entity with NaN, silently diverging the
        # two impls
        miss = e["__x"].isNull() | F.isnan(e["__x"])
        nxt = F.when(miss, prev) \
            .when(prev.isNull(), e["__x"]) \
            .otherwise(F.lit(alpha) * e["__x"]
                       + F.lit(1.0 - alpha) * prev)
        return F.concat(acc, F.array(nxt))

    out = agg.withColumn(
        "__ew", F.aggregate("__evs", F.array().cast("array<double>"), fold))
    z = F.arrays_zip("__evs", "__ew")
    out = (out.select(*by, F.explode(z).alias("__z"))
           .select(*by,
                   F.col("__z.__evs.__ts").alias(ts_col),
                   F.col("__z.__evs.__tb").alias(tiebreak_col),
                   F.col("__z.__evs.__x").alias(value_col),
                   F.col("__z.__ew").alias(out_col)))
    return out


def cohort_retention(events: DataFrame, by="user_id", ts_col: str = "ts",
                     period: str = "week") -> DataFrame:
    """Cohort retention matrix: entities grouped by the period of their
    FIRST event (the cohort), counted in every later period they
    reappear.  Returns ``(cohort, period_offset, n_active)`` with
    offset 0 = the cohort period itself (so ``n_active`` at offset 0 is
    the cohort size).

    Scale shape: one entity-key aggregation pins the cohort
    (``min(ts)`` — no window), one (entity, period) distinct, one
    broadcast-sized join back on the entity key; counts shuffle
    (cohort, offset) pairs only.  ``period``: 'week' (date_trunc
    weeks), 'day', or 'month' (calendar-month offsets)."""
    if period not in ("day", "week", "month"):
        raise ValueError("period must be day|week|month")
    by = [by] if isinstance(by, str) else list(by)
    p = F.date_trunc(period, F.col(ts_col))
    first = (events.groupBy(*by)
             .agg(F.date_trunc(period, F.min(ts_col)).alias("__cohort")))
    active = (events.select(*by, p.alias("__p"))
              .dropDuplicates([*by, "__p"]))
    j = active.join(first, on=by, how="inner")
    if period == "month":
        off = (F.months_between(F.col("__p"), F.col("__cohort"))
               .cast("int"))
    else:
        days = F.datediff(F.col("__p").cast("date"),
                          F.col("__cohort").cast("date"))
        off = (days / (7 if period == "week" else 1)).cast("int")
    return (j.groupBy(F.col("__cohort").alias("cohort"),
                      off.alias("period_offset"))
             .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
             .orderBy("cohort", "period_offset"))


def event_transitions(events: DataFrame, by="user_id",
                      ts_col: str = "ts", step_col: str = "event_type",
                      tiebreak_cols=("event_id",)) -> DataFrame:
    """First-order transition counts between consecutive events of each
    entity (the Markov-chain / clickstream-path summary): one row per
    (from_step, to_step) with the transition count, plus ``__start__``
    rows for each entity's first event.  ONE entity-key Exchange (the
    lead window), then a (from, to)-pair aggregation of 2-string rows;
    ties on ``ts`` order via ``tiebreak_cols``."""
    from pyspark.sql import Window

    by = [by] if isinstance(by, str) else list(by)
    order = [F.col(ts_col)] + [F.col(c) for c in tiebreak_cols]
    w = Window.partitionBy(*by).orderBy(*order)
    prev = F.lag(step_col).over(w)
    return (events
            .select(F.coalesce(prev, F.lit("__start__")).alias("from_step"),
                    F.col(step_col).alias("to_step"))
            .groupBy("from_step", "to_step")
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .orderBy("from_step", "to_step"))


def rolling_anomaly(events: DataFrame, value_col: str = "value",
                    by="user_id", ts_col: str = "ts",
                    window: int = 20, min_periods: int = 5,
                    threshold: float = 2.0,
                    tiebreak_col: str = "event_id",
                    value_decimals=None) -> DataFrame:
    """Rolling z-score anomaly detection: flag events whose value
    deviates more than ``threshold`` sample standard deviations from the
    mean of the entity's PRECEDING ``window`` events (the trailing
    baseline deliberately excludes the current row, so an outlier can't
    mask itself).  Rows with fewer than ``min_periods`` prior
    observations, or a degenerate (zero/NULL) trailing stddev, are never
    flagged.  Returns the flagged rows with their baseline and z-score.

    ``value_decimals``: when the value column is fixed-point decimal
    data with at most this many places (e.g. 2 for currency), pass it
    to compute the frame aggregates EXACTLY — values scale to int64,
    the frame sum and sum-of-squares are exact integers regardless of
    summation order, and mean/std/z derive from them by deterministic
    IEEE ops.  This makes the emitted doubles bit-identical across
    engines and input partitionings (a float sliding ``avg`` is only
    reproducible up to summation order — 1-ulp shifts can flip the
    4-dp rounding).  ``None`` keeps plain float aggregates.

    Scale shape: ONE entity-key Exchange feeding three frame-sharing
    window aggregates over the same ROWS frame — Spark evaluates them
    in a single ``Window`` operator — then a row-local filter.  Bounded
    O(window) running state per entity — a hot entity costs linear work
    in its own series, no quadratic fold (contrast the ``impl="expr"``
    note on :func:`ewma`).  Ties on ``ts`` order by ``tiebreak_col``."""
    from pyspark.sql import Window

    by = [by] if isinstance(by, str) else list(by)
    w = (Window.partitionBy(*by)
         .orderBy(F.col(ts_col), F.col(tiebreak_col))
         .rowsBetween(-window, -1))
    v = F.col(value_col).cast("double")
    if value_decimals is None:
        # one select (not chained withColumn) so Catalyst fuses all
        # three aggregates into a single Window operator — plan-gated
        # in test_rolling_anomaly_plan_one_exchange
        base = events.select(
            "*",
            F.avg(v).over(w).alias("__mean"),
            F.stddev_samp(v).over(w).alias("__std"),
            F.count(v).over(w).alias("__n"))
        # try_divide: a zero-variance frame's std is 0.0 and ANSI
        # double division THROWS if Catalyst evaluates z before the
        # __std > 0 conjunct (conjunct order is not guaranteed)
        z = F.try_divide(v - F.col("__mean"), F.col("__std"))
    else:
        # exact path: scaled-integer frame sum / sum-of-squares are
        # order-independent; sample variance from the exact integers
        # n*Q - S*S (no float cancellation — the subtraction is exact).
        # The sums run in DECIMAL, not BIGINT: the DuckDB oracle's
        # sum(BIGINT) is HUGEINT (int128), and an int64 sum-of-squares
        # would silently wrap (non-ANSI) once window*vs^2 exceeds 2^63
        # — |value| ~ 6.8e6 at 2 decimals / window 20, well inside real
        # data.  vs_d is DECIMAL(19,0): the full int64 range fits, so
        # the bigint→decimal cast itself can never overflow (r10 ADVICE:
        # decimal(18,0) silently NULL-dropped |scaled| >= 1e18 from the
        # sums while __n still counted the row — wrong mean/std).
        # vs_d*vs_d is decimal(38,0) and |int64|^2 < 8.6e37 < 1e38, so
        # per-value squares are exact too.  Beyond the exact envelope
        # the decimal(38,0) AGGREGATES can overflow — SUM(vs^2) at
        # window*vs^2 >= 1e38, and S*S at (window*|vs|)^2 >= 1e38 (the
        # binding constraint: |vs| < 1e19/window).  Every such product/
        # sum goes through try_* so overflow yields NULL under BOTH ANSI
        # modes (plain decimal ops THROW under spark.sql.ansi.enabled,
        # Spark 4's default) → NULL std → the row is (visibly) unflagged
        # by the std IS NOT NULL guard rather than silently wrong or a
        # query failure.  __n counts vs_d (not vs) so any future
        # cast-overflow path would shrink n in step with the sums.
        # The ENTRANCE cast is try_cast for the same reason: a value
        # whose scaled form exceeds int64 (|v| >= ~9.2e16 at 2dp) must
        # become a NULL frame slot (excluded from sums AND __n, never
        # flagged itself) — a plain cast would THROW under ANSI or
        # silently clamp to int64 max under non-ANSI.
        scale = F.lit(float(10 ** int(value_decimals)))
        vs = F.round(v * scale).try_cast("bigint")
        vs_d = vs.cast("decimal(19,0)")
        base = events.select(
            "*",
            vs.alias("__vs"),
            F.try_sum(vs_d).over(w).alias("__s"),
            F.try_sum(F.try_multiply(vs_d, vs_d)).over(w).alias("__q"),
            F.count(vs_d).over(w).alias("__n"))
        n, s, q = F.col("__n"), F.col("__s"), F.col("__q")
        mean_s = s.cast("double") / n.cast("double")
        # try_divide, not /: ANSI double division THROWS on a zero
        # divisor (n=1 frames here, zero-variance frames for z below)
        # whenever Catalyst evaluates the column before the guarding
        # conjunct — min_periods=1 crashed the whole query.  NULL
        # results are excluded by the std/z guards; values where the
        # divisor is nonzero are bit-identical to plain division.
        var_s = F.try_divide(
            F.try_subtract(F.try_multiply(n, q),
                           F.try_multiply(s, s)).cast("double"),
            (n * (n - F.lit(1))).cast("double"))
        std_s = F.sqrt(var_s)
        # z on the SCALED domain — identical ratio to (v-mean)/std,
        # but every operand derives from exact integers (bit-stable)
        z = F.try_divide(F.col("__vs").cast("double") - mean_s, std_s)
        base = base.withColumns({
            "__mean": mean_s / scale,
            "__std": std_s / scale})
    if value_decimals is None:
        def r4(c):
            return F.round(c, 4)
    else:
        # engine-independent 4-dp rounding: floor(x*1e4 + 0.5)/1e4 is a
        # fixed IEEE op sequence, so identical input doubles give
        # identical output bits in ANY engine.  Library round()s
        # disagree on representation ties — Spark rounds the SHORTEST
        # decimal repr (BigDecimal.valueOf) while DuckDB/Python round
        # the exact binary value, e.g. the double below 44.19125
        # (shortest repr "44.19125", exact ...24999) rounds up in Spark
        # and down in DuckDB — which is what made r8's hash red.
        # Guarded at |c| < 9e14: Spark's floor(double) returns LONG and
        # SATURATES at 2^63 (DuckDB's floor(double) is a double — no
        # saturation), so beyond the guard both engines pass the double
        # through unchanged (identical doubles → identical branch; 4-dp
        # is sub-ulp noise at that magnitude anyway).
        def r4(c):
            return F.when(
                F.abs(c) < F.lit(9e14),
                F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)
            ).otherwise(c)
    return (base
            .where((F.col("__n") >= min_periods)
                   & F.col("__std").isNotNull()
                   # Spark orders NaN above every number, so NaN > 0
                   # passes — with min_periods=1 an n=1 frame's 0/0
                   # std would flag every entity's second event with a
                   # NaN z-score (the stream twin's n >= 2 floor
                   # already excludes it)
                   & ~F.isnan(F.col("__std")) & (F.col("__std") > 0)
                   & (F.abs(z) > threshold))
            .select(*by,
                    F.col(tiebreak_col),
                    F.col(ts_col),
                    v.alias(value_col),
                    r4(F.col("__mean")).alias("baseline_mean"),
                    r4(F.col("__std")).alias("baseline_std"),
                    r4(z).alias("zscore")))


def time_resample(events: DataFrame, value_col: str = "value",
                  by="user_id", ts_col: str = "ts",
                  interval: str = "15 minutes",
                  fill: str = "ffill") -> DataFrame:
    """Resample each entity's event series onto a fixed time grid:
    aggregate values into ``interval`` buckets (count + mean), then
    materialize the MISSING buckets between an entity's first and last
    observation, carrying the previous bucket's mean forward
    (``fill="ffill"``) or leaving gaps NULL (``fill="none"``).  Output:
    (by..., bucket, n_events, value) — ``n_events`` is the ROW count of
    the bucket (0 marks a generated gap row; a real bucket whose events
    all carry NULL values keeps n_events > 0 with a NULL mean, and a
    following gap forward-fills that NULL — gaps carry the previous
    BUCKET's mean verbatim, not the last non-null value).

    Scale shape: TWO Exchanges total — the (entity, bucket) aggregation,
    then one entity-keyed window for ``lag``.  Gap rows are generated
    ROW-LOCALLY from the lag (each aggregated row emits the grid between
    its predecessor and itself via ``sequence`` + ``explode``), so there
    is no calendar table, no range join, and no third shuffle.  Cost is
    linear in the OUTPUT grid; an entity with a year-long gap at
    15-minute resolution emits ~35k rows — inherent to resampling, and
    spread across entities, not concentrated in one task."""
    from pyspark.sql import Window

    if fill not in ("ffill", "none"):
        raise ValueError(f"unknown fill {fill!r}")
    by = [by] if isinstance(by, str) else list(by)
    step = F.expr(f"INTERVAL {interval}")
    agg = (events
           .groupBy(*by, F.window(F.col(ts_col), interval).alias("__w"))
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.round(F.avg(value_col), 4).alias("__v"))
           .select(*by, F.col("__w.start").alias("bucket"),
                   "n_events", "__v"))
    w = Window.partitionBy(*by).orderBy("bucket")
    lagged = agg.select(
        *by, "bucket", "n_events", "__v",
        F.lag("bucket").over(w).alias("__pb"),
        F.lag("__v").over(w).alias("__pv"))
    # Emit (gap rows + the real row) as ONE row-local array + explode.
    # A real/gaps self-UNION would make Catalyst duplicate the whole
    # scan->aggregate->window subtree per branch (plan-gated in
    # test_time_resample_plan_two_exchanges).
    bucket_t = agg.schema["bucket"].dataType.simpleString()
    entry_t = (f"array<struct<bucket:{bucket_t},"
               f"n_events:bigint,{value_col}:double>>")
    gap_fill = F.col("__pv") if fill == "ffill" \
        else F.lit(None).cast("double")
    gaps = F.when(
        F.col("__pb").isNotNull()
        & (F.col("bucket") > F.col("__pb") + step),
        F.transform(
            F.sequence(F.col("__pb") + step, F.col("bucket") - step, step),
            lambda b: F.struct(
                b.alias("bucket"),
                F.lit(0).cast("long").alias("n_events"),
                gap_fill.alias(value_col)))
    ).otherwise(F.expr(f"cast(array() as {entry_t})"))
    real = F.array(F.struct(
        F.col("bucket"), F.col("n_events"),
        F.col("__v").alias(value_col)))
    return (lagged
            .select(*by, F.explode(F.concat(gaps, real)).alias("__e"))
            .select(*by, "__e.bucket", "__e.n_events",
                    f"__e.{value_col}"))


def attribution(events: DataFrame, touch_types, conversion_type: str,
                lookback: str = "1 day", by="user_id",
                ts_col: str = "ts", type_col: str = "event_type",
                id_col: str = "event_id", impl: str = "auto") -> DataFrame:
    """First- and last-touch attribution: for every CONVERSION event,
    the earliest and the latest preceding TOUCH event of the same
    entity within ``lookback`` (strictly earlier, microsecond
    granularity — a touch in the same microsecond never attributes).
    Returns one row per attributed conversion: (by..., conversion id,
    conversion ts, first_touch_id, last_touch_id); conversions with no
    in-window touch are dropped (NULL-attribution rows are the
    difference between the two standard marketing-report variants —
    filter upstream for the other).

    Scale shape: non-touch non-conversion rows are filtered BEFORE the
    shuffle; ONE entity-key Exchange either way.  ``impl="arrow"`` (the
    ``"auto"`` default) answers each conversion with two vectorized
    ``searchsorted`` probes into the entity's sorted touch array —
    O(n log n) per entity, skew-safe.  ``impl="window"`` is the
    pure-SQL reference (two frame-sharing RANGE window aggregates of a
    zero-padded (ts_us, id) string key — the form the oracle replays),
    but Spark re-scans non-invertible min/max frames per row, so a hot
    entity costs O(rows x touches-per-window): the sf1skew hot entity
    measured a 260x straggler / 93 s vs 4 s uniform, the same trade as
    ``ewma``'s fold.  Both impls are pinned equal by
    ``test_attribution_impls_agree``."""
    from pyspark.sql import Window

    by = [] if by is None else ([by] if isinstance(by, str) else list(by))
    touch_types = list(touch_types)
    if conversion_type in touch_types:
        raise ValueError("conversion_type must not be a touch type")
    if impl not in ("auto", "arrow", "window"):
        raise ValueError("impl must be auto|arrow|window")
    n, unit = lookback.split()
    per_unit = {"second": 1, "minute": 60, "hour": 3600, "day": 86400}
    us = int(n) * per_unit[unit.rstrip("s")] * 1_000_000

    base = (events
            .filter(F.col(type_col).isin([*touch_types, conversion_type]))
            .select(*by, F.col(id_col), F.col(ts_col),
                    F.col(type_col).alias("__t"),
                    F.unix_micros(F.col(ts_col).cast("timestamp"))
                     .alias("__us")))

    if impl in ("auto", "arrow"):
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        src = base.schema
        out_schema = T.StructType([
            *[T.StructField(b, src[b].dataType, True) for b in by],
            T.StructField("conversion_id", src[id_col].dataType, True),
            T.StructField("conversion_ts", src[ts_col].dataType, True),
            T.StructField("first_touch_id", src[id_col].dataType, True),
            T.StructField("last_touch_id", src[id_col].dataType, True),
        ])
        out_cols = [*by, "conversion_id", "conversion_ts",
                    "first_touch_id", "last_touch_id"]

        # PARTITION-wise (one python call per Arrow batch, not per
        # entity — the ewma lesson; per-group applyInPandas measured
        # 328s at sf100/1.5M entities vs ~window-parity this way).
        # Every group in a batch vectorizes through TWO searchsorted
        # probes on a composite (dense-group-rank, offset-us) int64
        # key; entities spanning batch boundaries continue via a
        # carried touch window (bounded by touches-per-lookback).
        def per_partition(pdfs):
            carry_key = None
            carry_us = np.empty(0, dtype=np.int64)
            carry_id = None
            for pdf in pdfs:
                if not len(pdf):
                    continue
                pdf = pdf.reset_index(drop=True)
                gkeys = pd.MultiIndex.from_frame(pdf[by]) if len(by) > 1 \
                    else pd.Index(pdf[by[0]])
                # use_na_sentinel=False: the default assigns NULL keys
                # code -1 instead of an appearance-order code, which
                # breaks the composite-key blocks (negative keys) AND
                # the carried window's code-0 assumption — the NULL-key
                # group's conversions silently vanished
                codes, _uniq = pd.factorize(gkeys, sort=False,
                                            use_na_sentinel=False)
                usv = pdf["__us"].to_numpy(dtype=np.int64)
                base_us = int(usv.min()) - us - 2
                span = int(usv.max()) - base_us + 2
                if (codes.max() + 2) * span >= (1 << 62):
                    span = None  # absurd span: per-group fallback below
                is_conv = (pdf["__t"] == conversion_type).to_numpy()
                first_key = gkeys[0]
                prep_n = 0
                if carry_key is not None \
                        and _key_eq(first_key, carry_key) \
                        and len(carry_us):
                    prep_n = len(carry_us)
                if span is not None:
                    key = codes.astype(np.int64) * span + (usv - base_us)
                    t_key = key[~is_conv]
                    t_id = pdf.loc[~is_conv, id_col].to_numpy()
                    if prep_n:
                        ck = np.maximum(carry_us - base_us, 0)
                        t_key = np.concatenate([ck, t_key])
                        t_id = np.concatenate([carry_id, t_id])
                        order = np.argsort(t_key, kind="stable")
                        t_key, t_id = t_key[order], t_id[order]
                    c = pdf[is_conv]
                    c_key = key[is_conv]
                    hi = np.searchsorted(t_key, c_key, side="left")
                    lo = np.searchsorted(t_key, c_key - us, side="left")
                    ok = lo < hi
                    out = {b: c.loc[ok, b].to_numpy() for b in by}
                    out["conversion_id"] = c.loc[ok, id_col].to_numpy()
                    out["conversion_ts"] = c.loc[ok, ts_col].to_numpy()
                    out["first_touch_id"] = t_id[lo[ok]]
                    out["last_touch_id"] = t_id[hi[ok] - 1]
                    yield pd.DataFrame(out, columns=out_cols)
                else:  # wide spans: per-group fallback
                    first_group = True
                    for _k, g in pdf.groupby(by, sort=False, dropna=False):
                        gus = g["__us"].to_numpy(dtype=np.int64)
                        ic = (g["__t"] == conversion_type).to_numpy()
                        tus, tid = gus[~ic], g.loc[~ic, id_col].to_numpy()
                        # the carried window applies to the FIRST group
                        # here too — ignoring it lost every cross-batch
                        # attribution whenever a batch took this branch
                        if first_group and prep_n:
                            tus = np.concatenate([carry_us, tus])
                            tid = np.concatenate([carry_id, tid])
                            order = np.argsort(tus, kind="stable")
                            tus, tid = tus[order], tid[order]
                        first_group = False
                        cc = g[ic]
                        hi = np.searchsorted(tus, gus[ic], side="left")
                        lo = np.searchsorted(tus, gus[ic] - us, side="left")
                        ok = lo < hi
                        yield pd.DataFrame(
                            {**{b: cc.loc[ok, b].to_numpy() for b in by},
                             "conversion_id": cc.loc[ok, id_col].to_numpy(),
                             "conversion_ts": cc.loc[ok, ts_col].to_numpy(),
                             "first_touch_id": tid[lo[ok]],
                             "last_touch_id": tid[hi[ok] - 1]},
                            columns=out_cols)
                # carry the LAST group's in-lookback touches forward
                last_key = gkeys[-1]
                lmask = (codes == codes[-1]) & ~is_conv
                lus = usv[lmask]
                lid = pdf.loc[lmask, id_col].to_numpy()
                if carry_key is not None \
                        and _key_eq(last_key, carry_key) and prep_n:
                    lus = np.concatenate([carry_us, lus])
                    lid = np.concatenate([carry_id, lid])
                if len(lus):
                    # prune against the LAST GROUP's own max time —
                    # usv.max() is batch-global and can belong to an
                    # earlier group with far later timestamps, which
                    # discarded the whole carry for the spanning group
                    keep = lus >= int(lus.max()) - us
                    lus, lid = lus[keep], lid[keep]
                carry_key, carry_us, carry_id = last_key, lus, lid

        proj = base.repartition(*[F.col(b) for b in by]) \
                   .sortWithinPartitions(*by, "__us", id_col)
        return proj.mapInPandas(per_partition, out_schema)

    # 20-char id field: Spark's lpad TRUNCATES strings longer than the
    # pad width, so 12 chars silently corrupted snowflake-scale (>12
    # digit) int64 ids in the min/max tie-break and the decode below
    key = F.concat(F.lpad(F.col("__us").cast("string"), 20, "0"),
                   F.lit(":"),
                   F.lpad(F.col(id_col).cast("string"), 20, "0"))
    touch_key = F.when(F.col("__t") != conversion_type, key)
    w = (Window.partitionBy(*by).orderBy("__us")
         .rangeBetween(-us, -1))
    out = (base
           .select(*by, id_col, ts_col, "__t",
                   F.min(touch_key).over(w).alias("__first"),
                   F.max(touch_key).over(w).alias("__last"))
           .where((F.col("__t") == conversion_type)
                  & F.col("__first").isNotNull()))
    dec = lambda c: F.substring(c, 22, 20).cast("long")
    return out.select(*by,
                      F.col(id_col).alias("conversion_id"),
                      F.col(ts_col).alias("conversion_ts"),
                      dec(F.col("__first")).alias("first_touch_id"),
                      dec(F.col("__last")).alias("last_touch_id"))


def dedup_event_stream(events: DataFrame, keys=("event_id",),
                       time_col: str = "ts",
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup with BOUNDED state: drop events whose key
    was already seen within the watermark horizon
    (``dropDuplicatesWithinWatermark`` — a plain streaming
    ``dropDuplicates`` keeps every key ever seen and its state grows
    without bound; the watermark variant evicts keys once they age out,
    which is the only shape that survives an unbounded stream).

    Batch DataFrames take a GLOBAL ``dropDuplicates`` — deliberately
    stricter than the stream: a batch backfill drops a duplicate no
    matter how far apart the two occurrences are, while the live stream
    can re-emit a key whose state aged out past the watermark.  Treat
    the watermark as an upper bound on live-mode duplicates, not as a
    horizon the batch path replays."""
    keys = list(keys)
    if events.isStreaming:
        if dict(events.dtypes).get(time_col) == "timestamp_ntz":
            # watermarks require session-tz timestamps
            events = events.withColumn(time_col,
                                       F.col(time_col).cast("timestamp"))
        return (events.withWatermark(time_col, watermark)
                .dropDuplicatesWithinWatermark(keys))
    return events.dropDuplicates(keys)


def read_event_stream(spark, path: str, schema=None,
                      max_files_per_trigger: int = 1) -> DataFrame:
    """File-source stream over a directory of event parquet files."""
    if schema is None:
        schema = spark.read.parquet(path).schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(path))


def stream_events_to_array(stream_df: DataFrame, uri: str,
                           checkpoint_dir: str,
                           trigger_seconds: Optional[int] = None):
    """Sink: each micro-batch commits one timestamped fragment — streaming
    writes get time travel + consolidation for free.  Runs the native
    ``writeStream.format("tiledb")`` sink: exactly-once (the fragment
    name embeds the micro-batch id, so a batch replayed after a crash is
    detected and skipped), columns must match the array schema, and the
    array must exist locally.  ``trigger_seconds`` sets a processing-time
    trigger; without it the query drains the available input and stops."""
    from ..sources.spark_datasource import FORMAT_NAME, register

    register(stream_df.sparkSession)
    writer = (stream_df.writeStream
              .format(FORMAT_NAME)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    else:
        writer = writer.trigger(availableNow=True)
    return writer.start(uri)


def neardup_event_stream(events: DataFrame, text_col: str,
                         keys=(), time_col: str = "ts",
                         watermark: str = "1 hour",
                         token_hash=None) -> DataFrame:
    """Streaming content-duplicate suppression with bounded state: drop
    an event whose text's 64-bit SimHash (optionally together with
    ``keys``, e.g. a channel id) was already seen within the watermark
    horizon.  The signature is ORDER- and CASE-insensitive over the
    token multiset (lowercased, punctuation stripped), so reposts with
    shuffled words, changed punctuation, or whitespace noise collapse to
    one event — but it is an EXACT signature match: a single substituted
    token flips sign bits and the edited message passes through.  (True
    edit-distance near-dup needs banded multi-key matching —
    ``simhash_neardup_pairs`` — which streaming per-key state cannot
    express; this operator is the bounded-state streaming complement,
    not a replacement.)  State: one 8-byte signature per surviving
    event, evicted as the watermark advances (delegates to
    ``dedup_event_stream``'s watermark machinery).

    Batch DataFrames keep the EARLIEST event per signature group
    (``time_col``, then ``keys`` as tiebreak) — deterministic under any
    partitioning, unlike a plain ``dropDuplicates`` whose survivor is
    evaluation-order dependent.  The ``__simhash`` column is dropped
    from the output; ``token_hash`` overrides the signature's token
    hash family."""
    from ..operators.dedup import simhash64

    keys = list(keys)
    sig = simhash64(F.col(text_col), token_hash=token_hash)
    tagged = events.withColumn("__simhash", sig)
    if events.isStreaming:
        return dedup_event_stream(tagged, keys=[*keys, "__simhash"],
                                  time_col=time_col,
                                  watermark=watermark).drop("__simhash")
    from pyspark.sql import Window

    w = (Window.partitionBy(*keys, "__simhash")
         .orderBy(F.col(time_col).asc_nulls_last(),
                  *[F.col(c) for c in events.columns
                    if c not in (*keys, time_col)]))
    return (tagged.withColumn("__nd_rn", F.row_number().over(w))
                  .filter(F.col("__nd_rn") == 1)
                  .drop("__nd_rn", "__simhash"))
