"""Corpus-assembly operators for LLM training-data pipelines:
deterministic shuffle, hash-based train/test split, stratified + EXACT-n
sampling, domain-mixture resampling (arbitrary rates and p^alpha
temperature mixing), DSIR importance weighting + Gumbel-top-k selection,
overlapping token-window chunking, sequence packing (grouped and
global) plus fixed-length training-sequence MATERIALIZATION
(``materialize_packs``: exact concat-then-chunk with boundary-document
splitting and padding), token-budget corpus selection, PII scrubbing,
and the deterministic training-shard writer — plus the distributed
global prefix sum that backs the ungrouped variants.

Everything here is DETERMINISTIC and hash-based (no RNG state): results
are identical across runs, executor counts, and engines — the property a
reproducible data pipeline needs (``sample()``'s Bernoulli draw depends
on partition layout; a hash predicate does not).  The portable 60-bit
md5 hash makes every decision replayable in plain SQL, so each operator
is oracle-checkable in DuckDB.

Scale notes:
- shuffle/split/sample are pure row-local column expressions — zero
  shuffles beyond what the caller asks for (the shuffle operator's sort
  is the one intentional exchange: that IS the shuffle).
- sequence packing is one window cumsum per group (one shuffle on the
  group key); the greedy variant is ``applyInPandas`` per group with the
  same single shuffle.
- scrubbing is a chain of ``regexp_replace`` — whole-stage codegen.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SEP = "\x1f"  # unit separator: unambiguous multi-column packing
_BUCKETS = 10_000


def portable_hash60(cols: Sequence, seed: int = 42, salt: str = "") -> Column:
    """Positive 60-bit hash of the concatenated columns + seed, computable
    bit-for-bit in any SQL engine:
    ``('0x' || substr(md5(concat_ws(chr(31), coalesce(CAST(c AS VARCHAR),
    chr(1) || 'null')..., '<tag>')), 1, 15))::BIGINT``
    where ``<tag>`` is ``'<salt>:<seed>'`` (or just ``'<seed>'`` with no
    salt).  NULL columns coalesce to a chr(1) sentinel BEFORE the
    concat: ``concat_ws`` silently SKIPS nulls, so (NULL, 'x') and
    ('x', NULL) — or ('a','b') and ('a\\x1fb', NULL) — would otherwise
    hash identically, correlating split/sample decisions across
    distinct rows.  Non-null values hash exactly as before.
    Every operator in this module passes its own ``salt`` so that
    COMPOSED decisions are independent: without it, a split and a
    sample sharing the default seed read the identical bucket — e.g. a
    10% sample drawn after an 80/10/10 split would consist entirely of
    'train' rows (buckets 0-999)."""
    from .dedup import md5_hash60

    parts = [F.coalesce(
        (F.col(c) if isinstance(c, str) else c).cast("string"),
        F.lit("\x01null")) for c in cols]
    tag = f"{salt}:{seed}" if salt else str(seed)
    return md5_hash60(F.concat_ws(_SEP, *parts, F.lit(tag)))


def deterministic_shuffle(df: DataFrame, id_cols: Sequence[str],
                          seed: int = 42,
                          key_col: str = "shuffle_key",
                          salt: str = "shuffle") -> DataFrame:
    """Reproducible global shuffle for training-example ordering: sort by
    a seeded portable hash of the id columns.  The sort is a range
    exchange on the 8-byte key — the minimum any true global shuffle
    costs — and the permutation is a pure function of (ids, seed), so
    re-runs, resumed jobs, and other engines produce the same order.
    Change ``seed`` per epoch for fresh permutations."""
    return (df.withColumn(key_col, portable_hash60(id_cols, seed, salt=salt))
              .orderBy(key_col, *id_cols))


def hash_split(df: DataFrame, id_cols: Sequence[str],
               weights: Dict[str, float], seed: int = 42,
               split_col: str = "split", salt: str = "split") -> DataFrame:
    """Assign each row to a named split ('train'/'val'/'test', any names)
    by hash bucket — stable under reruns and insensitive to row order or
    partitioning, unlike ``randomSplit``.  Weights must sum to ~1; each
    row lands in exactly one split."""
    total = sum(weights.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split weights must sum to 1, got {total}")
    bucket = portable_hash60(id_cols, seed, salt=salt) % _BUCKETS
    expr = None
    acc = 0.0
    last = list(weights)[-1]
    for name, w in weights.items():
        acc += w
        hi = _BUCKETS if name == last else int(round(acc * _BUCKETS))
        cond = bucket < F.lit(hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn(split_col, expr)


def stratified_sample(df: DataFrame, strata_col: str,
                      fractions: Dict[str, float], id_cols: Sequence[str],
                      seed: int = 42,
                      default_fraction: float = 0.0,
                      salt: str = "sample") -> DataFrame:
    """Deterministic per-stratum subsample: keep a row iff its hash
    bucket falls below the stratum's fraction.  Unlike ``sampleBy`` the
    kept set is a pure function of (ids, seed) — rerunning, adding
    executors, or repartitioning returns the SAME sample, and the rates
    are exact in expectation per stratum."""
    bucket = portable_hash60(id_cols, seed, salt=salt) % _BUCKETS
    thr = None
    default_thr = F.lit(int(round(default_fraction * _BUCKETS)))
    for value, frac in fractions.items():
        # None keys the NULL stratum: `col == None` is never true, so
        # NULL rows would silently fall through to default_fraction
        # (resample_strata handles this identically)
        cond = F.col(strata_col).isNull() if value is None \
            else F.col(strata_col) == value
        t = F.lit(int(round(frac * _BUCKETS)))
        thr = F.when(cond, t) if thr is None else thr.when(cond, t)
    thr = default_thr if thr is None else thr.otherwise(default_thr)
    return df.filter(bucket < thr)


def chunk_documents(df: DataFrame, text_col: str, id_cols: Sequence[str],
                    chunk_tokens: int = 512, overlap: int = 64,
                    tokens_col: Optional[Column] = None,
                    keep_cols: Optional[Sequence[str]] = None) -> DataFrame:
    """Split documents into overlapping token windows (context-length
    preprocessing): chunks start every ``chunk_tokens - overlap`` tokens;
    short documents yield one whole-document chunk.

    Output columns are ``id_cols`` (+ ``keep_cols``) plus ``chunk_id``,
    ``chunk_text``, ``chunk_n_tokens`` — all OTHER input columns
    (including ``text_col`` itself) are deliberately dropped before the
    explode so the generate stays narrow (wide passthrough would
    replicate every enrichment column once per chunk).  Pass metadata
    that each chunk must carry via ``keep_cols``, or join enrichments
    back on ``id_cols`` afterwards.

    Explodes cheap chunk INDICES, then slices each chunk once on its own
    row — exploding an array of pre-built chunk strings would let
    InferFiltersFromGenerate clone the whole slice+concat expression into
    inferred predicates (evaluated ~3x per row, interpreted).
    ``tokens_col`` overrides the whitespace tokenizer."""
    if not 0 <= overlap < chunk_tokens:
        # a negative overlap widens the stride past the chunk length —
        # tokens between chunks would be in NO chunk (silent data loss)
        raise ValueError(
            "overlap must satisfy 0 <= overlap < chunk_tokens "
            f"(got overlap={overlap}, chunk_tokens={chunk_tokens})")
    stride = chunk_tokens - overlap
    if tokens_col is not None:
        toks = tokens_col
    else:
        # the canonical whitespace tokenizer (empty text = ZERO tokens,
        # same rule whitespace_token_count counts by); empty docs still
        # emit one empty chunk for id traceability
        from .text import whitespace_tokens

        toks = whitespace_tokens(F.col(text_col))
    carried = [*id_cols, *(keep_cols or ())]
    base = df.select(*[F.col(c) for c in carried], toks.alias("__toks"))
    n = F.size("__toks")
    n_chunks = F.greatest(F.lit(1),
                          F.ceil((n - overlap) / F.lit(stride)).cast("int"))
    pos = F.sequence(F.lit(0), n_chunks - 1)
    chunk = F.slice("__toks", F.col("__ci") * stride + 1, chunk_tokens)
    return (base.select(*carried, "__toks", F.explode(pos).alias("__ci"))
                .select(*carried,
                        F.col("__ci").cast("long").alias("chunk_id"),
                        F.concat_ws(" ", chunk).alias("chunk_text"),
                        F.size(chunk).cast("long").alias("chunk_n_tokens")))


def resample_strata(df: DataFrame, strata_col: str,
                    rates: Dict[str, float], id_cols: Sequence[str],
                    seed: int = 42, default_rate: float = 1.0,
                    copy_col: str = "copy_id",
                    salt: str = "resample") -> DataFrame:
    """Deterministic per-stratum resampling at arbitrary rates — the
    domain-mixture primitive (`rates={'en': 0.5, 'code': 2.5}` halves
    'en' and emits 2-3 copies of each 'code' row).

    Rate r = k + f (k integer, f fractional): every row gets k copies,
    plus one more iff its hash bucket < f — so expected copies = r
    exactly, and the output is a pure function of (ids, seed): rerunning
    or repartitioning yields the identical multiset.  Rows are
    replicated via ``explode(sequence(...))`` (no shuffle); ``copy_col``
    (0..k) disambiguates copies downstream (e.g. for a per-copy shuffle
    key)."""
    bucket = portable_hash60(id_cols, seed, salt=salt) % _BUCKETS
    n_copies = None
    for value, r in rates.items():
        if r < 0:
            raise ValueError(f"negative rate for {value!r}")
        k, f = int(r), r - int(r)
        n = F.lit(k) + F.when(bucket < F.lit(int(round(f * _BUCKETS))), 1) \
            .otherwise(0)
        # null-safe: a NULL stratum must be able to carry its own rate
        # (a plain == is never true for NULL and the row would silently
        # fall through to default_rate)
        cond = (F.col(strata_col).isNull() if value is None
                else F.col(strata_col) == value)
        n_copies = F.when(cond, n) if n_copies is None \
            else n_copies.when(cond, n)
    kd, fd = int(default_rate), default_rate - int(default_rate)
    nd = F.lit(kd) + F.when(bucket < F.lit(int(round(fd * _BUCKETS))), 1) \
        .otherwise(0)
    n_copies = nd if n_copies is None else n_copies.otherwise(nd)
    return (df.withColumn("__n_copies", n_copies)
              .filter(F.col("__n_copies") > 0)
              .withColumn(copy_col,
                          F.explode(F.sequence(F.lit(0), F.col("__n_copies") - 1)))
              .drop("__n_copies"))


def global_running_sum(df: DataFrame, order_cols: Sequence[str],
                       value_col: str, cum_col: str = "cum",
                       num_buckets: int = 64,
                       bounds: Optional[Sequence[float]] = None) -> DataFrame:
    """Globally-ordered running sum WITHOUT a single-task window: range-
    bucket on the first order column (sampled coarse quantiles — bounds
    only need to balance tasks), window-cumsum per bucket in parallel,
    then add each bucket's carry-in (the total of all earlier buckets,
    a num_buckets-row lazy spine cumsum, broadcast back).  Same
    decomposition as the keyless as-of carry (operators/asof.py
    ``_bucketed_fill`` — kept separate because that carry is per-column
    last-non-null, not a sum); the answer equals the naive global window
    exactly.  First order column may be numeric/timestamp/date (bucketed
    on a double monotonic view) or string (bucketed on sampled string
    cuts under UTF8_BINARY); remaining columns break ties within a
    bucket.
    Rows with a null first order column land in bucket 0, matching the
    nulls-first position a plain ascending global window gives them.

    ``bounds``: precomputed cut values in the first column's monotonic
    numeric space (epoch micros for timestamps, epoch days for dates,
    raw value otherwise) — e.g. from
    ``stats_bounds.parquet_range_bounds`` — skipping the sampled
    quantile job; any cut set gives the same answer."""
    from .stats_bounds import (_quote_ident, bucket_index, monotonic_view,
                               monotonic_view_sql, resolve_bounds)

    spark = df.sparkSession
    first = order_cols[0]
    first_dt = dict(df.dtypes)[first]
    if (first_dt.startswith("timestamp") or first_dt.startswith("decimal")
            or first_dt in ("tinyint", "smallint", "int", "bigint",
                            "float", "double", "date")):
        d = monotonic_view(first, first_dt)
        d_sql = monotonic_view_sql(first, first_dt)
        bounds = resolve_bounds(df, d, num_buckets, bounds)
    elif first_dt == "string":
        # string order columns range-bucket in STRING space: cuts are
        # sampled strings and every comparison (bucket assignment AND
        # the per-bucket window) happens under Spark's UTF8_BINARY
        # ordering, so buckets partition the sort order consistently.
        # (Casting strings to numbers would NOT: '10' < '9'
        # lexicographically but 9.0 < 10.0 numerically.)
        from .stats_bounds import string_range_bounds

        d_sql = _quote_ident(first)
        bounds = (sorted({str(b) for b in bounds}) if bounds is not None
                  else string_range_bounds(df, first, num_buckets))
    else:
        # boolean/binary/complex first order column — fall back to the
        # correct-but-single-task window.
        w = (Window.partitionBy(F.lit(0))
             .orderBy(*[F.col(c) for c in order_cols])
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return df.withColumn(cum_col, F.sum(value_col).over(w))
    order = [F.col(c) for c in order_cols]
    if not bounds:
        w = (Window.partitionBy(F.lit(0)).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return df.withColumn(cum_col, F.sum(value_col).over(w))
    # null first-order values yield bucket 0 (bucket_index's default),
    # matching the nulls-first position of a plain ascending window;
    # SQL-snippet form -> codegen'd binary-search IF tree
    # (stats_bounds.bucket_index)
    df2 = df.withColumn("__gcs_bkt", bucket_index(d_sql, bounds))
    wb = (Window.partitionBy("__gcs_bkt").orderBy(*order)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    totals = df2.groupBy("__gcs_bkt").agg(F.sum(value_col).alias("__t"))
    spine = spark.range(len(bounds) + 1).select(
        F.col("id").cast("int").alias("__gcs_bkt"))
    # rowsBetween(..., -1): bucket k's carry-in excludes its own total;
    # the num_buckets-row single-partition window is deliberate and
    # trivial (partition key shiftright(bkt,31)==0 always, but unlike a
    # lit(0) it is not constant-folded into an empty partition spec,
    # which would trip the WindowExec warning)
    wc = (Window.partitionBy(F.shiftright(F.col("__gcs_bkt"), 31)).orderBy("__gcs_bkt")
          .rowsBetween(Window.unboundedPreceding, -1))
    carry = (spine.join(totals, on="__gcs_bkt", how="left")
             .select("__gcs_bkt",
                     F.coalesce(F.sum("__t").over(wc), F.lit(0)).alias("__gcs_carry")))
    return (df2.join(F.broadcast(carry), on="__gcs_bkt", how="left")
               .withColumn(cum_col,
                           F.sum(value_col).over(wb) + F.col("__gcs_carry"))
               .drop("__gcs_bkt", "__gcs_carry"))


def grouped_running_sum(df: DataFrame, by_cols: Sequence[str],
                        order_cols: Sequence[str], value_col: str,
                        cum_col: str = "cum", num_buckets: int = 64,
                        bounds: Optional[Sequence[float]] = None) -> DataFrame:
    """PER-GROUP globally-ordered running sum without one-task-per-group
    windows — the grouped sibling of :func:`global_running_sum`.  A
    plain ``Window.partitionBy(group)`` serializes each group into ONE
    task, so a 100 TB corpus with 20 sources uses 20 tasks; this
    decomposition range-buckets the first order column with GROUP-SHARED
    cuts (balance only — any cut set gives the same answer), window-
    cumsums per (group, bucket) in parallel, and adds each (group,
    bucket)'s carry-in: the group's earlier-bucket totals, a tiny
    n_groups x n_buckets aggregate windowed per group and joined back
    (AQE broadcasts it).  Intended for SCALAR rows (ids + sizes) — keep
    heavy payload columns out and join the cumsum back by id.

    Distributed path covers numeric/timestamp/date AND string first
    order columns (string cuts compare under UTF8_BINARY — consistent
    with orderBy); falls back to the correct-but-one-task-per-group
    window only for boolean/binary/complex order columns or when
    bounds degenerate."""
    by_cols = list(by_cols)
    from .stats_bounds import (_quote_ident, bucket_index, monotonic_view,
                               monotonic_view_sql, resolve_bounds)

    order = [F.col(c) for c in order_cols]
    first = order_cols[0]
    first_dt = dict(df.dtypes)[first]
    fallback_w = (Window.partitionBy(*by_cols).orderBy(*order)
                  .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    if (first_dt.startswith("timestamp") or first_dt.startswith("decimal")
            or first_dt in ("tinyint", "smallint", "int", "bigint",
                            "float", "double", "date")):
        d = monotonic_view(first, first_dt)
        d_sql = monotonic_view_sql(first, first_dt)
        bounds = resolve_bounds(df, d, num_buckets, bounds)
    elif first_dt == "string":
        # string ids are the common LLM-corpus order key; bucket them in
        # STRING space (sampled string cuts, UTF8_BINARY comparisons —
        # see global_running_sum) so the distributed path holds instead
        # of the old one-task-per-group window fallback (VERDICT r12
        # item 3).
        from .stats_bounds import string_range_bounds

        d_sql = _quote_ident(first)
        bounds = (sorted({str(b) for b in bounds}) if bounds is not None
                  else string_range_bounds(df, first, num_buckets))
    else:
        # LOUD fallback for the remaining non-range-bucketable types
        # (boolean/binary/complex): with a constant/low-cardinality
        # group key this window funnels the whole input through one
        # task per group — the exact straggler the bucketed path
        # exists to avoid.
        import warnings

        warnings.warn(
            f"grouped_running_sum: first order column {first!r} has "
            f"non-range-bucketable type {first_dt!r}; falling back to "
            "a one-task-per-group window (a scale bottleneck). Order "
            "by a numeric/timestamp/string id first for the "
            "distributed path.",
            RuntimeWarning, stacklevel=2)
        return df.withColumn(cum_col, F.sum(value_col).over(fallback_w))
    if not bounds:
        return df.withColumn(cum_col, F.sum(value_col).over(fallback_w))
    df2 = df.withColumn("__grs_bkt", bucket_index(d_sql, bounds))
    wb = (Window.partitionBy(*by_cols, "__grs_bkt").orderBy(*order)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # The totals branch is a SECOND, column-pruned pass over the source
    # (it reads only by/order/value columns — when value is a derived
    # size that still means recomputing it, but never moving payloads).
    # Deriving totals from the window output instead would not help:
    # column pruning shrinks that branch's Exchange so ReuseExchange
    # cannot share it anyway.
    totals = (df2.groupBy(*by_cols, "__grs_bkt")
              .agg(F.sum(value_col).alias("__grs_t")))
    wc = (Window.partitionBy(*by_cols).orderBy("__grs_bkt")
          .rowsBetween(Window.unboundedPreceding, -1))
    carry = totals.select(
        *by_cols, "__grs_bkt",
        F.coalesce(F.sum("__grs_t").over(wc), F.lit(0)).alias("__grs_carry"))
    # NULL group keys are real groups to partitionBy/groupBy, so the
    # carry join must be null-safe (<=> plans as a hash-join key, same
    # physical shape as '=').  No broadcast hint: the carry frame is
    # n_groups x n_buckets rows — tiny for typical source counts, but
    # `by` is user-supplied and may be high-cardinality; AQE broadcasts
    # it at runtime when it is actually under the threshold.
    keys = by_cols + ["__grs_bkt"]
    carry_r = carry
    carry_r = carry_r.withColumnsRenamed({c: "__grs_r_" + c for c in keys})
    cond = df2["__grs_bkt"].eqNullSafe(carry_r["__grs_r___grs_bkt"])
    for c in by_cols:
        cond = cond & df2[c].eqNullSafe(carry_r["__grs_r_" + c])
    return (df2.join(carry_r, on=cond, how="left")
               .withColumn(cum_col,
                           F.sum(value_col).over(wb) + F.col("__grs_carry"))
               .drop("__grs_bkt", "__grs_carry",
                     *["__grs_r_" + c for c in keys]))


def pack_sequences(df: DataFrame, size_col: str, id_cols: Sequence[str],
                   max_tokens: int, by: Optional[str] = None,
                   mode: str = "offset",
                   bounds: Optional[Sequence[float]] = None,
                   allow_single_task: bool = False) -> DataFrame:
    """Assign documents to fixed-token-budget packs (context windows).

    ``mode="offset"`` (default, SQL-expressible): documents are laid out
    contiguously in id order within each ``by`` group; a document joins
    the pack its START offset falls in (concat-then-chunk semantics —
    packs may overflow by at most one document's tail).  The cumsum is
    the DISTRIBUTED per-group prefix sum (:func:`grouped_running_sum`,
    round 9) — a plain per-group window would serialize each group
    into one task, the wrong shape when a corpus has few large groups.

    ``mode="greedy"``: classic first-fit-in-order — a document that
    would overflow the current pack starts a new one, so no pack exceeds
    ``max_tokens`` (oversized single documents get their own pack).
    Runs as ``applyInPandas`` per group (sequential within a group by
    definition — packing is a running-state fold; parallelism comes from
    the ``by`` grouping).  With ``by=None`` the ENTIRE input funnels
    through one executor task — refused unless ``allow_single_task=True``
    (use ``mode="offset"``, which distributes via the bucketed prefix
    sum, or pass a ``by`` grouping).

    ``bounds`` (offset mode): precomputed range-bucket cut values for
    the first id column, forwarded to ``global_running_sum`` /
    ``grouped_running_sum`` — skips their sampled-quantile job.

    Adds ``pack_id`` (long, per group) and ``pack_offset`` (the
    document's token start within its PACK, i.e. layout start modulo
    ``max_tokens`` — both modes)."""
    if mode == "offset":
        if by is None:
            # no grouping: a plain window would be one global task —
            # use the bucketed distributed prefix sum instead
            out = global_running_sum(df, list(id_cols), size_col,
                                     cum_col="__cum", bounds=bounds)
            start = F.col("__cum") - F.col(size_col)
            return (out.withColumn("pack_id", F.floor(start / max_tokens))
                       .withColumn("pack_offset",
                                   (start % max_tokens).cast("long"))
                       .drop("__cum"))
        out = grouped_running_sum(df, [by], list(id_cols), size_col,
                                  cum_col="__psq_cum", bounds=bounds)
        start = F.col("__psq_cum") - F.col(size_col)
        return (out.withColumn("pack_id", F.floor(start / max_tokens))
                   .withColumn("pack_offset",
                               (start % max_tokens).cast("long"))
                   .drop("__psq_cum"))
    if mode != "greedy":
        raise ValueError(f"unknown mode {mode!r}")
    if by is None and not allow_single_task:
        # same guard pattern as the LWW read-amplification refusal
        # (sources/spark_datasource.py): fail loudly BEFORE silently
        # serializing the whole corpus through one executor
        raise ValueError(
            "pack_sequences(mode='greedy', by=None) runs the entire input "
            "as ONE task (first-fit is a sequential fold).  Use "
            "mode='offset' (distributed, concat-then-chunk semantics), "
            "pass a 'by' grouping, or set allow_single_task=True for "
            "small inputs.")

    from pyspark.sql import types as T

    out_schema = T.StructType(
        list(df.schema.fields)
        + [T.StructField("pack_id", T.LongType()),
           T.StructField("pack_offset", T.LongType())])
    sort_cols = list(id_cols)

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(sort_cols, kind="mergesort").reset_index(drop=True)
        pack_ids, offsets = [], []
        pid, used = 0, 0
        for size in pdf[size_col]:
            size = int(size)
            if used > 0 and used + size > max_tokens:
                pid += 1
                used = 0
            pack_ids.append(pid)
            offsets.append(used)
            used += size
        pdf["pack_id"] = pd.Series(pack_ids, dtype="int64")
        pdf["pack_offset"] = pd.Series(offsets, dtype="int64")
        return pdf

    # string literal, NOT F.lit(0): an integer literal in groupBy is
    # parsed as a group-by-ordinal and fails analysis
    key = [by] if by else [F.lit("__all")]
    return df.groupBy(*key).applyInPandas(pack, schema=out_schema)


def materialize_packs(df: DataFrame, tokens_col, id_cols: Sequence[str],
                      max_tokens: int, by: Optional[str] = None,
                      pad_token=None, out_col: str = "pack_tokens",
                      bounds: Optional[Sequence[float]] = None,
                      split_pieces: int = 64) -> DataFrame:
    """Materialize the ACTUAL fixed-length training sequences —
    ``pack_sequences`` assigns documents to packs; this emits the pack
    CONTENTS: documents' token arrays laid contiguously in id order
    (per ``by`` group), the stream chunked every ``max_tokens`` tokens
    (exact concat-then-chunk: a document crossing a boundary SPLITS),
    and the group's final short chunk right-padded with ``pad_token``
    (pass None for a ragged tail).  One row per (group, pack_id):
    ``(by?, pack_id, out_col, n_real, n_pad, n_docs)`` — the
    data-loader input a trainer memory-maps.

    Scale shape (DISTRIBUTED grouped cumsum, round 9): a grouped window
    cumsum keyed on the group alone serializes each group into ONE task
    — a 100 TB corpus with 20 sources would use 20 tasks, and one giant
    document stalls its whole group (the r8 BENCH_skew 19.3 straggler).
    The start offsets now come from :func:`grouped_running_sum` applied
    to the payload frame: the window partitions on (group, id-range
    bucket) — cuts sampled from the raw id column BEFORE any derived
    size exists, so the sampling job never tokenizes — spreading
    documents over ALL tasks; the per-bucket carry is a tiny totals
    aggregate joined back as a broadcast.  ``by=None`` uses the same
    machinery with a constant group.  Each document's piece-split is
    row-local in its bucket's task (bounded by that document alone, not
    its group) and the (group, pack_id) regroup distributes pack
    assembly.  Costs vs the old one-Exchange-per-group plan: the size
    column is computed twice (the carry's totals branch is a second
    column-pruned source pass) and token payloads cross two Exchanges
    (bucket window + pack regroup) — the price of unbounded
    parallelism.

    GIANT documents (more than ``split_pieces`` packs, default
    64*max_tokens tokens) are additionally pre-split into
    piece-aligned super-chunks and hash-repartitioned before piece
    emission, so a single 5M-token document's slice/partial-agg/
    shuffle-write work spreads across ~n/(split_pieces*max_tokens)
    tasks instead of one (the r10 BENCH_skew 4.7 pad-batch
    straggler).  Only giant rows pay the extra exchange."""
    from .stats_bounds import monotonic_view, resolve_bounds

    if split_pieces < 1:
        # 0 would divide the chunk-count floor by zero (an ANSI runtime
        # error; NULL chunk geometry under non-ANSI)
        raise ValueError(f"split_pieces must be >= 1, got {split_pieces}")
    grp_expr = F.col(by) if by else F.lit(0)
    toks = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    # bounds from the RAW first id column (pruned scan, no tokenize) —
    # or caller-supplied (e.g. stats_bounds.parquet_range_bounds, no
    # job at all); any cut set gives the same answer — balance only
    first = id_cols[0]
    first_dt = dict(df.select(*id_cols).dtypes)[first]
    if bounds is None and (
            first_dt.startswith("timestamp") or first_dt.startswith("decimal")
            or first_dt in ("tinyint", "smallint", "int", "bigint",
                            "float", "double", "date")):
        bounds = resolve_bounds(df, monotonic_view(first, first_dt), 64)
    base = df.select(
        grp_expr.alias("__grp"), *[F.col(c) for c in id_cols],
        toks.alias("__toks"))
    # null arrays count as empty documents (size(null) is null); empty
    # docs contribute nothing to the cumsum — dropping them BEFORE it
    # is offset-equivalent
    base = (base.withColumn(
                "__n", F.coalesce(F.size(F.col("__toks")), F.lit(0)))
                .filter(F.col("__n") > 0))
    base = grouped_running_sum(base, ["__grp"], list(id_cols), "__n",
                               cum_col="__cum", bounds=bounds)
    base = base.withColumn("__start", F.col("__cum") - F.col("__n")) \
               .drop("__cum")
    off0 = F.col("__start") % max_tokens
    n_pieces = F.floor((off0 + F.col("__n") - 1) / max_tokens) + 1

    # GIANT-DOCUMENT pre-split (round 11, the BENCH_skew 4.7
    # straggler): a document's piece emission is row-local, so one
    # 5M-token document slices + partial-aggs + shuffle-writes its
    # whole payload in ONE task.  Documents spanning more than
    # ``split_pieces`` packs are first cut — row-locally, a handful of
    # big slices — into piece-ALIGNED super-chunks (every chunk
    # boundary is a pack boundary: chunk s>0 starts at a multiple of
    # max_tokens in the global token stream, so its local off0 is 0
    # and its pieces reproduce the original pack_id/pos/seg exactly),
    # then hash-repartitioned on their global start so the per-task
    # emission envelope is chunk-sized, not document-sized.  Only
    # giant rows pay the extra exchange; the normal branch is
    # untouched, and both branches read the same grouped_running_sum
    # exchange (ReusedExchange).  ``__head`` threads the
    # document-head flag so a later chunk's first piece doesn't count
    # as a document start in n_docs.
    big = F.col("__n") > split_pieces * max_tokens

    def chunk(s):
        p_lo, p_hi = s * split_pieces, \
            F.least((s + 1) * split_pieces, n_pieces)
        cs = F.when(p_lo == 0, F.lit(0).cast("long")).otherwise(
            F.lit(max_tokens) - off0 + (p_lo - 1) * max_tokens)
        ce = F.when(p_hi == n_pieces, F.col("__n")).otherwise(
            F.lit(max_tokens) - off0 + (p_hi - 1) * max_tokens)
        return F.struct(
            (F.col("__start") + cs).alias("start"),
            (ce - cs).alias("n"),
            (s == 0).alias("head"),
            F.slice(F.col("__toks"), (cs + 1).cast("int"),
                    (ce - cs).cast("int")).alias("toks"))

    n_chunks = F.floor((n_pieces - 1) / split_pieces) + 1
    cols = ["__grp", *id_cols]
    chunked = (base.filter(big)
               .withColumn("__chunks",
                           F.transform(F.sequence(
                               F.lit(0).cast("long"), n_chunks - 1),
                               chunk))
               .select(*cols, F.explode_outer("__chunks").alias("c"))
               .select(*cols, F.col("c.start").alias("__start"),
                       F.col("c.n").alias("__n"),
                       F.col("c.head").alias("__head"),
                       F.col("c.toks").alias("__toks"))
               .repartition(F.col("__start")))
    base = (base.filter(~big).withColumn("__head", F.lit(True))
                .select(*chunked.columns)
                .unionByName(chunked))
    # re-derive per-row geometry on the (possibly chunked) rows
    off0 = F.col("__start") % max_tokens
    k0 = F.floor(F.col("__start") / max_tokens)
    n_pieces = F.floor((off0 + F.col("__n") - 1) / max_tokens) + 1

    def piece(j):
        seg_start = F.when(j == 0, F.lit(0).cast("long")).otherwise(
            F.lit(max_tokens) - off0 + (j - 1) * max_tokens)
        seg_len = F.least(
            F.col("__n") - seg_start,
            F.when(j == 0, F.lit(max_tokens) - off0)
             .otherwise(F.lit(max_tokens).cast("long")))
        return F.struct(
            (k0 + j).alias("pack_id"),
            (F.col("__start") + seg_start).alias("pos"),
            ((seg_start == 0) & F.col("__head")).alias("first"),
            F.slice(F.col("__toks"), (seg_start + 1).cast("int"),
                    seg_len.cast("int")).alias("seg"))

    # empty docs already dropped (sequence(0, -1) would run descending);
    # the transform derives seg's element type from the input, whatever
    # the token type is.  explode_OUTER: __n > 0 guarantees >= 1 piece,
    # and a plain explode invites InferFiltersFromGenerate to duplicate
    # the ENTIRE piece transform (slices included) into a size()>0
    # filter — three payload evaluations per row (the bm25 Generate
    # lesson, see test_bm25_generate_has_no_array_passthrough)
    exploded = (base.withColumn("__pieces",
                                F.transform(F.sequence(
                                    F.lit(0).cast("long"), n_pieces - 1),
                                    piece))
                    .select("__grp", F.explode_outer("__pieces").alias("p"))
                    .select("__grp", "p.pack_id", "p.pos", "p.first",
                            "p.seg"))
    flat = F.flatten(F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "seg"))),
        lambda s: s["seg"]))
    agg = (exploded.groupBy("__grp", "pack_id")
           .agg(flat.alias("__flat"),
                F.sum(F.col("first").cast("long")).alias("n_docs")))
    n_real = F.size(F.col("__flat"))
    if pad_token is not None:
        filled = F.concat(
            F.col("__flat"),
            F.array_repeat(F.lit(pad_token),
                           (F.lit(max_tokens) - n_real).cast("int")))
    else:
        filled = F.col("__flat")
    out = (agg.withColumn("n_real", n_real.cast("long"))
              .withColumn("n_pad",
                          (F.lit(max_tokens) - n_real).cast("long"))
              .withColumn(out_col, filled)
              .drop("__flat"))
    if by:
        return out.withColumnRenamed("__grp", by)
    return out.drop("__grp")


def select_token_budget(df: DataFrame, size_col: str,
                        order_cols: Sequence, budget: int,
                        by: Optional[str] = None,
                        bounds: Optional[Sequence[float]] = None) -> DataFrame:
    """Corpus selection under a token budget: walk rows in ``order_cols``
    order (e.g. quality descending, id for determinism) within each
    ``by`` group and keep rows while the running token total stays under
    ``budget`` — a row is kept iff its cumulative size up to and
    including it is <= budget, so the kept set is a prefix of the
    ranking.  One window cumsum per group, parallel across groups; with
    no ``by`` and name-only ``order_cols`` (first one numeric) the
    cumsum routes through the bucketed distributed prefix sum instead of
    a single global window task."""
    if by is None and all(isinstance(c, str) for c in order_cols):
        out = global_running_sum(df, list(order_cols), size_col,
                                 cum_col="__cum", bounds=bounds)
        return out.filter(F.col("__cum") <= budget).drop("__cum")
    grp = F.col(by) if by else F.lit(0)
    w = (Window.partitionBy(grp)
         .orderBy(*[c if isinstance(c, Column) else F.col(c)
                    for c in order_cols])
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (df.withColumn("__cum", F.sum(size_col).over(w))
              .filter(F.col("__cum") <= budget)
              .drop("__cum"))


# PII scrub patterns: RE2-safe (no lookaround) so the same pattern runs
# in Spark (java.util.regex) and DuckDB (RE2) with identical matches.
_SCRUB_RULES = (
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"https?://[^\s]+", "<URL>"),
    (r"\b\d{7,}\b", "<NUM>"),  # long digit runs: phones, SSNs, ids
)


def scrub_text(col: str | Column,
               rules: Sequence = _SCRUB_RULES) -> Column:
    """Redact emails / URLs / long digit runs with typed placeholders —
    a chain of ``regexp_replace`` (whole-stage codegen, zero Python)."""
    c = F.col(col) if isinstance(col, str) else col
    for pattern, repl in rules:
        c = F.regexp_replace(c, pattern, repl)
    return c


def sample_exact(df: DataFrame, id_cols: Sequence[str], n: int,
                 by: Optional[str] = None, seed: int = 42,
                 salt: str = "sample_exact") -> DataFrame:
    """Deterministic EXACT-n sample — "give me exactly n rows" (per
    ``by`` group if given), reproducible across runs, partitionings, and
    engines: rows are ranked by the portable seeded hash of their ids
    (ids as tiebreak) and the n smallest win.  The rate-based
    ``stratified_sample`` keeps each row independently (exact only in
    expectation); this is the eval-set / demo-slice builder where the
    count must be exact.

    Scale shape: ungrouped -> ``orderBy(hash).limit(n)``, which Spark
    executes as TakeOrderedAndProject (per-partition top-n + driver
    merge — no global sort, no single-task window); grouped -> one
    ``row_number`` window per group, a single shuffle on the group key.
    Groups smaller than ``n`` keep all their rows."""
    h = portable_hash60(id_cols, seed, salt=salt)
    if by is None:
        return (df.withColumn("__se_h", h)
                  .orderBy("__se_h", *id_cols).limit(n)
                  .drop("__se_h"))
    w = (Window.partitionBy(by)
         .orderBy(F.col("__se_h"), *[F.col(c) for c in id_cols]))
    return (df.withColumn("__se_h", h)
              .withColumn("__se_rn", F.row_number().over(w))
              .filter(F.col("__se_rn") <= n)
              .drop("__se_h", "__se_rn"))


def importance_weights(df: DataFrame, text_col: str, id_col: str,
                       target: DataFrame,
                       target_text_col: Optional[str] = None,
                       n_buckets: int = 8192, smoothing: float = 1.0,
                       token_hash=None,
                       tokens_col: Optional[Column] = None,
                       target_tokens_col: Optional[Column] = None
                       ) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by how much more its hashed-unigram features look like the
    TARGET corpus than like the raw corpus itself:

        log_weight(doc) = sum over tokens of
            ln p_target(bucket(tok)) - ln p_raw(bucket(tok))

    where ``bucket(tok) = hash(tok) mod n_buckets`` and both bucket
    distributions carry add-``smoothing`` mass.  High log_weight = the
    document is target-like; feed the result to ``dsir_resample`` to
    draw the selection.

    Scale shape: one postings pass per corpus ((id, 4-byte bucket)
    rows, map-side combine into at-most-``n_buckets``-row count
    tables), the bucket log-ratio table is broadcast back onto the raw
    postings (n_buckets rows — never a shuffle of the corpus), and one
    (id)-keyed aggregation sums per-doc.  Raw text never shuffles.
    Docs with zero tokens are dropped (no features to weigh).

    ``token_hash`` defaults to ``xxhash64``; pass
    ``dedup.md5_hash60`` for a cross-engine-checkable bucketing."""
    from .text import whitespace_tokens

    th = token_hash or F.xxhash64
    toks = (tokens_col if tokens_col is not None
            else whitespace_tokens(text_col))
    t_toks = (target_tokens_col if target_tokens_col is not None
              else whitespace_tokens(target_text_col or text_col))

    bucket = lambda c: F.pmod(th(c), F.lit(n_buckets))  # noqa: E731
    g = (df.select(F.col(id_col).alias("__id"), F.explode(toks).alias("__tok"))
           .select("__id", bucket(F.col("__tok")).alias("__b")))
    tg = (target.select(F.explode(t_toks).alias("__tok"))
                .select(bucket(F.col("__tok")).alias("__b")))

    rc = g.groupBy("__b").agg(F.count("*").alias("__rc"))
    tc = tg.groupBy("__b").agg(F.count("*").alias("__tc"))
    # grand totals via a whole-table window over the JOINED bucket table
    # (<= n_buckets rows, single cheap task) — a separate .agg() per
    # total re-derives the full postings lineage: measured 5 corpus
    # scans instead of 3 and ~2x the cold runtime
    joined = rc.join(tc, on="__b", how="full_outer")
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    ratio = (joined
             .withColumn("__rtot",
                         F.sum(F.coalesce("__rc", F.lit(0))).over(w_all))
             .withColumn("__ttot",
                         F.sum(F.coalesce("__tc", F.lit(0))).over(w_all))
             .select(
                 "__b",
                 (F.log((F.coalesce("__tc", F.lit(0)) + F.lit(smoothing))
                        / (F.col("__ttot") + F.lit(smoothing * n_buckets)))
                  - F.log((F.coalesce("__rc", F.lit(0)) + F.lit(smoothing))
                          / (F.col("__rtot") + F.lit(smoothing * n_buckets)))
                  ).alias("__lr")))
    return (g.join(F.broadcast(ratio), on="__b")
             .groupBy("__id")
             .agg(F.sum("__lr").alias("log_weight"),
                  F.count("*").cast("long").alias("n_tokens"))
             .withColumnRenamed("__id", id_col))


def dsir_resample(df: DataFrame, text_col: str, id_col: str,
                  target: DataFrame, n: int,
                  target_text_col: Optional[str] = None,
                  n_buckets: int = 8192, smoothing: float = 1.0,
                  token_hash=None, seed: int = 42,
                  salt: str = "dsir") -> DataFrame:
    """Draw ``n`` documents (without replacement) with probability
    proportional to their DSIR importance weight, DETERMINISTICALLY:
    the Gumbel-top-k trick — rank by ``log_weight + Gumbel(u)`` where
    ``u`` derives from the portable seeded hash of the id, and keep the
    n largest.  A pure function of (corpus, target, seed): replayable
    in any engine, stable under repartitioning.

    Scale shape: ``importance_weights``'s two aggregations, then a
    TakeOrdered top-n (per-partition heads + driver merge — no global
    sort)."""
    w = importance_weights(df, text_col, id_col, target,
                           target_text_col=target_text_col,
                           n_buckets=n_buckets, smoothing=smoothing,
                           token_hash=token_hash)
    # u in (0, 1) strictly: (hash60 + 0.5) / 2^60.  The key is ROUNDED
    # before ranking so a last-ulp ln() difference between engines
    # cannot flip the boundary pair of the draw (same stabilization as
    # tfidf_top_terms); ids break the (now possible) exact ties.
    u = (portable_hash60([id_col], seed, salt=salt) + F.lit(0.5)) / F.lit(float(2 ** 60))
    gumbel = -F.log(-F.log(u))
    return (w.withColumn("gumbel_key",
                         F.round(F.col("log_weight") + gumbel, 6))
             .orderBy(F.desc("gumbel_key"), id_col).limit(n))


def temperature_mix(df: DataFrame, strata_col: str,
                    id_cols: Sequence[str], alpha: float = 0.5,
                    target_total: Optional[int] = None, seed: int = 42,
                    salt: str = "tempmix") -> DataFrame:
    """Temperature-based mixture resampling — the ``p^alpha``
    reweighting of multilingual / multi-source pretraining: stratum s
    with n_s rows receives target fraction ``n_s^alpha / sum(n^alpha)``
    of ``target_total`` (default: the input size), i.e. per-row rate
    ``r_s = (n_s^alpha / sum) * T / n_s``.  ``alpha < 1`` upsamples the
    tail and downsamples the head; ``alpha = 1`` is the identity
    mixture; ``alpha = 0`` equalizes strata.

    The driver collects only the stratum COUNTS (vocabulary-sized);
    rates are quantized to 4 decimals so the fractional hash-bucket
    threshold is integral — the kept multiset is then a pure function
    of (ids, counts, alpha, seed), replayable bit-for-bit in any
    engine.  Row replication rides ``resample_strata`` (explode, no
    shuffle)."""
    counts = {r[0]: r[1] for r in
              df.groupBy(strata_col).agg(F.count("*").alias("n")).collect()}
    if not counts:
        return resample_strata(df, strata_col, {}, id_cols, seed=seed,
                               salt=salt)
    T = target_total if target_total is not None else sum(counts.values())
    wsum = sum(n ** alpha for n in counts.values())
    rates = {s: round((n ** alpha / wsum) * T / n, 4)
             for s, n in counts.items()}
    return resample_strata(df, strata_col, rates, id_cols, seed=seed,
                           salt=salt)


def assign_shards(df: DataFrame, id_cols: Sequence[str], n_shards: int,
                  seed: int = 42, shard_col: str = "shard",
                  salt: str = "shard") -> DataFrame:
    """Deterministic shard assignment — the last hop before training:
    ``shard = portable_hash(ids) % n_shards``, a pure function of
    (ids, seed) like every decision in this module, so the
    file-to-example mapping is reproducible across reruns, engines,
    and cluster sizes (resumable data loaders depend on it)."""
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    if shard_col in df.columns:
        raise ValueError(
            f"input already has a {shard_col!r} column (re-sharding a "
            "previous shard output? drop or rename it first)")
    return df.withColumn(
        shard_col,
        (portable_hash60(id_cols, seed, salt=salt) % n_shards).cast("int"))


def write_training_shards(df: DataFrame, path: str,
                          id_cols: Sequence[str], n_shards: int,
                          seed: int = 42, mode: str = "error",
                          order_within_shard: bool = True) -> None:
    """Materialize the corpus into ``n_shards`` training shards:
    deterministic shard assignment, one output directory per shard
    (``shard=N/``), rows within a shard ordered by the deterministic
    shuffle key (so a resumed reader sees a stable sequence).

    Scale shape: one RANGE repartition on the 4-byte shard id — with
    dense ids 0..n-1 each shard gets its own task (a hash repartition
    maps ~1/e of tasks to nothing and gives stragglers 2-3 shards);
    optional in-partition sort on the 8-byte key with the ids as
    tie-break, parquet writes with the session codec.  No driver-side
    collection."""
    if "__ord" in df.columns:
        raise ValueError("input already has a '__ord' column; rename it "
                         "before sharding")
    out = assign_shards(df, id_cols, n_shards, seed=seed)
    out = out.repartitionByRange(n_shards, F.col("shard"))
    if order_within_shard:
        # sort by (shard, key, ids): the partitionBy writer re-sorts
        # each task by the partition columns when the data is not
        # already sorted by them, and that re-sort is not stable — a
        # bare key-only sort silently comes back out of order; the id
        # tie-break keeps the order deterministic across the rare
        # 60-bit hash collision (same defense as deterministic_shuffle)
        out = (out.withColumn("__ord",
                              portable_hash60(id_cols, seed, salt="shuffle"))
                  .sortWithinPartitions("shard", "__ord", *id_cols)
                  .drop("__ord"))
    out.write.partitionBy("shard").mode(mode).parquet(path)


def leakage_safe_split(df: DataFrame, pairs: DataFrame, id_col: str,
                       weights: Dict[str, float], seed: int = 42,
                       split_col: str = "split",
                       src: str = "id_a", dst: str = "id_b",
                       rep_col: str = "cluster_rep") -> DataFrame:
    """Train/val/test split that near-duplicates can NOT straddle:
    every member of a duplicate cluster (connected component of the
    near-dup ``pairs`` graph) is assigned by hashing the cluster
    REPRESENTATIVE (min reachable id), so a doc and its near-copy land
    in the same split — the eval-set leakage a plain per-row
    ``hash_split`` permits.  Rows in no pair hash their own id
    (identical to ``hash_split`` for them).  Adds ``rep_col`` (the
    split key) alongside ``split_col``.

    Scale shape: the component labels are PAIR-graph-sized (duplicate
    docs only, typically a few % of the corpus), so the join back is a
    broadcast-sized hash join under AQE; the split itself stays one
    row-local md5 expression.  Composes with any candidate generator
    (``ngram_jaccard_pairs``, ``minhash_lsh_candidates`` +
    ``verify_jaccard``, embedding near-dup)."""
    from .dedup import connected_components

    reps = (connected_components(pairs, src=src, dst=dst)
            .withColumnRenamed("id", id_col)
            .withColumnRenamed("rep", f"__{rep_col}"))
    j = df.join(reps, on=id_col, how="left")
    j = j.withColumn(rep_col,
                     F.coalesce(F.col(f"__{rep_col}"), F.col(id_col))) \
         .drop(f"__{rep_col}")
    return hash_split(j, [rep_col], weights, seed=seed,
                      split_col=split_col)
