"""Deduplication + corpus-hygiene operators: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup, SemDeDup-style semantic dedup,
transitive connected-components clusters, repeated n-gram statistics AND
span removal (substring-level dedup), cross-document LINE removal,
incremental ingest dedup against a fingerprint state array, MOSS
winnowing fingerprints, benchmark decontamination (n-gram and
semantic/embedding), cross-table fuzzy text join (record linkage), and
source-level similarity auditing (exact + mergeable MinHash sketches).

Scale design notes (the 100 TB story):

- **Exact**: ``xxhash64`` of the normalized content -> groupBy hash.  One
  shuffle on a 8-byte key; skew-safe (hash keys are uniform).  Never
  shuffles document text — only (hash, id) pairs.
- **MinHash**: the signature is computed *without any shuffle or UDF*:
  shingles live in an array column and each of the ``num_perm``
  permutations is ``array_min(transform(shingles, s -> xxhash64(seed, s)))``
  — pure whole-stage-codegen.  LSH banding then shuffles only
  (band_id, band_hash, doc_id) tuples, a few dozen bytes/doc regardless of
  document size.  Candidate verification re-joins shingle sets only for
  bucket-colliding pairs (a tiny fraction).
- **SimHash**: 64 bit-counters folded JVM-side from the token-hash array;
  near-dup = equal simhash (or banded Hamming blocks for distance>0).
- **Cosine near-dup**: random-hyperplane sign buckets prune the pair space,
  then exact cosine via ``zip_with``/``aggregate`` on the survivors.

Deduplication "keep one per cluster" uses min-id-in-bucket propagation
rather than full iterative connected components; for the canonical
pipeline use-case (drop near-identical docs) one propagation round over
LSH buckets is the standard practice.  ``connected_components`` provides
the fully transitive closure when needed (O(log diameter) rounds of
8-byte-key shuffles with per-round checkpoint hygiene).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._mat import materialize

# ---------------------------------------------------------------------------
# building blocks
# ---------------------------------------------------------------------------

def normalized_text(col: str | Column) -> Column:
    """Lowercase, collapse whitespace, strip punctuation-ish chars."""
    c = F.col(col) if isinstance(col, str) else col
    c = F.lower(c)
    c = F.regexp_replace(c, r"[^\w\s]", " ")
    c = F.regexp_replace(c, r"\s+", " ")
    return F.trim(c)


def tokens(col: str | Column) -> Column:
    """Maximal ``\\w``-runs of the lowercased text, one regex pass.
    Semantics identical to ``split(normalized_text(col), " ")`` including
    the all-punctuation edge (a single empty token), at ~4x less regex
    work — this sits under every shingle/simhash expression."""
    c = F.col(col) if isinstance(col, str) else col
    f = F.filter(F.split(F.lower(c), r"[^\w]+"), lambda x: x != "")
    return F.when(F.size(f) > 0, f).otherwise(F.array(F.lit("")))


def word_shingles(col: str | Column, k: int = 3) -> Column:
    """Distinct k-word shingles as an array column — computed with
    ``sequence``+``transform`` (JVM), no explode, no UDF.

    Convenience form over a raw text column; the token array is an inline
    expression here, so the per-position lambda re-evaluates it (fine for
    one-off use).  Pipelines should stage ``tokens`` into a column first
    and use the attribute form (see ``minhash_signatures``)."""
    return _shingles_over(tokens(col), k)


def char_shingles(col: str | Column, k: int = 5) -> Column:
    c = normalized_text(col)
    return F.array_distinct(
        F.when(
            F.length(c) >= k,
            F.transform(
                F.sequence(F.lit(1), F.length(c) - k + 1),
                lambda i: F.substring(c, i, F.lit(k)),
            ),
        ).otherwise(F.array(c))
    )


def _perm_min(hashes_col: Column, j: int) -> Column:
    """min over the base-hash array of perm j = xxhash64(j, h).  A factory
    (not an inline lambda with a default arg): pyspark treats a 2-param
    lambda as an (element, index) function, which would silently shadow
    the seed and make every permutation identical."""
    return F.array_min(F.transform(hashes_col, lambda h: F.xxhash64(F.lit(j), h)))


def minhash_signature(shingles: Column, num_perm: int = 64) -> Column:
    """Array of ``num_perm`` minhash values over an ALREADY-MATERIALIZED
    shingle array column (an attribute, not an expression): each shingle
    is string-hashed once, then every permutation is a cheap rehash of
    that 8-byte value.  Zero shuffles.

    FAMILY NOTE: this column-level form uses the ``xxhash64(j, h)``
    permutation family over shingle-STRING base hashes; the
    DataFrame-level ``minhash_signatures`` differs on BOTH axes (its
    base hashes come from token-hash windows, and its permutation
    family is the multiply-add Arrow one) — signatures from the two are
    NOT comparable.  To compare
    against persisted signatures produced by this function, recompute
    with this function over the same shingle column; for the pipeline
    paths, persist ``minhash_signatures`` output and stay within its
    family (``incremental_neardup`` pins its params for this reason).

    NOTE: pass an attribute (``F.col``) — referencing an unmaterialized
    expression inside per-element lambdas re-evaluates it per element
    (Catalyst inlines it), turning O(n) work into O(n^2).  The pipeline
    form is ``minhash_signatures``, which stages its projections."""
    base = F.transform(shingles, lambda s: F.xxhash64(s))
    return F.array(*[_perm_min(base, j) for j in range(num_perm)])


def _minhash_arrow_udf(num_perm: int, seed: int = 42):
    """Arrow-batched minhash over a staged base-hash array column.

    Permutations are a seeded multiply-add family
    ``perm_j(h) = a_j * h + c_j (mod 2^64)`` (odd ``a_j``) — numpy
    evaluates all ``num_perm`` of them for a whole document in one
    vectorized (tokens x perms) pass, where the SQL form pays
    ``num_perm`` interpreted higher-order-function scans per row.  Any
    uniform family gives the same LSH banding guarantees; candidate
    pairs are verified with exact Jaccard downstream, so the family is
    an implementation detail, not a semantic."""
    from pyspark.sql.functions import pandas_udf

    rng = np.random.RandomState(seed)
    A = (rng.randint(0, 2**63, num_perm, dtype=np.uint64) * 2 + 1)  # odd
    C = rng.randint(0, 2**63, num_perm, dtype=np.uint64)

    @pandas_udf("array<long>")
    def sig(hs: pd.Series) -> pd.Series:
        out = []
        with np.errstate(over="ignore"):  # mod-2^64 wraparound is the hash
            for h in hs:
                a = np.asarray(h, dtype=np.int64).view(np.uint64)
                mins = (a[:, None] * A[None, :] + C[None, :]).min(axis=0)
                out.append(mins.view(np.int64))
        return pd.Series(out)

    return sig


def minhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       num_perm: int = 64, shingle_k: int = 3) -> DataFrame:
    """(id, signature array) with NO shuffle and no per-element
    recomputation: tokens, shingles, and the base string-hash array are
    each materialized in their own projection stage (multi-use non-cheap
    aliases, which CollapseProject declines to inline), then the
    ``num_perm`` permutations are computed from the 8-byte base values
    in ONE Arrow-vectorized pass (~4x the throughput of a per-permutation
    SQL rehash loop, still shuffle-free: the plan is scan -> project ->
    ArrowEvalPython).

    FAMILY NOTE: the permutations are the seeded multiply-add family of
    ``_minhash_arrow_udf``, and the shingle IDENTITY hash is
    ``xxhash64`` over the k token hashes (``_staged_shingle_hashes``,
    no shingle strings built) — signatures persisted by versions that
    used the ``xxhash64(j, h)`` family or hashed shingle strings are
    NOT comparable.  That is a persistence-compatibility boundary, not a
    semantic one: LSH banding guarantees and downstream exact-Jaccard
    verification are identical."""
    staged = _staged_shingle_hashes(df, text_col, id_col, shingle_k)
    udf = _minhash_arrow_udf(num_perm)
    return staged.select("__id", udf(F.col("__h")).alias("__sig"))


def _shingles_over(toks: Column, k: int) -> Column:
    """k-word shingle array over a materialized token-array attribute."""
    return F.array_distinct(
        F.when(
            F.size(toks) >= k,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - k),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))
    )


def _staged_shingles(df: DataFrame, text_col: str, id_col: str,
                     k: int) -> DataFrame:
    """(``__id``, ``__sh``) with the token array staged in its own
    projection so the shingle lambda slices an attribute, not a
    re-evaluated regex expression (the O(n) vs O(n^2) distinction that
    ``minhash_signatures`` documents)."""
    return (df.select(F.col(id_col).alias("__id"),
                      tokens(text_col).alias("__toks"))
              .select("__id", _shingles_over(F.col("__toks"), k).alias("__sh")))


def _staged_shingle_hashes(df: DataFrame, text_col: str, id_col: str,
                           k: int) -> DataFrame:
    """(``__id``, ``__h``) — DISTINCT k-shingle identity hashes computed
    without ever building shingle strings: hash each token once, then
    each shingle is ``xxhash64`` over its k consecutive token hashes.
    Set cardinalities (and therefore every Jaccard value downstream)
    match the string form up to 2^-64 collisions — measured identical on
    the 2.7M-shingle sf1 corpus — at ~2x the throughput (string concat +
    string hashing was the single largest cost in the minhash pipeline).
    Documents shorter than ``k`` tokens collapse to one whole-document
    hash, mirroring ``_shingles_over``'s whole-text shingle."""
    base = (df.select(F.col(id_col).alias("__id"),
                      tokens(text_col).alias("__toks"))
              .select("__id",
                      F.transform("__toks", lambda t: F.xxhash64(t)).alias("__th")))
    sh = F.when(
        F.size("__th") >= k,
        F.transform(F.sequence(F.lit(0), F.size("__th") - k),
                    lambda i: F.xxhash64(*[F.element_at("__th", i + j + 1)
                                           for j in range(k)])),
    ).otherwise(F.array(F.xxhash64("__th")))
    return base.select("__id", F.array_distinct(sh).alias("__h"))


# bit masks 2^0..2^63 as long literals (2^63 wraps to long-min, valid mask)
_POW2 = [1 << i for i in range(63)] + [-(1 << 63)]


def md5_hash60(col: Column) -> Column:
    """Portable 60-bit token hash: first 15 hex chars of md5 parsed base-16.
    Always positive, fits a signed 64-bit in every engine (DuckDB parses the
    same via ``('0x' || substr(md5(w), 1, 15))::BIGINT``) — the
    cross-engine-checkable alternative to ``xxhash64``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash64(col: str | Column, token_hash=None, n_bits: int = 64) -> Column:
    """SimHash folded from each token's hash via a single ``aggregate``
    over an ``n_bits``-slot counter array (one pass, JVM-side): token hash
    bit i set -> counter[i] += 1 else -= 1; sign -> bit.

    ``token_hash`` defaults to ``xxhash64`` (fastest); pass ``md5_hash60``
    with ``n_bits=60`` for a hash reproducible in other SQL engines."""
    th = token_hash or F.xxhash64
    masks = _POW2[:n_bits] if n_bits < 64 else _POW2
    hashes = F.transform(tokens(col), lambda t: th(t))
    pow2 = F.array(*[F.lit(p).cast("long") for p in masks])
    counters = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), len(masks)),
        lambda acc, h: F.zip_with(
            acc, pow2,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, F.lit(1)).otherwise(F.lit(-1))),
    )
    return F.aggregate(
        F.zip_with(counters, pow2,
                   lambda c, p: F.when(c >= 0, p).otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda acc, v: acc + v)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, content_cols: Sequence[str],
                id_col: Optional[str] = None, normalize: bool = False) -> DataFrame:
    """Keep one row per distinct content; with ``id_col``, keep the min-id
    row (deterministic).  Hash-groupBy: shuffles only (hash, id)."""
    key = F.xxhash64(*[
        normalized_text(c) if normalize else F.col(c) for c in content_cols
    ])
    if id_col is None:
        if not normalize:
            return df.dropDuplicates(list(content_cols))
        # dedupe on the NORMALIZED key — dropDuplicates on the raw
        # columns silently ignored normalize=True and kept
        # case/punctuation variants
        return (df.withColumn("__nk", key)
                  .dropDuplicates(["__nk"]).drop("__nk"))
    keep = (df.select(key.alias("__h"), F.col(id_col))
              .groupBy("__h").agg(F.min(id_col).alias(id_col)))
    return df.join(keep.select(id_col), on=id_col, how="inner")


def duplicate_stats(df: DataFrame, content_cols: Sequence[str],
                    normalize: bool = False) -> DataFrame:
    """Per-content duplicate counts (content hash, n copies) for groups with
    more than one copy."""
    key = F.xxhash64(*[
        normalized_text(c) if normalize else F.col(c) for c in content_cols
    ])
    return (df.select(key.alias("content_hash"))
              .groupBy("content_hash").agg(F.count(F.lit(1)).alias("n_copies"))
              .filter(F.col("n_copies") > 1))


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def _sig_band_keys(sig: "Column | str", num_perm: int, bands: int) -> Column:
    """Row-local per-band bucket hashes from a signature array column —
    a PURE function of the signature, so band keys computed from a
    persisted state signature equal the keys computed at ingest time
    (the property ``incremental_neardup`` relies on).

    Pass the column NAME (all internal callers do) to build the whole
    unrolled array with ONE parsed SQL expression instead of
    ~bands*(rows_per_band*3+2) py4j round trips (~0.2 s of driver build
    time at 64/16); the parsed tree is node-for-node the Column-API
    tree, verified by optimized-plan comparison."""
    if not 1 <= bands <= num_perm:
        # bands > num_perm makes rows_per_band 0: every band key is
        # xxhash64('') and ALL documents co-bucket — near-total silent
        # recall collapse after bucket capping
        raise ValueError(
            f"bands={bands} must be in [1, num_perm={num_perm}]")
    if num_perm % bands:
        raise ValueError(
            f"bands={bands} must divide num_perm={num_perm} — a "
            f"remainder would silently ignore {num_perm % bands} of "
            "the paid-for permutations")
    rows_per_band = num_perm // bands
    if isinstance(sig, str):
        from .stats_bounds import _quote_ident

        name = _quote_ident(sig)
        return F.expr("array(" + ",".join(
            "xxhash64(concat_ws(','," + ",".join(
                f"cast(element_at({name}, {b * rows_per_band + r + 1}) "
                "as string)"
                for r in range(rows_per_band)) + "))"
            for b in range(bands)) + ")")
    return F.array(*[
        F.xxhash64(F.concat_ws(
            ",", *[F.element_at(sig, b * rows_per_band + r + 1).cast("string")
                   for r in range(rows_per_band)]))
        for b in range(bands)
    ])


def _banded_buckets(df: DataFrame, text_col: str, id_col: str,
                    num_perm: int, bands: int, shingle_k: int,
                    bucket_cap: int = 64) -> DataFrame:
    """(__id, band, band_hash) LSH bucket memberships: signatures ->
    per-band hash -> posexplode, with degenerate buckets capped at
    ``bucket_cap`` members (smallest ids win, deterministic)."""
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_k)
    banded = sigs.select(
        "__id",
        F.posexplode(_sig_band_keys("__sig", num_perm, bands))
        .alias("band", "band_hash"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("band", "band_hash").orderBy("__id")
    return (banded.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= bucket_cap).drop("__rn"))


def minhash_lsh_candidates(df: DataFrame, text_col: str, id_col: str,
                           num_perm: int = 64, bands: int = 16,
                           shingle_k: int = 3,
                           bucket_cap: int = 64) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded MinHash.

    Shuffle cost: one exchange of (band_id, band_hash, id) rows + the
    in-bucket self-join.  Buckets with more than ``bucket_cap`` members
    (degenerate content, e.g. empty docs) are capped to avoid quadratic
    blowup — a RECALL tradeoff: beyond-cap members lose their pairs.
    Oracle paths that need exact recall lift the cap."""
    banded = _banded_buckets(df, text_col, id_col, num_perm, bands,
                             shingle_k, bucket_cap)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (a.join(b, on=["band", "band_hash"])
              .filter(F.col("a.__id") < F.col("b.__id"))
              .select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"))
              .distinct())
    return pairs


def fuzzy_text_join(left: DataFrame, right: DataFrame, text_col: str,
                    left_id: str, right_id: str,
                    right_text_col: Optional[str] = None,
                    num_perm: int = 64, bands: int = 16,
                    shingle_k: int = 3, threshold: float = 0.8,
                    bucket_cap: int = 64) -> DataFrame:
    """Near-duplicate text matches ACROSS two tables (record linkage,
    churned-content tracking, eval-overlap pairing): banded MinHash
    buckets on both sides, candidates where any band co-buckets, exact
    shingle-Jaccard verification.  Returns one row per matched pair:
    ``(left_id, right_id, jaccard)`` with ``jaccard >= threshold``.

    Scale shape: each side shuffles only its (band, band_hash, id)
    bucket rows — text never crosses the wire — and the cross join runs
    bucket-local with both sides capped at ``bucket_cap``.  The
    candidate pair list is materialized once (eager localCheckpoint —
    it is tiny relative to the inputs) so the verify stage can
    SEMI-JOIN each table down to candidate ids BEFORE tokenizing and
    shingle-hashing: verify cost scales with matched rows, not table
    size, and the expensive LSH lineage is never re-executed.  At
    ``threshold >= 0.9`` with the default 16 bands x 4 rows the banding
    miss probability is ~1e-8 per true pair (same argument as
    ``minhash_dedup``), so the output matches the exact O(n*m) cross
    Jaccard — which is how the oracle gate checks it."""
    rtc = right_text_col or text_col
    lb = _banded_buckets(left, text_col, left_id, num_perm, bands,
                         shingle_k, bucket_cap).alias("a")
    rb = _banded_buckets(right, rtc, right_id, num_perm, bands,
                         shingle_k, bucket_cap).alias("b")
    cand = (lb.join(rb, on=["band", "band_hash"])
              .select(F.col("a.__id").alias("__lid"),
                      F.col("b.__id").alias("__rid"))
              .distinct()
              .localCheckpoint(eager=True))
    # no broadcast hint: AQE broadcasts the (usually tiny) id sets and
    # falls back to a hash semi-join if a pathological match volume
    # makes them large
    lpruned = left.join(
        cand.select(F.col("__lid").alias("__cid")).distinct(),
        left[left_id] == F.col("__cid"), "left_semi")
    rpruned = right.join(
        cand.select(F.col("__rid").alias("__cid")).distinct(),
        right[right_id] == F.col("__cid"), "left_semi")
    lsh = (_staged_shingle_hashes(lpruned, text_col, left_id, shingle_k)
           .select(F.col("__id").alias("__lid"), F.col("__h").alias("__lsh")))
    rsh = (_staged_shingle_hashes(rpruned, rtc, right_id, shingle_k)
           .select(F.col("__id").alias("__rid"), F.col("__h").alias("__rsh")))
    j = cand.join(lsh, on="__lid").join(rsh, on="__rid")
    inter = F.size(F.array_intersect("__lsh", "__rsh"))
    union = F.size(F.array_union("__lsh", "__rsh"))
    rid_out = right_id if right_id != left_id else f"{right_id}_right"
    return (j.withColumn("jaccard", inter / union)
             .filter(F.col("jaccard") >= threshold)
             .select(F.col("__lid").alias(left_id),
                     F.col("__rid").alias(rid_out), "jaccard"))


def minhash_dedup(df: DataFrame, text_col: str, id_col: str,
                  num_perm: int = 64, bands: int = 16, shingle_k: int = 3,
                  threshold: float = 0.8, verify: str = "exact") -> DataFrame:
    """Drop near-duplicates: verify candidates (``verify="exact"``:
    exact shingle Jaccard; ``"signature"``: matching-slot fraction of
    the MinHash signatures — the estimator ``incremental_neardup`` can
    replay against persisted state signatures without the original
    text), cluster by min-id propagation, keep the smallest id per
    cluster.

    Plan-shape note (r14, measured): a candidate-pruned verify
    (localCheckpoint the pair list, semi-join the corpus to candidate
    ids before shingling — the ``fuzzy_text_join`` shape) was
    implemented and A/B-measured SLOWER here at both sf0.1 (min 1.74 →
    2.03 s) and sf1 (med 7.93 → 9.42 s), as were ckpt-without-prune
    and prune-without-ckpt: this pipeline is one linear chain (pairs →
    verify → rep), so nothing re-executes the LSH lineage, AQE
    overlaps the verify's corpus re-shingle with the LSH stages, and
    the eager barrier only serializes them.  ``fuzzy_text_join`` keeps
    the pruned shape because ITS pair list genuinely has multiple
    consumers; here the straight-line plan wins."""
    pairs = minhash_lsh_candidates(df, text_col, id_col, num_perm, bands, shingle_k)
    if verify == "exact":
        verified = verify_jaccard(df, pairs, text_col, id_col, shingle_k,
                                  threshold)
    elif verify == "signature":
        sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_k)
        verified = verify_signature(pairs, sigs, num_perm, threshold)
    else:
        raise ValueError(f"unknown verify mode {verify!r}")
    # min-id propagation: every doc maps to the smallest id it pairs with
    edges = verified.select("id_a", "id_b")
    rep = (edges.groupBy("id_b").agg(F.min("id_a").alias("__rep"))
                .withColumnRenamed("id_b", id_col))
    return (df.join(rep, on=id_col, how="left")
              .filter(F.col("__rep").isNull())
              .drop("__rep"))


def verify_jaccard(df: DataFrame, pairs: DataFrame, text_col: str, id_col: str,
                   shingle_k: int = 3, threshold: float = 0.8) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs only.

    The set algebra runs on 8-byte shingle-identity hashes rather than
    the shingle strings (``_staged_shingle_hashes`` — no strings are
    ever built): distinct-set sizes and intersections are identical up
    to 2^-64 collisions (negligible at any candidate volume) and
    long-array intersection measures ~3x faster than string-array
    intersection at sf1 candidate counts."""
    sh = (_staged_shingle_hashes(df, text_col, id_col, shingle_k)
          .withColumnRenamed("__h", "__sh"))
    j = (pairs
         .join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "__sh_a"), "id_a")
         .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "__sh_b"), "id_b"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size(F.array_union("__sh_a", "__sh_b"))
    return (j.withColumn("jaccard", inter / union)
             .filter(F.col("jaccard") >= threshold)
             .select("id_a", "id_b", "jaccard"))


def _sig_match_frac(a: Column, b: Column, num_perm: int) -> Column:
    """MinHash Jaccard estimate: fraction of matching signature slots."""
    matches = F.aggregate(
        F.zip_with(a, b, lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v)
    return matches / F.lit(float(num_perm))


def verify_signature(pairs: DataFrame, sigs: DataFrame, num_perm: int,
                     threshold: float = 0.8) -> DataFrame:
    """Signature-estimated Jaccard for candidate pairs: the
    matching-slot fraction of the two MinHash signatures (unbiased,
    se ~ 1/sqrt(num_perm)).  ``sigs`` is ``minhash_signatures`` output
    (``__id``, ``__sig``).  Text-free — this is the verification that
    works against PERSISTED signatures (``incremental_neardup``'s
    state), where the original shingle sets no longer exist."""
    sa = sigs.select(F.col("__id").alias("id_a"), F.col("__sig").alias("__sa"))
    sb = sigs.select(F.col("__id").alias("id_b"), F.col("__sig").alias("__sb"))
    est = _sig_match_frac(F.col("__sa"), F.col("__sb"), num_perm)
    return (pairs.join(sa, "id_a").join(sb, "id_b")
                 .withColumn("jaccard", est)
                 .filter(F.col("jaccard") >= threshold)
                 .select("id_a", "id_b", "jaccard"))


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        shingle_k: int = 3, threshold: float = 0.5) -> DataFrame:
    """Exact all-pairs n-gram Jaccard above a threshold (the small-data
    oracle path; LSH above is the scale path).  Pairs are pruned with a
    length filter before the quadratic join.  Set algebra on shingle
    identity hashes (``_staged_shingle_hashes``) — Jaccard values equal
    the string form up to 2^-64 collisions."""
    sh = (_staged_shingle_hashes(df, text_col, id_col, shingle_k)
          .withColumnRenamed("__h", "__sh"))
    a = sh.select(F.col("__id").alias("id_a"), F.col("__sh").alias("__sh_a"))
    b = sh.select(F.col("__id").alias("id_b"), F.col("__sh").alias("__sh_b"))
    j = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    # size bound: |A∩B|/|A∪B| >= t requires |A| >= t*|B| and vice versa
    j = j.filter(F.size("__sh_a") * threshold <= F.size("__sh_b"))
    j = j.filter(F.size("__sh_b") * threshold <= F.size("__sh_a"))
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size(F.array_union("__sh_a", "__sh_b"))
    return (j.withColumn("jaccard", inter / union)
             .filter(F.col("jaccard") >= threshold)
             .select("id_a", "id_b", "jaccard"))


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_dedup(df: DataFrame, text_col: str, id_col: str,
                  d: int = 0, token_hash=None, n_bits: int = 64,
                  bucket_cap: int = 64) -> DataFrame:
    """Drop rows whose SimHash is within Hamming distance ``d`` of a
    smaller-id row.  ``d=0`` is a plain hash groupBy (one 8-byte-key
    shuffle); ``d>0`` goes through the banded pigeonhole candidates of
    ``simhash_neardup_pairs`` + min-id propagation."""
    if d == 0:
        with_sh = df.withColumn("__simhash", simhash64(text_col, token_hash,
                                                       n_bits))
        keep = with_sh.groupBy("__simhash").agg(F.min(id_col).alias(id_col))
        return (with_sh.join(keep, on=[id_col, "__simhash"], how="inner")
                       .drop("__simhash"))
    pairs = simhash_neardup_pairs(df, text_col, id_col, d=d,
                                  token_hash=token_hash, n_bits=n_bits,
                                  bucket_cap=bucket_cap)
    rep = (pairs.groupBy("id_b").agg(F.min("id_a").alias("__rep"))
                .withColumnRenamed("id_b", id_col))
    return (df.join(rep, on=id_col, how="left")
              .filter(F.col("__rep").isNull())
              .drop("__rep"))


def simhash_neardup_pairs(df: DataFrame, text_col: str, id_col: str,
                          d: int = 3, token_hash=None, n_bits: int = 64,
                          bucket_cap: int = 64) -> DataFrame:
    """Pairs (id_a < id_b, hamming) with SimHash Hamming distance <= ``d``,
    via the banded pigeonhole: the ``n_bits`` hash splits into ``d+1``
    contiguous blocks, and two hashes within distance d must agree on at
    least one whole block (d flipped bits can dirty at most d blocks).
    Bucketing per (block, value) shuffles only (block, value, id, hash)
    tuples; candidates are verified with an exact ``bit_count(a XOR b)``.
    Degenerate buckets (boilerplate/empty docs) are capped at
    ``bucket_cap`` members, same policy as the MinHash banding path."""
    from pyspark.sql import Window

    sigs = simhash_signatures(df, text_col, id_col, token_hash, n_bits)
    n_blocks = d + 1
    base, rem = divmod(n_bits, n_blocks)
    blocks = []
    off = 0
    for i in range(n_blocks):
        w = base + (1 if i < rem else 0)
        blocks.append(F.shiftrightunsigned("simhash", off)
                       .bitwiseAND(F.lit((1 << w) - 1)))
        off += w
    banded = sigs.select(
        F.col(id_col).alias("__id"), "simhash",
        F.posexplode(F.array(*blocks)).alias("block", "bval"))
    win = Window.partitionBy("block", "bval").orderBy("__id")
    banded = (banded.withColumn("__rn", F.row_number().over(win))
                    .filter(F.col("__rn") <= bucket_cap).drop("__rn"))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (a.join(b, on=["block", "bval"])
              .filter(F.col("a.__id") < F.col("b.__id"))
              .select(F.col("a.__id").alias("id_a"),
                      F.col("b.__id").alias("id_b"),
                      F.col("a.simhash").alias("__sh_a"),
                      F.col("b.simhash").alias("__sh_b"))
              .distinct())
    ham = F.bit_count(F.col("__sh_a").bitwiseXOR(F.col("__sh_b")))
    return (pairs.select("id_a", "id_b", ham.alias("hamming"))
                 .filter(F.col("hamming") <= d))


def _simhash_arrow_udf(n_bits: int):
    """Arrow-batched simhash fold over a staged token-hash array column:
    per document, one vectorized (tokens x n_bits) popcount in numpy.
    Bit rule identical to ``simhash64`` (ones*2 >= n_tokens -> bit set)
    and a pure function of the JVM-computed hash array, so the output is
    bit-identical to the SQL fold — measured ~4x its throughput (the SQL
    form pays n_bits interpreted higher-order-function scans per row)."""
    from pyspark.sql.functions import pandas_udf

    shifts = np.arange(n_bits, dtype=np.uint64)

    @pandas_udf("long")
    def sig(hs: pd.Series) -> pd.Series:
        out = np.empty(len(hs), dtype=np.uint64)
        for i, h in enumerate(hs):
            # force little-endian byte order so bit j of word w lands at
            # flat position w*64+j on ANY host (a plain .view(uint8) would
            # byte-reverse each word on a big-endian executor) — ~1.6x the
            # (tokens x 64) shift-broadcast, bit-identical
            a = np.asarray(h, dtype=np.int64).astype("<i8", copy=False)
            ones = (np.unpackbits(a.view(np.uint8), bitorder="little")
                    .reshape(len(a), 64)
                    .sum(axis=0, dtype=np.int64))
            bits = (2 * ones[:n_bits] >= len(a)).astype(np.uint64)
            out[i] = (bits << shifts).sum(dtype=np.uint64)
        return pd.Series(out.view(np.int64))

    return sig


def simhash_signatures(df: DataFrame, text_col: str, id_col: str,
                       token_hash=None, n_bits: int = 64) -> DataFrame:
    """DataFrame-level simhash, the pipeline fast path: token hashes are
    staged once as an attribute (JVM-side, any ``token_hash``), then the
    bit-counter fold runs as ONE shuffle-free Arrow-vectorized pass,
    bit-identical to ``simhash64``."""
    th = token_hash or F.xxhash64
    staged = (df.select(F.col(id_col), tokens(text_col).alias("__toks"))
                .select(id_col, F.transform("__toks", lambda tk: th(tk)).alias("__h")))
    udf = _simhash_arrow_udf(n_bits)
    return staged.select(F.col(id_col), udf(F.col("__h")).alias("simhash"))


def _persisted_ancestor(df: DataFrame):
    """The persisted RDD backing a just-``localCheckpoint``-ed DataFrame,
    found by walking the DataFrame's OWN dependency chain (toRdd ->
    SQLExecutionRDD -> ... -> the storage-level-bearing ancestor).
    Returns None if none is found within a few hops.  This is the
    thread-safe way to later free the checkpoint blocks — diffing the
    global ``getPersistentRDDs`` registry would attribute a concurrent
    computation's checkpoint to us and unpersist it (unrecoverable for
    truncated-lineage RDDs)."""
    r = df._jdf.queryExecution().toRdd()
    for _ in range(10):
        sl = r.getStorageLevel()
        if sl.useMemory() or sl.useDisk():
            return r
        deps = r.dependencies()
        if deps.isEmpty():
            return None
        r = deps.head().rdd()
    return None


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b", max_iter: int = 20) -> DataFrame:
    """Connected components over a near-dup pair graph: every node gets
    the MINIMUM id reachable from it (``rep``), making "keep one doc per
    duplicate cluster" fully transitive (a->b and b->c collapse to one
    cluster even when (a, c) was never a candidate pair — the one-round
    min-id-in-bucket propagation ``*_dedup`` use by default is a
    documented approximation of exactly this).

    Distributed min-label propagation with pointer jumping: each
    iteration (1) pulls the min label across edges, (2) jumps
    ``l(v) <- l(l(v))``, so label trees halve in height — convergence in
    O(log(diameter)) rounds, each a pair of 8-byte-key shuffles.  The
    per-iteration convergence check is one small count action; near-dup
    graphs (stars/cliques) typically converge in 2-3 rounds."""
    # materialize the (usually expensive) pair-generation lineage ONCE:
    # every iteration runs two actions (join + convergence count), and
    # without the checkpoint each would re-execute the upstream candidate
    # join / LSH plan from scratch
    edges = (pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
             .union(pairs.select(F.col(dst).alias("u"), F.col(src).alias("v")))
             .distinct()
             .localCheckpoint(eager=True))
    edge_rdd = _persisted_ancestor(edges)
    labels = (edges.select(F.col("u").alias("id"))
              .distinct()
              .withColumn("rep", F.col("id")))
    prev_rdd = None  # previous round's checkpointed block RDD
    changed = 0
    for _ in range(max_iter):
        # (1) min label over neighbors (and self)
        nbr = (edges.join(labels.withColumnRenamed("id", "v")
                          .withColumnRenamed("rep", "__vrep"), on="v")
               .groupBy("u").agg(F.min("__vrep").alias("__nmin"))
               .withColumnRenamed("u", "id"))
        new = (labels.join(nbr, on="id", how="left")
               .select("id", F.least("rep", F.coalesce("__nmin", "rep"))
                       .alias("rep")))
        # (2) pointer jump: rep <- rep's rep
        jump = new.select(F.col("id").alias("rep"),
                          F.col("rep").alias("__rrep"))
        new = (new.join(jump, on="rep", how="left")
               .select("id", F.coalesce("__rrep", "rep").alias("rep")))
        # checkpoint BEFORE the convergence count so the iteration is
        # evaluated once (the count then reads checkpointed partitions);
        # checkpointing also truncates the lineage, which would otherwise
        # double in size every round
        new = new.localCheckpoint(eager=True)
        round_rdd = _persisted_ancestor(new)
        changed = (new.alias("n").join(labels.alias("o"), on="id")
                   .filter(F.col("n.rep") != F.col("o.rep")).count())
        # free the PREVIOUS round's checkpoint blocks (this round's
        # convergence count was their last reader) — without this, up to
        # max_iter label snapshots accumulate in block storage.  The RDD
        # handle comes from walking THIS DataFrame's own dependency chain
        # (never the global persistent-RDD registry, which would race
        # with concurrent computations checkpointing in other threads).
        # The resulting "lineage truncated, cannot be recomputed" WARN is
        # expected: the freed snapshot has no readers left.
        if prev_rdd is not None:
            prev_rdd.unpersist(False)
        prev_rdd = round_rdd
        labels = new
        if not changed:
            break
    # the edge list has no readers after the loop; the final labels
    # checkpoint is the caller's result and stays persisted
    if edge_rdd is not None:
        edge_rdd.unpersist(False)
    if changed:
        import warnings

        warnings.warn(
            f"connected_components did not converge after {max_iter} "
            f"iterations ({changed} labels still changing); returned "
            "clusters may be split (non-minimal representatives).  "
            "Raise max_iter — convergence needs O(log(graph diameter)) "
            "rounds.", RuntimeWarning)
    return labels


def _explode_gram_postings(base: DataFrame, n: int, gh,
                           keep_positions: bool = False,
                           outer: bool = False) -> DataFrame:
    """(__id, __toks) -> exploded (__id[, __i], __gh) n-gram hash
    postings.  Explodes cheap POSITIONS and hashes after the generate
    (see the InferFiltersFromGenerate note in repeated_ngram_stats); the
    when() guard keeps the sequence ascending (empty) for short docs.
    ``keep_positions`` carries the 0-based gram start ``__i`` (span
    removal needs it; frequency counting does not).  ``outer=True``
    keeps gram-less documents as one all-null posting row
    (``explode_outer``; ``__i`` and ``__gh`` both NULL — the hash is
    guarded, because ``concat_ws`` over a NULL slice yields ``""``, not
    NULL, and a real hash of the empty string could join) so a single
    downstream aggregation can count per-document totals without a
    second corpus pass.

    Gram identity is the hash of the space-joined gram STRING — measured
    2-4x faster than hashing n consecutive token hashes on the exploded
    posting rows (codegen's string builder beats per-element array
    access with null checks; the opposite tradeoff from the per-doc
    array shape in ``_staged_shingle_hashes``, where token-hash
    windows win)."""
    pos = F.when(F.size("__toks") >= n,
                 F.sequence(F.lit(0), F.size("__toks") - n)
                 ).otherwise(F.array().cast("array<int>"))
    cols = ["__id", "__i"] if keep_positions else ["__id"]
    explode = F.explode_outer if outer else F.explode
    ghx = gh(F.concat_ws(" ", F.slice("__toks", F.col("__i") + 1, n)))
    if outer:
        ghx = F.when(F.col("__i").isNotNull(), ghx)
    return (base.select("__id", "__toks", explode(pos).alias("__i"))
                .select(*cols, ghx.alias("__gh")))


def _bloom_build(grams: DataFrame, col: str, n_bits: int, k: int) -> bytes:
    """Distributed Bloom-filter build over a 64-bit hash column: each
    partition folds its hashes into an ``n_bits`` bitmap (one Arrow
    pass), the per-partition bitmaps OR-merge driver-side.  The collect
    is bounded by construction — n_partitions rows x n_bits/8 bytes —
    and ``n_bits`` is capped loudly (the guard-before-collect pattern of
    ``bpe_train``).  Probe positions use Kirsch-Mitzenmacher double
    hashing (h1 + i*h2) derived from the single 64-bit key, so build and
    probe agree without re-hashing."""
    if n_bits > (1 << 27):
        raise ValueError(f"bloom n_bits={n_bits} exceeds 2^27 (16 MiB "
                         "per partition bitmap); size bits ~10x the "
                         "expected distinct gram count instead")

    def fold(it):
        bits = np.zeros(n_bits // 8 + 1, dtype=np.uint8)
        for pdf in it:
            h = pdf[col].to_numpy(dtype=np.int64).view(np.uint64)
            h1 = h & np.uint64(0xFFFFFFFF)
            h2 = (h >> np.uint64(32)) | np.uint64(1)
            for i in range(k):
                pos = (h1 + np.uint64(i) * h2) % np.uint64(n_bits)
                np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                                 (np.uint64(1) << (pos & np.uint64(7)))
                                 .astype(np.uint8))
        yield pd.DataFrame({"b": [bits.tobytes()]})

    out = np.zeros(n_bits // 8 + 1, dtype=np.uint8)
    for row in grams.mapInPandas(fold, "b binary").collect():
        out |= np.frombuffer(row.b, dtype=np.uint8)
    return out.tobytes()


def _bloom_probe_udf(spark, bloom: bytes, n_bits: int, k: int):
    """Vectorized membership probe against a broadcast Bloom bitmap;
    returns a boolean pandas UDF over the 64-bit hash column."""
    from pyspark.sql.functions import pandas_udf

    bb = spark.sparkContext.broadcast(bloom)

    @pandas_udf("boolean")
    def probe(s: pd.Series) -> pd.Series:
        bits = np.frombuffer(bb.value, dtype=np.uint8)
        h = s.to_numpy(dtype=np.int64).view(np.uint64)
        h1 = h & np.uint64(0xFFFFFFFF)
        h2 = (h >> np.uint64(32)) | np.uint64(1)
        ok = np.ones(len(h), dtype=bool)
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(n_bits)
            ok &= (bits[(pos >> np.uint64(3)).astype(np.int64)]
                   >> (pos & np.uint64(7)).astype(np.uint8)) & 1 > 0
        return pd.Series(ok)

    return probe


def _filtered_hit_postings(cbase: DataFrame, bg: DataFrame, n: int, gh,
                           strategy: str, bloom_bits: int, bloom_k: int,
                           spark) -> DataFrame:
    """Corpus gram postings surviving the exact benchmark-membership
    test, for the prefilter/bloom strategies (shared by
    ``ngram_contamination_stats`` and ``decontaminate``'s
    max_fraction=0 fast path): prefilter = broadcast left-semi on the
    truncated hash, bloom = Arrow bitmap probe; both followed by the
    exact verify join that removes false positives."""
    cg = _explode_gram_postings(cbase, n, gh)
    if strategy == "prefilter":
        bset = bg.select(F.pmod(F.col("__gh"), F.lit(bloom_bits))
                         .alias("__tb")).distinct()
        cg = cg.join(F.broadcast(bset),
                     F.pmod(F.col("__gh"), F.lit(bloom_bits))
                     == F.col("__tb"), "left_semi")
    else:  # bloom
        probe = _bloom_probe_udf(spark,
                                 _bloom_build(bg, "__gh", bloom_bits,
                                              bloom_k),
                                 bloom_bits, bloom_k)
        cg = cg.filter(probe(F.col("__gh")))
    # exact verify join: candidates are post-prefilter sparse, so this
    # may shuffle both sides on the 8-byte gram key — fine, neither
    # needs to broadcast
    return cg.join(bg, on="__gh", how="left_semi")


def _contamination_prologue(corpus, benchmark, text_col, id_col,
                            bench_text_col, n, gram_hash, tokens_col,
                            bench_tokens_col):
    """Shared tokenize/gram-hash prologue of the contamination
    operators (``ngram_contamination_stats`` and ``decontaminate``'s
    max_fraction=0 fast path): returns ``(gh, cbase, bg)`` — the gram
    hash fn, the (id, tokens) corpus base, and the benchmark's distinct
    gram-hash set.  One definition so tokenization/gram hashing cannot
    drift between the two call sites."""
    gh = gram_hash or F.xxhash64
    bt = bench_text_col or text_col
    toks = tokens_col if tokens_col is not None else tokens(text_col)
    btoks = (bench_tokens_col if bench_tokens_col is not None
             else tokens(bt))
    cbase = corpus.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    bbase = benchmark.select(F.lit(0).alias("__id"), btoks.alias("__toks"))
    bg = _explode_gram_postings(bbase, n, gh).select("__gh").distinct()
    return gh, cbase, bg


def ngram_contamination_stats(corpus: DataFrame, benchmark: DataFrame,
                              text_col: str, id_col: str,
                              bench_text_col: Optional[str] = None,
                              n: int = 8, gram_hash=None,
                              tokens_col: Optional[Column] = None,
                              bench_tokens_col: Optional[Column] = None,
                              strategy: str = "broadcast",
                              bloom_bits: int = 1 << 23,
                              bloom_k: int = 6) -> DataFrame:
    """Benchmark-contamination scan — the standard eval-decontamination
    step for LLM training corpora (drop training documents that overlap
    the test set): for each corpus document, count its n-token grams and
    how many of them occur anywhere in ``benchmark``.

    Scale shape: ``n_grams`` (the per-document total) is ROW-LOCAL
    arithmetic — max(0, n_tokens - n + 1) — so the only corpus-sized
    shuffle is the per-document aggregation of HIT postings, after the
    membership test has discarded the (overwhelmingly) clean grams.
    Documents shorter than ``n`` tokens have no grams (``n_grams = 0``)
    and can never be flagged.

    Membership test, by ``strategy`` (all three return bit-identical
    answers — the exact verify join removes prefilter false positives):

    - ``'broadcast'`` (default): join corpus postings against the
      benchmark's DISTINCT gram-hash set — megabytes for typical
      benchmark suites, so AQE broadcasts it and the clean grams die at
      the map side without shuffling.
    - ``'prefilter'``: the scale path when the full gram set outgrows a
      broadcast join table: a k=1 Bloom filter realized JVM-side as a
      broadcast LEFT-SEMI join on the TRUNCATED hash
      (``pmod(gh, bloom_bits)`` — distinct truncated keys <=
      min(n_grams, bloom_bits), 8 bytes each; FP rate ~ n/bloom_bits).
      Stays inside whole-stage codegen: measured 38.9s vs the Arrow
      bitmap probe's 252.7s over the same 25M postings at sf10 (the
      python-eval node splits the explode pipeline out of codegen —
      the source_similarity lesson again).  Only the surviving
      candidates take the exact hash join.
    - ``'bloom'``: the memory-minimal variant for when even the
      truncated-key set cannot broadcast (n approaching ``bloom_bits``):
      a distributed-built Bloom BITMAP (``bloom_bits`` bits, ``bloom_k``
      probes, bloom_bits/8 bytes broadcast regardless of n) probed in
      one Arrow pass.  ~6x slower per posting than 'prefilter' (above);
      pays off only when the 16 MiB-vs-GBs broadcast difference
      decides executor survival.

    Returns one row per corpus document: ``(id_col, n_grams,
    n_contaminated)`` where counts are gram OCCURRENCES (a gram repeated
    in the document counts each time, matching repeated_ngram_stats).

    ``gram_hash`` defaults to ``xxhash64``; pass ``md5_hash60`` for a
    cross-engine-checkable hash.  ``tokens_col``/``bench_tokens_col``
    override the default lowercasing tokenizer per side."""
    if strategy not in ("broadcast", "prefilter", "bloom"):
        raise ValueError("strategy must be 'broadcast', 'prefilter' or "
                         "'bloom'")
    gh, cbase, bg = _contamination_prologue(
        corpus, benchmark, text_col, id_col, bench_text_col, n,
        gram_hash, tokens_col, bench_tokens_col)

    if strategy == "broadcast":
        # SINGLE corpus pass (r14): the two-branch shape below tokenizes
        # the corpus twice (postings branch + row-local denominator
        # branch).  With the benchmark gram set broadcastable, the
        # membership test can be a row-preserving broadcast LEFT join
        # flag instead of a left-semi, so ONE aggregation over the
        # postings yields both counts — n_grams = count of non-null
        # positions (explode_outer keeps gram-less docs as a null
        # posting), n_contaminated = count of flagged rows.  Clean grams
        # still die map-side (partial aggregation in the same stage);
        # the only shuffle stays the per-document combine.  The
        # prefilter/bloom strategies keep the denominator branch: their
        # membership test FILTERS the postings before the exact join,
        # so a totals count there would need exactly the second pass
        # this shape removes.
        cg = _explode_gram_postings(cbase, n, gh, keep_positions=True,
                                    outer=True)
        flagged = cg.join(bg.withColumn("__hit", F.lit(1)),
                          on="__gh", how="left")
        return (flagged.groupBy("__id")
                .agg(F.count("__i").cast("long").alias("n_grams"),
                     F.coalesce(F.sum("__hit"), F.lit(0))
                      .cast("long").alias("n_contaminated"))
                .select(F.col("__id").alias(id_col),
                        "n_grams", "n_contaminated"))

    hits = _filtered_hit_postings(cbase, bg, n, gh, strategy,
                                  bloom_bits, bloom_k,
                                  corpus.sparkSession)
    per_doc = (hits.groupBy("__id")
               .agg(F.count("*").cast("long").alias("n_contaminated")))
    # per-document totals are row-local arithmetic on the token count —
    # no posting ever shuffles for the denominator
    doc_tot = (cbase.select(
        "__id",
        F.greatest(F.lit(0), F.size("__toks") - F.lit(n - 1))
         .cast("long").alias("__ng"))
        .groupBy("__id").agg(F.sum("__ng").cast("long").alias("n_grams")))
    return (doc_tot.join(per_doc, on="__id", how="left")
            .select(F.col("__id").alias(id_col),
                    F.col("n_grams"),
                    F.coalesce("n_contaminated", F.lit(0))
                     .cast("long").alias("n_contaminated")))


def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                  text_col: str, id_col: str,
                  bench_text_col: Optional[str] = None,
                  n: int = 8, max_fraction: float = 0.0,
                  min_hits: int = 1, gram_hash=None,
                  tokens_col: Optional[Column] = None,
                  bench_tokens_col: Optional[Column] = None,
                  strategy: str = "broadcast",
                  bloom_bits: int = 1 << 23,
                  bloom_k: int = 6) -> DataFrame:
    """Drop corpus documents contaminated by ``benchmark``: a document is
    removed when it has at least ``min_hits`` contaminated gram
    occurrences AND its contaminated share ``n_contaminated / n_grams``
    exceeds ``max_fraction`` (default 0.0 with min_hits=1 = drop on any
    shared n-gram, the strict setting eval decontamination usually
    wants).  Documents with no grams are always kept.  One extra
    anti-join shuffle on the id beyond the contamination scan.

    With ``max_fraction == 0.0`` the share test reduces to
    ``n_contaminated >= 1`` (n_grams never matters: n_contaminated > 0
    * n_grams <=> n_contaminated > 0, including n_grams = 0 docs, whose
    n_contaminated is 0), so the prefilter/bloom strategies skip the
    per-document totals branch — a full corpus tokenize pass — and
    compute the bad set straight from the hit postings (r14; the
    broadcast strategy computes both counts in one pass either way)."""
    if max_fraction == 0.0 and strategy in ("prefilter", "bloom"):
        gh, cbase, bg = _contamination_prologue(
            corpus, benchmark, text_col, id_col, bench_text_col, n,
            gram_hash, tokens_col, bench_tokens_col)
        hits = _filtered_hit_postings(cbase, bg, n, gh, strategy,
                                      bloom_bits, bloom_k,
                                      corpus.sparkSession)
        bad = (hits.groupBy("__id")
               .agg(F.count("*").alias("__nc"))
               .filter(F.col("__nc") >= max(min_hits, 1))
               .select(F.col("__id").alias(id_col)))
        return corpus.join(bad, on=id_col, how="left_anti")
    stats = ngram_contamination_stats(
        corpus, benchmark, text_col, id_col, bench_text_col=bench_text_col,
        n=n, gram_hash=gram_hash, tokens_col=tokens_col,
        bench_tokens_col=bench_tokens_col, strategy=strategy,
        bloom_bits=bloom_bits, bloom_k=bloom_k)
    bad = (stats.filter((F.col("n_contaminated") >= min_hits)
                        & (F.col("n_contaminated")
                           > F.lit(max_fraction) * F.col("n_grams")))
                .select(id_col))
    return corpus.join(bad, on=id_col, how="left_anti")


def repeated_ngram_stats(df: DataFrame, text_col: str, id_col: str,
                         n: int = 10, min_docs: int = 2,
                         gram_hash=None, tokens_col: Optional[Column] = None
                         ) -> DataFrame:
    """Cross-document repeated n-gram spans (the substring-dedup
    primitive behind "dedup the training data at the span level"): for
    each document, count its n-token grams and how many of them also
    appear in at least ``min_docs`` distinct documents.

    Classic inverted-index shape: explode (doc, gram_hash) postings,
    aggregate gram document-frequency, join back, re-aggregate per doc —
    the postings shuffle carries only (8-byte hash, id) pairs, never
    text, and both aggregations keep map-side partial combine.  Docs
    shorter than ``n`` tokens contribute (and receive) nothing.

    ``gram_hash`` defaults to ``xxhash64``; pass ``md5_hash60`` for a
    cross-engine-checkable hash.  ``tokens_col`` overrides the default
    lowercasing tokenizer (e.g. a plain whitespace split)."""
    gh = gram_hash or F.xxhash64
    toks = tokens_col if tokens_col is not None else tokens(text_col)
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    # Explode cheap POSITIONS, hash after the generate: exploding a
    # per-doc array of gram hashes looks natural but
    # InferFiltersFromGenerate clones the generator's child expression
    # into inferred predicates, so the full slice+concat+hash transform
    # runs ~3x per row (interpreted) — measured 10x slower.  With the
    # generate over sequence(0, size-n) the cloned expression is a cheap
    # int sequence, and each gram is sliced+hashed exactly once, on its
    # own posting row.  The when() guard keeps the sequence ascending
    # (empty) for short docs — a bare filter is not enough because the
    # inferred predicates evaluate on unfiltered rows.
    g = _explode_gram_postings(base, n, gh)
    # Skew-safe document frequency: collapse to per-(id, gram) counts,
    # aggregate gram document frequency, JOIN it back.  A window over
    # __gh would evaluate the postings once instead of twice, but a
    # boilerplate gram present in millions of docs serializes a window
    # partition into one unsplittable straggler task — AQE's skew-join
    # splitting handles the same hot key on a join, and the measured
    # cost difference at sf1 is noise (the gram hashing dominates both
    # formulations).
    # MATERIALIZED (operators/_mat.py — evict-then-persist columnar
    # cache by default, mode knob + recovery trade there): the dup branch and the
    # join branch prune different columns, so their exchange subtrees
    # canonicalize differently and neither ReuseExchange nor AQE stage
    # reuse dedups them — without the checkpoint the scan+tokenize+
    # gram-hash pipeline ran once PER consumer.  One write of the
    # collapsed (id, gram, cnt) rows (no bigger than the exchange that
    # already carries them) buys back a full corpus pass; recomputed
    # fresh on every execution.
    c = materialize(
        g.groupBy("__id", "__gh").agg(F.count("*").alias("__cnt")))
    dup = (c.groupBy("__gh").agg(F.count("*").alias("__nd"))
            .filter(F.col("__nd") >= min_docs)
            .select("__gh", F.lit(1).alias("__isdup")))
    return (c.join(dup, on="__gh", how="left")
             .groupBy("__id")
             .agg(F.sum("__cnt").cast("long").alias("n_grams"),
                  F.coalesce(F.sum(F.when(F.col("__isdup") == 1, F.col("__cnt"))),
                             F.lit(0)).cast("long").alias("n_dup_grams"))
             .withColumnRenamed("__id", id_col))


def remove_repeated_spans(df: DataFrame, text_col: str, id_col: str,
                          n: int = 10, min_docs: int = 2,
                          gram_hash=None,
                          tokens_col: Optional[Column] = None) -> DataFrame:
    """SUBSTRING-level dedup — actually REMOVE cross-document repeated
    spans (the operation ``repeated_ngram_stats`` only counts): a token
    is dropped iff it is covered by at least one n-token gram that
    occurs in >= ``min_docs`` distinct documents (boilerplate headers,
    license blocks, navigation chrome).  Every occurrence is scrubbed —
    the "remove duplicated substrings" normalization of training-data
    dedup practice.

    Returns one row per input document: ``(id_col, clean_text,
    n_removed)`` where ``clean_text`` is the surviving tokens re-joined
    with single spaces (whitespace-normalized; the default tokenizer is
    the WHITESPACE split so original token spelling survives — pass
    ``tokens_col`` to override, at the cost of reconstructing from the
    override's tokens).

    Scale shape: the postings shuffle carries (8-byte gram hash, id,
    position); gram document-frequency keeps map-side combine; the
    per-doc duplicated-position list rides one (id)-keyed aggregation
    and the span mask is a row-local array expression — no text ever
    shuffles except the final rebuilt column.  Docs shorter than ``n``
    tokens pass through untouched."""
    gh = gram_hash or F.xxhash64
    if tokens_col is None:
        from .text import whitespace_tokens

        toks = whitespace_tokens(F.col(text_col))
    else:
        toks = tokens_col
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    # ONE pass over the (expensive) gram-hash postings: collapse to
    # per-(id, gram) position lists first, then both the document
    # frequency and the per-doc duplicated starts derive from that
    # aggregate — the frequency exchange on __gh is reused by the join,
    # and the slice+hash never evaluates twice
    g = _explode_gram_postings(base, n, gh, keep_positions=True)
    # materialized for the same two-consumer reason as
    # repeated_ngram_stats (the "reused by the join" claim below only
    # holds WITH the checkpoint — branch-specific column pruning
    # otherwise splits the exchanges)
    c = materialize(
        g.groupBy("__id", "__gh").agg(F.collect_list("__i").alias("__ps")))
    dup = (c.groupBy("__gh").agg(F.count("*").alias("__nd"))
            .filter(F.col("__nd") >= min_docs)
            .select("__gh"))
    starts = (c.join(dup, on="__gh")
               .groupBy("__id")
               .agg(F.flatten(F.collect_list("__ps")).alias("__P")))
    joined = (base.join(starts, on="__id", how="left")
              .withColumn("__P", F.coalesce("__P", F.array().cast("array<int>"))))
    idx = F.sequence(F.lit(0), F.size("__toks") - 1)
    keep = F.filter(idx, lambda j: ~F.exists(
        "__P", lambda p: (j >= p) & (j < p + F.lit(n))))
    # empty docs: whitespace_tokens yields [] -> sequence(0, -1) would
    # DESCEND; guard to an empty index list
    keep = F.when(F.size("__toks") > 0, keep).otherwise(
        F.array().cast("array<int>"))
    # NULL text passes through as NULL clean_text with 0 removed (the
    # arithmetic would otherwise emit a NULL count and concat_ws would
    # coerce the text to '')
    return joined.select(
        F.col("__id").alias(id_col),
        F.when(F.col("__toks").isNull(), F.lit(None).cast("string"))
         .otherwise(F.concat_ws(" ", F.transform(keep, lambda j: F.element_at(
             "__toks", j + 1)))).alias("clean_text"),
        F.coalesce(F.size("__toks") - F.size(keep), F.lit(0))
         .cast("long").alias("n_removed"))


def remove_repeated_lines(df: DataFrame, text_col: str, id_col: str,
                          min_docs: int = 2, line_sep: str = "\n",
                          line_hash=None) -> DataFrame:
    """LINE-level cross-document dedup (the C4/CCNet "discard any line
    occurring in more than one document" normalization — boilerplate
    headers, navigation chrome, cookie banners): a line is dropped from
    EVERY document iff its trimmed form appears in at least ``min_docs``
    distinct documents.

    Returns one row per input document: ``(id_col, clean_text,
    n_removed)`` — surviving lines re-joined with ``line_sep`` in their
    original order (each line whitespace-trimmed; empty/whitespace-only
    lines are dropped as noise, not counted as removed duplicates).

    Scale shape mirrors ``remove_repeated_spans``: the postings shuffle
    carries (8-byte line hash, id, position) — never text; line
    document-frequency keeps map-side partial combine; the per-doc
    removed-position list rides one (id)-keyed aggregation and the
    rebuild is a row-local array expression over the doc's own line
    array.  ``line_hash`` defaults to ``xxhash64``; pass ``md5_hash60``
    for a cross-engine-checkable hash."""
    import re as _re

    lh = line_hash or F.xxhash64
    lines = F.transform(F.split(F.col(text_col), _re.escape(line_sep), -1),
                        lambda l: F.trim(l))
    lines = F.filter(lines, lambda l: F.length(l) > 0)
    base = df.select(F.col(id_col).alias("__id"), lines.alias("__ls"))
    pos = F.when(F.size("__ls") > 0,
                 F.sequence(F.lit(0), F.size("__ls") - 1)
                 ).otherwise(F.array().cast("array<int>"))
    g = (base.filter(F.col("__ls").isNotNull())
             .select("__id", "__ls", F.explode(pos).alias("__i"))
             .select("__id", "__i",
                     lh(F.element_at("__ls", F.col("__i") + 1)).alias("__lh")))
    # collapse to per-(id, hash) position lists first: the doc frequency
    # and the per-doc removed positions both derive from one aggregate —
    # materialized (operators/_mat.py) so the two consumers actually
    # share it (branch-specific pruning otherwise re-derives the
    # scan+split+hash pipeline per consumer; same r14 fix as
    # repeated_ngram_stats)
    c = materialize(
        g.groupBy("__id", "__lh").agg(F.collect_list("__i").alias("__ps")))
    dup = (c.groupBy("__lh").agg(F.count("*").alias("__nd"))
            .filter(F.col("__nd") >= min_docs)
            .select("__lh"))
    removed = (c.join(dup, on="__lh")
                .groupBy("__id")
                .agg(F.flatten(F.collect_list("__ps")).alias("__P")))
    joined = (base.join(removed, on="__id", how="left")
              .withColumn("__P", F.coalesce("__P", F.array().cast("array<int>"))))
    idx = F.when(F.size("__ls") > 0,
                 F.sequence(F.lit(0), F.size("__ls") - 1)
                 ).otherwise(F.array().cast("array<int>"))
    keep = F.filter(idx, lambda j: ~F.exists("__P", lambda p: p == j))
    # NULL text passes through as NULL clean_text with 0 removed
    # (matching remove_repeated_spans)
    return joined.select(
        F.col("__id").alias(id_col),
        F.when(F.col("__ls").isNull(), F.lit(None).cast("string"))
         .otherwise(F.concat_ws(line_sep, F.transform(
             keep, lambda j: F.element_at("__ls", j + 1)))).alias("clean_text"),
        F.size("__P").cast("long").alias("n_removed"))


def winnow_fingerprints(df: DataFrame, text_col: str, id_col: str,
                        k: int = 5, window: int = 4,
                        gram_hash=None,
                        tokens_col: Optional[Column] = None) -> DataFrame:
    """MOSS winnowing fingerprints (Schleimer et al. 2003, "Winnowing:
    Local Algorithms for Document Fingerprinting"): hash every k-token
    gram, slide a window over ``window`` consecutive gram hashes, and
    select each window's MINIMUM hash (rightmost position on ties);
    consecutive windows selecting the same position collapse.  The
    guarantee: two documents sharing any token run of at least
    ``k + window - 1`` share at least one selected fingerprint — the
    sub-quadratic local fingerprint behind plagiarism / near-copy
    detection, with density ~2/(window+1) instead of every gram.

    Returns exploded rows ``(id_col, pos, fp)`` (pos = 1-based gram
    start) — self-join or cross-corpus-join on ``fp`` for candidate
    matches.  Documents with fewer than ``window`` grams winnow their
    single partial window; docs shorter than ``k`` tokens emit nothing.

    Row-local array machinery (each stage a multi-referenced column,
    same CollapseProject staging rule as ``text.repetition_stats``);
    only the selected (8-byte fp, pos, id) rows leave the row.
    ``gram_hash`` defaults to xxhash64; pass ``md5_hash60`` for the
    cross-engine-checkable form.  (r14 measured an Arrow/numpy
    sliding-window-min variant — per-doc and batch-flattened — at
    parity-to-slower vs this JVM fold at sf0.1 even with the gram
    hashing staged JVM-side, so the all-JVM form stays.)"""
    gh = gram_hash or F.xxhash64
    if tokens_col is None:
        from .text import whitespace_tokens

        toks = whitespace_tokens(F.col(text_col))
    else:
        toks = tokens_col
    w = window
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    L = F.size("__toks")
    base = base.withColumn("__gh", F.when(L >= k, F.transform(
        F.sequence(F.lit(1), L - (k - 1)),
        lambda i: gh(F.concat_ws(" ", F.slice("__toks", i, k))))
    ).otherwise(F.array().cast("array<bigint>")))
    ghs = F.col("__gh")
    G = F.size(ghs)
    n_wins = F.greatest(G - (w - 1), F.lit(1))
    # per window j: size = min(w, G-j+1) (partial only when G < w);
    # rightmost position attaining the window minimum, in ONE pass
    # (an array_min + argmin-filter pair would re-evaluate the min per
    # element once CollapseProject inlines it into the lambda)
    def sel(j):
        size = F.least(F.lit(w), G - j + 1)
        acc0 = F.struct(F.lit(None).cast("bigint").alias("best"),
                        F.lit(0).alias("pos"))
        return F.aggregate(
            F.sequence(j, j + size - 1), acc0,
            lambda a, p: F.when(
                a["best"].isNull()
                | (F.element_at(ghs, p) <= a["best"]),
                F.struct(F.element_at(ghs, p).alias("best"),
                         p.alias("pos"))).otherwise(a),
            lambda a: a["pos"])
    sels = F.when(G > 0, F.array_distinct(
        F.transform(F.sequence(F.lit(1), n_wins), sel))
    ).otherwise(F.array().cast("array<int>"))
    # (pos, fp) structs are built HERE, where __gh is still a bound
    # attribute, and the explode is explode_OUTER: a plain explode lets
    # InferFiltersFromGenerate clone the generator child — the ENTIRE
    # winnowing expression, un-staged — into a size()>0 predicate that
    # pushdown carries to the scan, where the gram-hash transform
    # re-evaluates inside every window lambda step (measured 125 s for
    # 500 sf0.01 docs vs ~2 s).  explode_outer infers nothing; the
    # empty-doc null rows drop in a cheap post-generate filter.
    pairs = F.transform(sels, lambda p: F.struct(
        p.alias("pos"), F.element_at(ghs, p).alias("fp")))
    return (base.withColumn("__sel", pairs)
                .select("__id", F.explode_outer("__sel").alias("__s"))
                .filter(F.col("__s").isNotNull())
                .select(F.col("__id").alias(id_col),
                        F.col("__s.pos").alias("pos"),
                        F.col("__s.fp").alias("fp")))


def incremental_exact_dedup(df: DataFrame, text_col: str, id_col: str,
                            state_uri: str, commit: bool = True) -> DataFrame:
    """Continuous-ingest exact dedup: drop rows whose normalized content
    fingerprint (``text.fingerprint``: lowercase, punctuation/whitespace
    collapsed, xxhash64) appeared in ANY previously committed batch,
    dedup within the batch (minimum ``id_col`` per fingerprint wins —
    an AQE-splittable aggregate+join, not a hot-key window), then
    COMMIT the survivors' fingerprints to ``state_uri`` as one new
    timestamped fragment.  The crawl-pipeline shape: each ingest batch
    is one state commit with the engine's usual time-travel /
    consolidation story.

    The state read is PINNED to the pre-commit timestamp, so the
    returned (lazy) DataFrame stays correct when the caller executes it
    after the commit — the batch never anti-joins against its own
    fingerprints.  The commit fragment's timestamp is forced STRICTLY
    greater than the pin (``max(now_ms(), ts_pin + 1)``), so a commit
    landing in the same millisecond as the previous fragment (fast
    successive batches, clock step-back) can never leak into the
    inclusive pinned read.  ``commit=True`` evaluates the survivor
    fingerprints once (cached across the emptiness probe, the range
    sampling, and the fragment write, then released); the RETURNED
    DataFrame still re-derives on the caller's action —
    persist/checkpoint upstream if that recompute is expensive.

    Scale shape: the anti-join and the within-batch first-wins join
    shuffle only (8-byte fingerprint, id); the state array read is
    column-pruned to the fingerprint dimension; the commit writes the
    survivor fingerprints DISTRIBUTED through ``write_fragment_spark``
    (range-clustered parquet, exact footer stats) — no driver-side
    materialization of batch data at any size."""
    from .text import fingerprint

    spark = df.sparkSession
    new = df.withColumn("__fp", fingerprint(text_col))
    from .. import highlevel as hl
    from ..fragment import array_fragments

    exists = hl.array_exists(state_uri)
    ts_pin = None
    if exists:
        frs = array_fragments(state_uri)
        ts_pin = max(f.timestamp_range[1] for f in frs) if len(frs) else None
        seen = (hl.open(state_uri, timestamp=ts_pin, spark=spark)
                .dataframe().select(F.col("fp").alias("__fp")))
        new = new.join(seen, on="__fp", how="left_anti")
    firsts = new.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    surv = new.join(firsts, on=["__fp", id_col], how="left_semi")
    if commit:
        from .. import manifest as mf
        from ..schema import ArraySchema, Dim, Domain
        from ..sources.fragment_writer import write_fragment_spark

        # persist around the commit: isEmpty, repartitionByRange's
        # sampling pass, and the parquet write would otherwise each
        # re-run the anti-join + first-wins chain (~3x the shuffles)
        fps = surv.select(F.col("__fp").alias("fp")).distinct().persist()
        try:
            if not exists:
                # full int64 domain: later batches append arbitrary
                # 64-bit hashes; a domain pinned to batch 1's min/max
                # would put them outside the declared coordinate domain
                info = np.iinfo(np.int64)
                dim = Dim(name="fp", domain=(info.min, info.max - 1000),
                          tile=1000, dtype=np.int64)
                schema = ArraySchema(domain=Domain(dim), attrs=[],
                                     sparse=True)
                mf.create_array(state_uri, schema)
            else:
                schema = mf.read_manifest(state_uri).schema
            if not fps.isEmpty():
                # strictly after the pin: the pinned read is inclusive,
                # so a same-millisecond commit would otherwise see its
                # own batch
                ts_commit = max(mf.now_ms(), (ts_pin or 0) + 1)
                write_fragment_spark(state_uri, schema, fps,
                                     timestamp=ts_commit)
        finally:
            fps.unpersist()
    return surv.drop("__fp")


def incremental_neardup(df: DataFrame, text_col: str, id_col: str,
                        state_uri: str, num_perm: int = 64,
                        bands: int = 16, shingle_k: int = 3,
                        threshold: float = 0.8, bucket_cap: int = 64,
                        state_bucket_cap: int = 1024,
                        commit: bool = True) -> DataFrame:
    """Continuous-ingest NEAR-dup: drop rows whose MinHash signature
    matches (banded LSH candidate + matching-slot fraction >=
    ``threshold``) any document in ANY previously committed batch, or a
    smaller-id document within the batch — then COMMIT every incoming
    document's signature to ``state_uri`` (the `incremental_exact_dedup`
    state-array pattern extended from 8-byte fingerprints to
    ``num_perm * 8``-byte signatures).  Each crawl snapshot
    deduplicates against all prior snapshots WITHOUT reprocessing
    them: state stores only (id, signature); prior band keys are
    recomputed row-local from the persisted signatures
    (``_sig_band_keys`` is a pure function of the signature), and
    verification is the signature matching-slot estimate — the
    original text never persists and never reships.

    ALL incoming documents' signatures commit, survivors or not: a
    future document near-duplicating an already-dropped one must still
    drop (matching `minhash_dedup`'s min-id edge propagation, where
    dropped docs keep contributing edges).  With batch ids
    monotonically increasing across batches (the crawl-snapshot case)
    and no bucket hitting ``bucket_cap``, the multi-batch result
    equals ``minhash_dedup(union_of_batches, verify="signature")``
    exactly — the driver gate asserts this.  Under capping the two can
    diverge (batch mode caps buckets across the union; incremental
    caps within each batch) — a recall, never a correctness, boundary.

    Scale shape: shuffles carry (band, band_hash, id) postings and
    candidate-only signature joins; the state read is one
    column-pruned scan of (id, sig); the commit is a distributed
    fragment write of signatures with a strictly-past-the-pin
    timestamp (same race defense as the exact variant)."""
    from pyspark.sql import Window

    from .. import highlevel as hl
    from .. import manifest as mf
    from ..fragment import array_fragments

    spark = df.sparkSession
    # signatures feed the postings, both verifies, and the commit; like
    # incremental_exact_dedup, commit=True evaluates the plan once for
    # the state write — persist/checkpoint upstream if the recompute on
    # the caller's collect is expensive
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_k)
    nb = sigs.select(
        "__id",
        F.posexplode(_sig_band_keys("__sig", num_perm, bands))
        .alias("band", "band_hash"))

    import json

    params = {"num_perm": num_perm, "bands": bands,
              "shingle_k": shingle_k, "sig_family": "arrow-muladd-s42"}
    exists = hl.array_exists(state_uri)
    ts_pin = None
    drop_vs_state = None
    if exists:
        from ..metadata import Metadata

        stored = Metadata(state_uri).get("__neardup_params")
        if stored is not None and json.loads(stored) != params:
            # a parameter mismatch would not fail — different band keys
            # simply match NOTHING and every cross-batch duplicate
            # silently survives.  Refuse instead.
            raise ValueError(
                f"incremental_neardup: state at {state_uri} was built "
                f"with {json.loads(stored)}; this call uses {params}. "
                "Signatures are only comparable under identical "
                "parameters — use a fresh state_uri or the original "
                "parameters.")
        frs = array_fragments(state_uri)
        ts_pin = max(f.timestamp_range[1] for f in frs) if len(frs) else None
        st = (hl.open(state_uri, timestamp=ts_pin, spark=spark)
              .dataframe()
              .select(F.col("id").alias("__sid"), F.col("sig").alias("__ssig")))
        stp = st.select(
            "__sid",
            F.posexplode(_sig_band_keys("__ssig", num_perm, bands))
            .alias("band", "band_hash"))
        # cap degenerate STATE buckets too (smallest ids win, like the
        # within-batch side): the state accumulates every committed
        # batch, so a hot band key shared by boilerplate/empty docs
        # otherwise grows without bound and the candidate join explodes
        # quadratically.  The cap binds only on pathological buckets
        # (>state_bucket_cap near-identical docs sharing a band) — at
        # that size the smallest-id members already witness every drop.
        ws = Window.partitionBy("band", "band_hash").orderBy("__sid")
        stp = (stp.withColumn("__srn", F.row_number().over(ws))
                  .filter(F.col("__srn") <= state_bucket_cap)
                  .drop("__srn"))
        cand = (nb.join(stp, on=["band", "band_hash"])
                  .select("__id", "__sid").distinct())
        est = _sig_match_frac(F.col("__sig"), F.col("__ssig"), num_perm)
        drop_vs_state = (cand.join(sigs, "__id")
                             .join(st, "__sid")
                             .filter(est >= threshold)
                             .select("__id").distinct())

    # within-batch: capped buckets (same policy as _banded_buckets),
    # min-id edges over signature-verified candidate pairs
    w = Window.partitionBy("band", "band_hash").orderBy("__id")
    nbc = (nb.withColumn("__rn", F.row_number().over(w))
             .filter(F.col("__rn") <= bucket_cap).drop("__rn"))
    a = nbc.alias("a")
    b = nbc.alias("b")
    pairs = (a.join(b, on=["band", "band_hash"])
              .filter(F.col("a.__id") < F.col("b.__id"))
              .select(F.col("a.__id").alias("id_a"),
                      F.col("b.__id").alias("id_b"))
              .distinct())
    verified = verify_signature(pairs, sigs, num_perm, threshold)
    # min-id propagation: any verified edge to a smaller id drops id_b
    drop_in_batch = verified.select(F.col("id_b").alias("__id")).distinct()

    drops = drop_in_batch if drop_vs_state is None else \
        drop_in_batch.unionByName(drop_vs_state).distinct()
    surv = df.join(drops.withColumnRenamed("__id", id_col),
                   on=id_col, how="left_anti")

    if commit:
        from ..schema import ArraySchema, Attr, Dim, Domain
        from ..sources.fragment_writer import write_fragment_spark

        if not exists:
            info = np.iinfo(np.int64)
            dim = Dim(name="id", domain=(info.min, info.max - 1000),
                      tile=1000, dtype=np.int64)
            schema = ArraySchema(
                domain=Domain(dim),
                attrs=[Attr(name="sig", dtype=np.int64, var=True)],
                sparse=True)
            mf.create_array(state_uri, schema)
            from ..metadata import Metadata

            # pin the signature parameters to the state: later batches
            # verify them before trusting cross-batch comparisons
            Metadata(state_uri)["__neardup_params"] = json.dumps(params)
        else:
            schema = mf.read_manifest(state_uri).schema
        # persist around the commit (same rationale as the exact
        # variant: isEmpty + range-sampling + write would re-run the
        # signature fold three times)
        out = sigs.select(F.col("__id").alias("id"),
                          F.col("__sig").alias("sig")).persist()
        try:
            if not out.isEmpty():
                ts_commit = max(mf.now_ms(), (ts_pin or 0) + 1)
                write_fragment_spark(state_uri, schema, out,
                                     timestamp=ts_commit)
        finally:
            out.unpersist()
    return surv


def compact_state(state_uri: str, spark=None, run_vacuum: bool = True) -> int:
    """Fold an incremental-dedup state array's per-batch fragments into
    ONE — the state-lifecycle step for ``incremental_exact_dedup`` /
    ``incremental_neardup``: each batch commits one fragment forever,
    so after 10k crawl batches every anti-join would read 10k fragment
    files.  Compaction rewrites the live fragments through the engine's
    ``fragment.consolidate`` (reference ``array.py:729-792``) and, with
    ``run_vacuum`` (default), drops the superseded per-batch fragments
    from the manifest so subsequent state reads scan one range-clustered
    fragment.

    Batch answers are IDENTICAL before and after: state rows are
    append-only distinct keys (fingerprints / signatures keyed by id),
    so consolidation's last-write-wins fold is a pure concatenation,
    and the consolidated fragment's timestamp is the max ts_end over
    the folded batches — exactly the pin the next batch would have
    computed — so the pinned read sees the same rows and the next
    commit still lands strictly past it.  The ``incremental_compact``
    gate asserts run-for-run equality.

    Returns the number of fragments REMOVED from the manifest — 0 when
    already compact, and 0 with ``run_vacuum=False`` (consolidation
    alone only writes the folded fragment and supersedes the per-batch
    ones; nothing is removed until the vacuum).

    Scale note: NEVER compact while a ``readStream`` subscribes to the
    state array — the stream source's identity-bearing offsets will
    (correctly) refuse the rewritten fragment list."""
    from ..fragment import array_fragments, consolidate
    from ..fragment import vacuum as _vacuum

    n_before = len(array_fragments(state_uri))
    if n_before <= 1:
        return 0
    consolidate(state_uri, spark=spark)
    if run_vacuum:
        _vacuum(state_uri)
        return n_before - len(array_fragments(state_uri))
    return 0


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def embedding_near_dup_pairs(df: DataFrame, vec_col: str, id_col: str,
                             threshold: float = 0.95,
                             n_planes: int = 8, n_tables: int = 8,
                             bucket_cap: int = 64, seed: int = 42,
                             exact: bool = False) -> DataFrame:
    """Pairs with cosine >= threshold.

    ``exact=False`` prunes with BANDED random-hyperplane LSH — ``n_tables``
    independent tables of ``n_planes`` sign bits each, OR'd (a pair is a
    candidate if ALL bits of ANY table agree) — then verifies candidates
    with the exact cosine.  A single table's recall falls off a cliff
    below cosine ~0.98 (one flipped sign bit loses the pair forever);
    with b tables of r planes the miss probability is
    ``(1 - p^r)^b`` for ``p = 1 - theta/pi`` — e.g. at cosine 0.85,
    8x8 tables recover ~85% of pairs where one 12-plane table finds ~9%.
    Per-table buckets with more than ``bucket_cap`` members are capped
    (same policy as the MinHash banding path) so clustered embeddings
    can't send an in-bucket self-join quadratic.

    Shuffle cost: one exchange of (table, bucket, id) rows — never the
    vectors — plus the candidate-only verify join.  ``exact=True`` is the
    O(n^2) oracle path for small data."""
    norm = _norm(F.col(vec_col))
    base = df.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__v"),
                     norm.alias("__n")).filter(F.col("__n") > 0)
    if not exact:
        import random

        from pyspark.sql import Window

        # Planes live in a BROADCAST side table, not in the expression
        # tree: unrolling n_tables*n_planes dot products as literal-array
        # expressions makes planning/codegen cost scale with the config
        # (a 32x3 config spent ~10s planning).  One crossJoin against the
        # tiny (n_tables*n_planes)-row planes table keeps the plan
        # constant-size; map-side partial aggregation collapses the
        # per-plane bits to one (table, id, bucket) row per table before
        # any shuffle, so vectors still never leave their partition.
        # Plane values are drawn in the same per-table rng sequence as
        # the previous unrolled form — buckets are bit-identical.
        probe = base.select(F.size("__v").alias("d")).limit(1).collect()
        dim = probe[0]["d"] if probe else 0
        plane_rows = []
        for t in range(n_tables):
            rng = random.Random(seed + 7919 * t)  # independent planes per table
            for j in range(n_planes):
                plane_rows.append((t, j, [rng.gauss(0, 1) for _ in range(dim)]))
        planes = df.sparkSession.createDataFrame(
            plane_rows, "__table int, __j int, __p array<double>")
        bit = (F.when(_dot(F.col("__v"), F.col("__p")) >= 0,
                      F.expr("shiftleft(CAST(1 AS BIGINT), __j)"))
               .otherwise(F.lit(0).cast("long")))
        buckets = (base.crossJoin(F.broadcast(planes))
                   .select("__id", "__table", bit.alias("__bit"))
                   .groupBy("__table", "__id")
                   .agg(F.sum("__bit").alias("__bucket")))
        win = Window.partitionBy("__table", "__bucket").orderBy("__id")
        buckets = (buckets.withColumn("__rn", F.row_number().over(win))
                          .filter(F.col("__rn") <= bucket_cap).drop("__rn"))
        cand = (buckets.alias("x").join(buckets.alias("y"),
                                        on=["__table", "__bucket"])
                .filter(F.col("x.__id") < F.col("y.__id"))
                .select(F.col("x.__id").alias("id_a"),
                        F.col("y.__id").alias("id_b"))
                .distinct())
        j = (cand
             .join(base.select(F.col("__id").alias("id_a"),
                               F.col("__v").alias("__va"),
                               F.col("__n").alias("__na")), "id_a")
             .join(base.select(F.col("__id").alias("id_b"),
                               F.col("__v").alias("__vb"),
                               F.col("__n").alias("__nb")), "id_b"))
        cos = _dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb"))
        return (j.select("id_a", "id_b", cos.alias("cosine"))
                 .filter(F.col("cosine") >= threshold))
    a = base.alias("a")
    b = base.alias("b")
    j = a.crossJoin(b).filter(F.col("a.__id") < F.col("b.__id"))
    cos = _dot(F.col("a.__v"), F.col("b.__v")) / (F.col("a.__n") * F.col("b.__n"))
    return (j.select(F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b"),
                     cos.alias("cosine"))
             .filter(F.col("cosine") >= threshold))


def semantic_dedup(df: DataFrame, vec_col: str, id_col: str,
                   threshold: float = 0.95, n_cells: int = 16,
                   index=None, seed: int = 42,
                   block: int = 1024) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column
    (Abbas et al. 2023: cluster embeddings, drop near-identical members
    within each cluster): assign every vector to its nearest of
    ``n_cells`` spherical-k-means centroids (``operators.similarity.
    IVFIndex`` — pass a fitted ``index`` to reuse persisted centroids),
    then drop a row iff a SMALLER-id row in the SAME cell has cosine >=
    ``threshold``.

    The drop rule matches ``minhash_dedup``'s one-round min-id semantics
    ("exists an earlier neighbor", whether or not that neighbor
    survived), which keeps it SQL-expressible: with ``n_cells=1`` the
    result equals the exact quadratic rule (the oracle gate), and with
    ``n_cells>1`` cell boundaries trade RECALL (a cross-cell near-dup
    pair survives), never correctness — the standard SemDeDup tradeoff.

    Scale shape: one (cell, id) shuffle; per-cell work is a vectorized
    numpy cosine scan in ``block``-column strips, O(m^2) flops but only
    O(m*block) memory for an m-vector cell — cells are ~n/n_cells by
    construction, so pick ``n_cells`` such that cells fit an executor
    (the same knob IVF search already exposes).  Vectors cross the wire
    once, Arrow-batched.  Null/zero vectors are never dropped and never
    drop others (no defined cosine)."""
    from .similarity import IVFIndex

    if index is None:
        index = IVFIndex(n_cells=n_cells, n_probe=n_cells, seed=seed) \
            .fit(df, vec_col)
    assigned = index.assign(df, vec_col)
    out_cols = df.columns

    def dedup_cell(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        m = len(pdf)
        if m <= 1:
            return pdf[out_cols]
        vecs = [np.asarray(v, dtype="float64") if v is not None else None
                for v in pdf[vec_col]]
        dim = next((len(v) for v in vecs if v is not None), 0)
        M = np.zeros((m, dim), dtype="float64")
        for i, v in enumerate(vecs):
            if v is not None:
                M[i] = v
        # null, zero, AND non-finite (NaN/inf) vectors become zero rows:
        # cosine 0 with everything, so they are never dropped and never
        # drop others.  Without the finite mask a single NaN component
        # would propagate through the cosine matrix and -- because
        # NaN < threshold is False -- silently delete every higher-id
        # vector in the cell.
        M[~np.isfinite(M).all(axis=1)] = 0.0
        norms = np.linalg.norm(M, axis=1)
        unit = M / np.where(norms == 0, 1.0, norms)[:, None]
        keep = np.ones(m, dtype=bool)
        rows = np.arange(m)[:, None]
        for s in range(1, m, block):
            e = min(s + block, m)
            S = unit @ unit[s:e].T                      # (m, e-s)
            cols = np.arange(s, e)[None, :]
            S = np.where(rows < cols, S, -np.inf)       # only i < j count
            keep[s:e] = S.max(axis=0) < threshold
        return pdf.loc[keep, out_cols]

    return (assigned.groupBy("__cell")
            .applyInPandas(dedup_cell, schema=df.schema))


def semantic_contamination_stats(corpus: DataFrame, benchmark: DataFrame,
                                 vec_col: str, id_col: str,
                                 bench_vec_col: Optional[str] = None,
                                 max_bench_rows: int = 2_000_000,
                                 block: int = 4096) -> DataFrame:
    """Embedding-level benchmark contamination scan — the semantic
    complement of ``ngram_contamination_stats`` (paraphrased or
    re-tokenized eval leakage that shares no exact n-gram): for each
    corpus row, the maximum cosine similarity against ANY benchmark
    embedding.

    Scale shape: the benchmark matrix is collected, L2-normalized, and
    closed over by an Arrow-batched UDF — one blockwise numpy matmul per
    batch, ZERO shuffles, corpus vectors never leave their partitions
    (eval sets are small by definition; the ``max_bench_rows`` guard
    refuses inputs where the broadcast-matrix assumption breaks,
    pointing at ``embedding_near_dup_pairs``' banded-LSH join for
    corpus-vs-corpus scale).  Null / zero / non-finite vectors on either
    side score 0 (no defined cosine).

    Returns one row per corpus row: ``(id_col, max_cosine)``."""
    from pyspark.sql.functions import pandas_udf

    bvc = bench_vec_col or vec_col
    brows = (benchmark.select(bvc).filter(F.col(bvc).isNotNull())
             .limit(max_bench_rows + 1).collect())
    if len(brows) > max_bench_rows:
        raise ValueError(
            f"benchmark side exceeds max_bench_rows={max_bench_rows}: the "
            "broadcast-matrix scan assumes an eval-set-sized benchmark; "
            "for corpus-vs-corpus similarity use embedding_near_dup_pairs "
            "(banded LSH).")
    B = np.asarray([r[0] for r in brows], dtype="float64") \
        if brows else np.zeros((0, 1))
    if B.ndim == 2 and len(B):
        B = B[np.isfinite(B).all(axis=1)]
        nb = np.linalg.norm(B, axis=1)
        B = (B[nb > 0] / nb[nb > 0, None])

    @pandas_udf("double")
    def max_cos(vs: pd.Series) -> pd.Series:
        if not len(B):
            return pd.Series(np.zeros(len(vs)))
        out = np.zeros(len(vs))
        valid = np.array([v is not None for v in vs], dtype=bool)
        if valid.any():
            M = np.asarray([np.asarray(v, dtype="float64")
                            for v, ok in zip(vs, valid) if ok])
            M[~np.isfinite(M).all(axis=1)] = 0.0
            nm = np.linalg.norm(M, axis=1)
            M = M / np.where(nm == 0, 1.0, nm)[:, None]
            best = np.full(len(M), -np.inf)
            for s in range(0, B.shape[0], block):
                best = np.maximum(best, (M @ B[s:s + block].T).max(axis=1))
            best[nm == 0] = 0.0
            out[valid] = best
        return pd.Series(out)

    return corpus.select(F.col(id_col), max_cos(F.col(vec_col)).alias("max_cosine"))


def semantic_decontaminate(corpus: DataFrame, benchmark: DataFrame,
                           vec_col: str, id_col: str,
                           threshold: float = 0.95,
                           bench_vec_col: Optional[str] = None,
                           max_bench_rows: int = 2_000_000) -> DataFrame:
    """Drop corpus rows whose embedding is within cosine ``threshold``
    of ANY benchmark embedding (SemDeDup-style eval decontamination).
    Rows with null/zero/non-finite vectors are always kept.  One extra
    anti-join shuffle on the id beyond the broadcast-matrix scan."""
    stats = semantic_contamination_stats(
        corpus, benchmark, vec_col, id_col, bench_vec_col=bench_vec_col,
        max_bench_rows=max_bench_rows)
    bad = stats.filter(F.col("max_cosine") >= threshold).select(id_col)
    return corpus.join(bad, on=id_col, how="left_anti")


def source_similarity(df: DataFrame, text_col: str, strata_col: str,
                      shingle_k: int = 3, method: str = "exact",
                      num_perm: int = 64, gram_hash=None,
                      tokens_col: Optional[Column] = None) -> DataFrame:
    """Pairwise content similarity BETWEEN strata (sources, domains,
    crawl snapshots): Jaccard over each stratum's distinct shingle set
    — the corpus-auditing view ("how redundant is source A vs B?") that
    drives source-level dedup and mixture decisions.

    ``method="exact"``: distinct (stratum, shingle-hash) postings, a
    hash self-join for intersections, sizes joined back — exact, one
    8-byte-key shuffle, SQL-replayable (the oracle path).

    ``method="sketch"``: per-stratum MinHash sketch = the elementwise
    MIN of the member documents' signatures.  MinHash sketches are
    MERGEABLE — the min over any grouping of the same shingle universe
    equals the sketch of the union — so a stratum's sketch is
    ``num_perm * 8`` bytes regardless of its size, sketches from
    separate snapshots combine without reprocessing, and similarity is
    the matching-slot fraction (estimate, se ~ 1/sqrt(num_perm)).
    The scale/incremental path; pytest holds it near the exact answer.

    Returns one row per unordered stratum pair (src_a < src_b):
    ``(src_a, src_b, jaccard, n_a, n_b, n_common)`` (sketch: ``jaccard``
    is the estimate, ``n_*`` are sketch slot counts)."""
    from .text import _tokens_lower

    toks = tokens_col if tokens_col is not None else _tokens_lower(F.col(text_col))
    base = df.select(F.col(strata_col).alias("__s"), toks.alias("__toks"))
    base = base.withColumn("__sh", _shingles_over(F.col("__toks"), shingle_k))
    if method == "sketch":
        gh = gram_hash or F.xxhash64
        # STAGE the hashed-shingle array as its own column (an attribute,
        # per minhash_signature's contract): an inline transform would be
        # re-evaluated inside every permutation aggregate, re-hashing each
        # shingle num_perm times per row.  The staged gh() values ARE the
        # base hashes, so the permutations fold over them directly —
        # minhash_signature's internal string-hash pass would double-hash.
        # The fold stays the SQL xxhash64(j, h) family ON PURPOSE: the
        # Arrow multiply-add fold was measured 2.4x SLOWER here (57 s vs
        # 24 s at sf1) — the python-worker hop breaks whole-stage codegen
        # between this projection and the posexplode+partial-agg that
        # follow, the opposite trade from minhash_signatures' flat
        # (id, sig) output shape.
        base = base.withColumn("__shh",
                               F.transform(F.col("__sh"), lambda s: gh(s)))
        sig = F.array(*[_perm_min(F.col("__shh"), j)
                        for j in range(num_perm)])
        sk = (base.select("__s", F.posexplode(sig).alias("__p", "__v"))
                  .groupBy("__s", "__p").agg(F.min("__v").alias("__v"))
                  .groupBy("__s")
                  .agg(F.transform(
                      F.array_sort(F.collect_list(F.struct("__p", "__v"))),
                      lambda x: x["__v"]).alias("__sk")))
        a = sk.select(F.col("__s").alias("src_a"), F.col("__sk").alias("__ka"))
        b = sk.select(F.col("__s").alias("src_b"), F.col("__sk").alias("__kb"))
        pairs = a.join(b, F.col("src_a") < F.col("src_b"))
        match = F.size(F.filter(
            F.zip_with("__ka", "__kb", lambda x, y: x == y), lambda m: m))
        return pairs.select(
            "src_a", "src_b",
            (match / F.lit(float(num_perm))).alias("jaccard"),
            F.size("__ka").cast("long").alias("n_a"),
            F.size("__kb").cast("long").alias("n_b"),
            match.cast("long").alias("n_common"))
    if method != "exact":
        raise ValueError(f"unknown method {method!r}")
    gh = gram_hash or F.xxhash64
    p = (base.select("__s", F.explode("__sh").alias("__g"))
             .select("__s", gh(F.col("__g")).alias("__h"))
             .distinct())
    sizes = p.groupBy("__s").agg(F.count("*").alias("__n"))
    # intersections WITHOUT a postings self-join: collapse each hash to
    # its (tiny, <= n_strata) sorted stratum set, expand the pairs
    # row-locally, count per pair — one hash-keyed aggregation instead
    # of re-shuffling both sides of a join (measured ~2x at sf1)
    g = (p.groupBy("__h")
          .agg(F.sort_array(F.collect_set("__s")).alias("__ls"))
          .filter(F.size("__ls") >= 2))
    m = F.size("__ls")
    pair_arr = F.flatten(F.transform(
        F.sequence(F.lit(1), m - 1),
        lambda i: F.transform(
            F.sequence(i + 1, m),
            lambda j: F.struct(
                F.element_at("__ls", i).alias("src_a"),
                F.element_at("__ls", j).alias("src_b")))))
    inter = (g.select(F.explode(pair_arr).alias("__p"))
              .groupBy(F.col("__p.src_a").alias("src_a"),
                       F.col("__p.src_b").alias("src_b"))
              .agg(F.count("*").alias("n_common")))
    sa = sizes.select(F.col("__s").alias("src_a"), F.col("__n").alias("n_a"))
    sb = sizes.select(F.col("__s").alias("src_b"), F.col("__n").alias("n_b"))
    grid = sa.join(sb, F.col("src_a") < F.col("src_b"))
    return (grid.join(inter, on=["src_a", "src_b"], how="left")
                .withColumn("n_common", F.coalesce("n_common", F.lit(0)))
                .select("src_a", "src_b",
                        (F.col("n_common")
                         / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
                         ).alias("jaccard"),
                        F.col("n_a").cast("long"),
                        F.col("n_b").cast("long"),
                        F.col("n_common").cast("long")))
