"""Corpus retrieval / relevance operators: BM25 search and TF-IDF
keyword extraction over the same inverted-index shapes the dedup module
uses (explode postings, aggregate, join back — hash-keyed shuffles,
never raw text).

At 100 TB the load-bearing choices are: (1) the query-term filter is
applied AT THE EXPLODE, so the postings relation is query-sized, not
corpus-sized; (2) per-document lengths are a row-local ``size()`` —
no token shuffle; (3) corpus-level scalars (N, avgdl) ride one
broadcast row; (4) document frequencies derive from the already-tiny
term postings.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ._mat import materialize


def _tokens(text_col: str, tokens_col: Optional[Column]) -> Column:
    if tokens_col is not None:
        return tokens_col
    from .text import _tokens_lower

    return _tokens_lower(F.col(text_col))


def bm25_scores(df: DataFrame, text_col: str, id_col: str,
                query_terms: Sequence[str],
                k1: float = 1.2, b: float = 0.75,
                tokens_col: Optional[Column] = None) -> DataFrame:
    """BM25 relevance of every document for a bag of query terms
    (Robertson/Sparck Jones probabilistic weighting, the Lucene/Elastic
    default):

        score(d) = sum over query terms t of
            ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
            * tf_td * (k1 + 1) / (tf_td + k1 * (1 - b + b * len_d / avgdl))

    Returns (id_col, score) for documents matching at least one term.

    Scale shape: the explode filters to ``query_terms`` immediately, so
    the postings shuffle carries only matching (id, term, len, tf)
    rows — the doc length is a row-local ``size(tokens)`` riding the
    posting (a separate length table would cost another corpus scan
    plus an id join); (N, avgdl) is one broadcast row from the only
    other corpus pass; df_t comes from the term postings themselves.
    Everything downstream of the scans is query-sized."""
    terms = sorted(set(t.lower() for t in query_terms))
    toks = _tokens(text_col, tokens_col)
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    stats = (base.select(F.size("__toks").alias("__l"))
                 .agg(F.count("*").alias("__N"),
                      F.avg("__l").alias("__avgdl")))
    term_arr = F.array(*[F.lit(t) for t in terms])
    # the doc length rides the posting rows (row-local size() in the
    # same projection) — a separate lens table costs one more corpus
    # scan AND a join back on the id.  STAGE the filtered query-term
    # array in its OWN projection before the explode: computing
    # size(__toks) and explode(filter(__toks)) in one select keeps the
    # full token array in the Generate's child row, and GenerateExec
    # then copies it per EMITTED posting — quadratic in a single
    # document's matches (a 5M-token skew doc measured 25+ min in one
    # task vs ~4 s staged; same trap as minhash/winnow, see
    # measured-perf notes)
    staged = base.select(
        "__id", F.size("__toks").alias("__len"),
        F.filter("__toks",
                 lambda t: F.array_contains(term_arr, t)).alias("__qt"))
    # NOT materialized (r15 revert of the r14 checkpoint): tf is
    # query-sized and its lineage re-executes once per consumer
    # (document-frequency branch + scoring join), but the re-derived
    # pass is a cheap filtered scan+tokenize that AQE OVERLAPS with the
    # other branch, while an eager checkpoint serializes both behind a
    # barrier.  Measured at THREE scales: sf0.1 A/B med 0.845 (off) vs
    # 0.934 (ckpt), sf1 parity, sf10 interleaved min 6.1/med 8.2 (off)
    # vs 10.0/11.3 (ckpt) — the barrier loses everywhere, so the r14
    # at-scale extrapolation is withdrawn.  (Contrast kn_ppl/line_dedup,
    # where the checkpointed table replaces a far more expensive
    # re-derivation and the checkpoint WINS at sf10.)
    tf = (staged
          .select("__id", "__len", F.explode("__qt").alias("__t"))
          .groupBy("__id", "__t")
          .agg(F.count("*").alias("__tf"), F.first("__len").alias("__len")))
    dfreq = tf.groupBy("__t").agg(F.count("*").alias("__df"))
    scored = (tf
              .join(F.broadcast(dfreq), on="__t")
              .crossJoin(F.broadcast(stats))
              .withColumn("__idf", F.log(
                  1.0 + (F.col("__N") - F.col("__df") + 0.5)
                  / (F.col("__df") + 0.5)))
              .withColumn("__s", F.col("__idf") * F.col("__tf") * (k1 + 1)
                          / (F.col("__tf") + k1 * (1 - b + b * F.col("__len")
                                                   / F.col("__avgdl")))))
    return (scored.groupBy("__id").agg(F.sum("__s").alias("score"))
            .withColumnRenamed("__id", id_col))


def bm25_topk(df: DataFrame, text_col: str, id_col: str,
              query_terms: Sequence[str], k: int = 10,
              **kwargs) -> DataFrame:
    """Top-k BM25 documents — TakeOrdered (per-partition heads + driver
    merge, no global sort)."""
    s = bm25_scores(df, text_col, id_col, query_terms, **kwargs)
    return s.orderBy(F.desc("score"), id_col).limit(k)


def tfidf_top_terms(df: DataFrame, text_col: str, id_col: str,
                    k: int = 5,
                    tokens_col: Optional[Column] = None,
                    broadcast_dfreq: bool = True) -> DataFrame:
    """Top-k characteristic terms per document by smoothed TF-IDF:
    ``tf_td * ln(N / df_t)``, ranked per doc by (rounded score desc,
    term asc) — the rounding (6 dp) makes the ranking stable across
    engines whose ``ln`` differ in the last ulp.

    Returns (id_col, term, tf, tfidf, rank).  Scale shape: one postings
    pass collapsed to (id, term, tf) with map-side combine; document
    frequency joined back on the term; the per-doc top-k is one window
    over the (id)-keyed shuffle."""
    toks = _tokens(text_col, tokens_col)
    # materialized (operators/_mat.py — salted per-build persist into
    # the columnar cache): the document-frequency branch and the
    # scoring join otherwise each re-run the corpus
    # scan+tokenize+explode (branch-specific pruning defeats exchange
    # reuse); one write of the collapsed (id, term, tf) rows — no
    # bigger than the exchange that already carries them — buys back a
    # full corpus pass
    g = materialize(
        df.select(F.col(id_col).alias("__id"), F.explode(toks).alias("__t"))
          .groupBy("__id", "__t").agg(F.count("*").alias("__tf")))
    dfreq = g.groupBy("__t").agg(F.count("*").alias("__df"))
    nrow = (df.select(F.col(id_col).alias("__id"))
              .agg(F.count_distinct("__id").cast("double").alias("__N")))
    # dfreq is vocabulary-sized (typically ~1M rows) — broadcast it
    # rather than shuffling the (id, term, tf) table against it.
    # UNLIKE bm25's query-restricted table this is the FULL distinct
    # token set; on heavy-tailed corpora (urls/typos/numbers pushing
    # it past the broadcast limits) pass broadcast_dfreq=False and let
    # AQE pick the join
    freq_side = F.broadcast(dfreq) if broadcast_dfreq else dfreq
    scored = (g.join(freq_side, on="__t")
                .crossJoin(F.broadcast(nrow))
                .withColumn("__tfidf", F.round(
                    F.col("__tf") * F.log(F.col("__N") / F.col("__df")),
                    6)))
    w = Window.partitionBy("__id").orderBy(F.desc("__tfidf"), F.asc("__t"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k)
                  .select(F.col("__id").alias(id_col),
                          F.col("__t").alias("term"),
                          F.col("__tf").cast("long").alias("tf"),
                          F.col("__tfidf").alias("tfidf"),
                          F.col("rank").cast("long").alias("rank")))


def rrf_fuse(rankings: dict, id_col: str = "doc_id", rrf_k: int = 60,
             k: int = 10) -> DataFrame:
    """Reciprocal-rank fusion of several candidate rankings (the
    standard hybrid-retrieval combiner):

        rrf(d) = sum over sources s of 1 / (rrf_k + rank_s(d))

    ``rankings``: {name: DataFrame(id_col, rank)} — each frame is an
    already-TRUNCATED candidate list (top-``candidates`` per source), so
    everything here is candidate-sized: the full-outer joins broadcast,
    and a document absent from a source simply contributes 0.  Output:
    (id_col, <name>_rank..., rrf) top-k by (rrf desc, id).

    The fused score is rounded to 9 dp so cross-engine replays hash
    identically (1/(k+rank) sums are exact in binary only for some
    ranks)."""
    if not rankings:
        raise ValueError("rrf_fuse: rankings must be non-empty "
                         "(no retrieval arms to fuse)")
    names = sorted(rankings)
    fused = None
    for name in names:
        r = rankings[name].select(F.col(id_col).alias("__id"),
                                  F.col("rank").alias(f"{name}_rank"))
        fused = r if fused is None else \
            fused.join(r, "__id", "full_outer")
    rrf = None
    for name in names:
        term = F.coalesce(1.0 / (F.lit(rrf_k) + F.col(f"{name}_rank")),
                          F.lit(0.0))
        rrf = term if rrf is None else rrf + term
    return (fused.withColumn("rrf", F.round(rrf, 9))
                 .orderBy(F.desc("rrf"), "__id").limit(k)
                 .withColumnRenamed("__id", id_col))


def hybrid_search(docs: DataFrame, embs: DataFrame,
                  query_terms: Sequence[str], query_vec: Sequence[float],
                  text_col: str = "text", doc_id_col: str = "doc_id",
                  vec_col: str = "embedding", vec_id_col: str = "vec_id",
                  k: int = 10, candidates: int = 50, rrf_k: int = 60,
                  tokens_col: Optional[Column] = None) -> DataFrame:
    """Hybrid lexical+vector retrieval: BM25 over ``docs`` and cosine
    over ``embs`` (ids aligned), each truncated to ``candidates``, fused
    by reciprocal rank (:func:`rrf_fuse`).

    Determinism contract: each arm ranks on its score ROUNDED to 5 dp
    (ties broken by id asc) BEFORE truncation, so the candidate sets and
    ranks are bit-identical across engines whose float math agrees to
    5 dp — the same pinning ``tfidf_top_terms`` uses.

    Scale shape: each arm is one corpus scan collapsed to ``candidates``
    rows via TakeOrdered (per-partition top-k + driver merge — no global
    sort, no corpus-sized shuffle).  The rank row_numbers and the fusion
    run on candidate-sized frames (the unpartitioned window is ≤
    ``candidates`` rows by construction)."""
    from .similarity import query_cosine

    t = bm25_scores(docs, text_col, doc_id_col, query_terms,
                    tokens_col=tokens_col)
    t = (t.withColumn("score", F.round("score", 5))
          .orderBy(F.desc("score"), doc_id_col).limit(candidates))
    wt = Window.orderBy(F.desc("score"), doc_id_col)
    text_rank = t.select(F.col(doc_id_col).alias("__d"),
                         F.row_number().over(wt).alias("rank"))

    vscore = query_cosine(F.col(vec_col), query_vec, cast_double=True)
    v = (embs.select(F.col(vec_id_col).alias("__d"),
                     F.round(vscore, 5).alias("score"))
             .orderBy(F.desc("score"), "__d").limit(candidates))
    wv = Window.orderBy(F.desc("score"), "__d")
    vec_rank = v.select("__d", F.row_number().over(wv).alias("rank"))

    return rrf_fuse({"text": text_rank, "vec": vec_rank}, id_col="__d",
                    rrf_k=rrf_k, k=k).withColumnRenamed("__d", doc_id_col)
