"""Similarity search over embedding columns (``array<float>``).

Baseline: brute-force cosine top-k — a broadcast of the query vector(s)
and one JVM-side pass (``zip_with`` dot product + ``aggregate``), top-k via
per-query window.  The scan is embarrassingly parallel; at 100 TB the cost
is one full read of the embedding column (column-pruned parquet scan).

Scale path: IVF-style bucketing — assign every vector to its nearest of
``n_cells`` centroids (a tiny broadcast table), then probe only the
``n_probe`` closest cells per query.  Centroids come from a driver-side
k-means on a sample (standard IVF training practice); assignment and
search are pure DataFrame ops, shuffling only (cell_id, id, score).
An LSH sign-bucket variant is in operators.dedup.embedding_near_dup_pairs.

``PCAModel`` reduces embedding dimensionality ahead of clustering/ANN:
exact one-pass distributed moments (bounded driver reduce), driver-side
eigendecomposition, Arrow-broadcast projection — same fit/persist/
transform contract as the ANN indexes.
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: ``IVFIndex.assign`` inlines the nearest-cell expression (cheapest for
#: small cell counts) up to this many cells; above it, one Arrow-batched
#: numpy matmul per batch keeps the plan constant-size, where the
#: unrolled expression grows linearly in n_cells x dim
_EXPR_MAX_CELLS = 32


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _vec_lit(vec: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in vec])


def query_cosine(vec_col: Column, query_vec: Sequence[float],
                 cast_double: bool = False) -> Column:
    """Cosine of each row's vector against ONE literal query vector,
    the query's norm precomputed driver-side (float64).  The single
    implementation behind ``brute_force_topk`` and
    ``retrieval.hybrid_search``'s vector arm; ``cast_double`` widens
    the row vectors first (for oracles that replay in DOUBLE[])."""
    q = _vec_lit(query_vec)
    qn = float(np.linalg.norm(np.asarray(query_vec, dtype=np.float64)))
    v = vec_col.cast("array<double>") if cast_double else vec_col
    return dot(v, q) / (l2_norm(v) * F.lit(qn))


def brute_force_topk(df: DataFrame, vec_col: str, id_col: str,
                     query_vec: Sequence[float], k: int = 10,
                     metric: str = "cosine") -> DataFrame:
    """Top-k rows most similar to one query vector.  The query is a literal
    array (broadcast into codegen); ordering uses a global sort of only the
    (id, score) pairs Spark's TakeOrdered turns into a per-partition top-k
    + driver merge — no full shuffle."""
    q = _vec_lit(query_vec)
    if metric == "cosine":
        score = query_cosine(F.col(vec_col), query_vec)
    elif metric == "dot":
        score = dot(F.col(vec_col), q)
    elif metric == "l2":
        score = -F.sqrt(F.aggregate(
            F.zip_with(F.col(vec_col), q, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, v: acc + v))
    else:
        raise ValueError(f"unknown metric {metric!r}")
    # Spark sorts NaN ABOVE every double: one NaN-component vector (bad
    # upstream encode) would occupy the top-k and poison the IVF final
    # ranking and the IVFPQ rerank (PQ/IVFPQ codes-only search already
    # filters isnan).  NULL scores (null vectors) keep their sort-last
    # behavior — coalesce keeps them.
    return (df.select(F.col(id_col), score.alias("score"))
              .filter(~F.coalesce(F.isnan("score"), F.lit(False)))
              .orderBy(F.col("score").desc(), F.col(id_col))
              .limit(k))


def batch_topk(df: DataFrame, vec_col: str, id_col: str,
               queries: DataFrame, q_vec_col: str, q_id_col: str,
               k: int = 10) -> DataFrame:
    """Top-k per query for a (small, broadcastable) query set: broadcast
    crossJoin + per-query window row_number.  Corpus and query norms are
    computed ONCE per row/query before the crossJoin — inlining
    ``cosine()`` would recompute the row norm per (row, query) pair,
    roughly doubling scan compute at large Q.  NaN scores are dropped
    (Spark ranks NaN first; see brute_force_topk)."""
    scored = (df.select(F.col(id_col), F.col(vec_col).alias("__v"),
                        l2_norm(F.col(vec_col)).alias("__vn"))
                .crossJoin(F.broadcast(
                    queries.select(F.col(q_id_col).alias("__qid"),
                                   F.col(q_vec_col).alias("__qv"),
                                   l2_norm(F.col(q_vec_col)).alias("__qn"))))
                .select(F.col("__qid"), F.col(id_col),
                        (dot(F.col("__v"), F.col("__qv"))
                         / (F.col("__vn") * F.col("__qn"))).alias("score"))
                .filter(~F.coalesce(F.isnan("score"), F.lit(False))))
    w = Window.partitionBy("__qid").orderBy(F.col("score").desc(), F.col(id_col))
    return (scored.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") <= k)
                  .select(F.col("__qid").alias("query_id"), id_col, "score", F.col("__rn").alias("rank")))


def _hash_ordered_sample(df: DataFrame, vec_col: str, sample_rows: int,
                         sample_fraction: float, seed: int,
                         floor: int) -> np.ndarray:
    """Single-pass training sample shared by the ANN indexes: Bernoulli
    sample at a fixed conservative fraction, capped at ``sample_rows``
    by a HASH-ordered limit (TakeOrdered: per-partition top-k + driver
    merge over the sampled subset only).  A plain ``.limit()`` would
    keep the first partitions of the sample — on label-clustered or
    sorted data that trains every centroid on one cluster; ordering by
    a hash of the vector makes the kept subset position-independent.
    No count() pre-scan on the happy path; only a shortfall below
    ``floor`` (the centroid-seeding minimum) triggers the fallback:
    count (cheap — the shortfall bounds the table size) and resample
    exactly.  Null vectors carry no training signal and would make the
    sample matrix ragged; NaN/inf vectors would corrupt every centroid
    they touch — both are dropped."""
    df = df.filter(F.col(vec_col).isNotNull())
    h = F.xxhash64(F.col(vec_col))
    rows = (df.select(vec_col)
              .sample(withReplacement=False, fraction=sample_fraction,
                      seed=seed)
              .orderBy(h).limit(sample_rows).collect())
    if len(rows) < floor:
        n_rows = df.count()
        if n_rows <= 3 * sample_rows:
            rows = df.select(vec_col).collect()
            if len(rows) > sample_rows:
                rng0 = np.random.default_rng(seed)
                idx = rng0.choice(len(rows), sample_rows, replace=False)
                rows = [rows[i] for i in idx]
        else:
            frac = min(1.0, 3.0 * sample_rows / n_rows)
            rows = (df.select(vec_col)
                      .sample(withReplacement=False, fraction=frac,
                              seed=seed)
                      .orderBy(h).limit(sample_rows).collect())
    sample = np.array([r[0] for r in rows], dtype="float64")
    if sample.ndim == 2:
        sample = sample[np.isfinite(sample).all(axis=1)]
    return sample


def _argmin_sq(X: np.ndarray, C: np.ndarray,
               dots: Optional[np.ndarray] = None) -> np.ndarray:
    """Nearest-centroid assignment via ``argmin |c|^2 - 2 x.c`` — the
    |x|^2 term is constant per row, so the argmin matches the full
    squared distance.  One (n, k) GEMM instead of the naive
    ``(X[:,None,:]-C[None,:,:])**2`` broadcast, whose (n, k, d) temp is
    ~650 MB at a 10k x 64 x 128 driver-sample fit (the r10 BENCH_sf10
    ivfpq_build_search 8.9x attribution: sample-size-linear Lloyd with
    a d-times-too-large constant).  The ONE assignment rule shared by
    the fit loops and the encode UDFs — pass ``dots`` (= X @ C.T) when
    a branch already computed it."""
    if dots is None:
        dots = X @ C.T
    return ((C * C).sum(axis=1)[None, :] - 2.0 * dots).argmin(axis=1)


def _unit_rows(m: np.ndarray) -> np.ndarray:
    """Row-wise L2 normalization, zero rows left untouched — the ONE
    unit-sphere projection shared by every fit/search path."""
    n = np.linalg.norm(m, axis=-1, keepdims=True)
    return m / np.where(n == 0, 1.0, n)


def _sample_lloyd(X: np.ndarray, k: int, n_iter: int, rng,
                  spherical: bool = False) -> np.ndarray:
    """The ONE driver-sample Lloyd loop behind IVFIndex.fit, PQIndex.fit
    and IVFPQIndex.fit (coarse + per-subspace — previously four
    copy-pasted variants): seed by choice-without-replacement from the
    CALLER's rng (draw order preserved, so fits that chain several
    loops stay bit-identical), assign via :func:`_argmin_sq`,
    mean-update non-empty cells, and (``spherical``) re-project
    centroids to the unit sphere each step."""
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(n_iter):
        assign = _argmin_sq(X, C)
        for c in range(k):
            pts = X[assign == c]
            if len(pts):
                C[c] = pts.mean(axis=0)
        if spherical:
            C = _unit_rows(C)
    return C


def kmeans_fit(df: DataFrame, vec_col: str, k: int, n_iter: int = 5,
               init: Optional[np.ndarray] = None, seed: int = 42,
               metric: str = "l2",
               sample_rows: int = 20000) -> np.ndarray:
    """Distributed Lloyd's k-means over the FULL table — the refinement
    step that makes sample-trained IVF centroids honest at corpus
    scale (a 20k-row driver sample seeds well but under-represents
    tail clusters; one or two full-data Lloyd passes fix the counts).

    Per iteration: the k×d centroid matrix rides ONE Arrow
    ``mapInPandas`` closure that emits per-partition PARTIAL rows
    (cell, count, sum-vector) — corpus vectors never shuffle and the
    scan is column-pruned to ``vec_col``; the ≤ partitions×k partial
    rows merge on the driver (the :class:`PCAModel` moments / sketch
    contract: bounded driver merges, one scan per iteration).  Empty
    cells keep their previous centroid.  ``metric="cosine"`` runs
    spherical k-means: vectors are L2-normalized in the pass and
    centroids re-projected to the sphere each update.

    ``init``: (k, d) ndarray to refine (e.g. ``IVFIndex.fit``'s sample
    centroids); ``None`` seeds from the shared hash-ordered sample.
    Returns the (k, d) centroid ndarray — plug into
    ``IVFIndex.centroids`` or pass ``refine_iters`` to ``fit``."""
    if metric not in ("cosine", "l2"):
        raise ValueError(f"unknown metric {metric!r}")
    if init is not None:
        C = np.asarray(init, dtype="float64").copy()
        if C.ndim != 2 or len(C) != k:
            raise ValueError(f"init must be ({k}, d)")
    else:
        sample = _hash_ordered_sample(df, vec_col, sample_rows, 0.05,
                                      seed, floor=max(10 * k, 256))
        if len(sample) < k:
            raise ValueError("not enough vectors to seed k centroids")
        rng = np.random.default_rng(seed)
        C = sample[rng.choice(len(sample), size=k, replace=False)].copy()
    cosine = metric == "cosine"
    _unit = _unit_rows
    if cosine:
        C = _unit(C)
    d = C.shape[1]
    vecs = df.select(F.col(vec_col).alias("__v")) \
             .filter(F.col("__v").isNotNull())
    out_schema = ("cell int, n long, s array<double>")
    for _ in range(n_iter):
        Cb = C.copy()

        def partials(it):
            acc_n = np.zeros(len(Cb), dtype="int64")
            acc_s = np.zeros((len(Cb), d), dtype="float64")
            for pdf in it:
                vs = pdf["__v"]
                M = np.asarray([np.asarray(v, dtype="float64")
                                for v in vs if v is not None and
                                len(v) == d])
                if not len(M):
                    continue
                M = M[np.isfinite(M).all(axis=1)]
                if not len(M):
                    continue
                if cosine:
                    M = _unit(M)
                # argmin ||v-c||^2 = argmin |c|^2 - 2 v.c
                cells = ((Cb * Cb).sum(axis=1)[None, :]
                         - 2 * (M @ Cb.T)).argmin(axis=1)
                acc_n += np.bincount(cells, minlength=len(Cb))
                np.add.at(acc_s, cells, M)
            nz = np.nonzero(acc_n)[0]
            yield pd.DataFrame({"cell": nz.astype("int32"),
                                "n": acc_n[nz],
                                "s": [acc_s[c].tolist() for c in nz]})

        rows = vecs.mapInPandas(partials, schema=out_schema).collect()
        n_tot = np.zeros(len(C), dtype="int64")
        s_tot = np.zeros_like(C)
        for r in rows:
            n_tot[r.cell] += r.n
            s_tot[r.cell] += np.asarray(r.s)
        upd = n_tot > 0
        C[upd] = s_tot[upd] / n_tot[upd, None]
        if cosine:
            C = _unit(C)
    return C


def auto_n_cells(n_rows: int, lo: int = 16, hi: int = 65536) -> int:
    """Data-dependent IVF cell count: ~sqrt(n), bounded.  A FIXED cell
    count is the ANN scale-killer — per-probe scan volume grows
    linearly with the corpus (measured: 2M vectors at n_cells=64 scans
    ~2x the per-query rows of 200k).  With k = sqrt(n) cells, expected
    cell size is sqrt(n), so a constant-probe search scans
    O(sqrt(n)) rows per query — the standard IVF sizing (FAISS
    guidelines use 4*sqrt(n)..16*sqrt(n); plain sqrt keeps training
    cheap on a driver-side sample while fixing the growth ORDER)."""
    import math

    return int(min(hi, max(lo, round(math.sqrt(max(int(n_rows), 1))))))


def auto_m(dim: int, target_dsub: int = 4, cap: int = 32) -> int:
    """Data-dependent PQ subspace count: the largest divisor of ``dim``
    giving subspaces of >= ``target_dsub`` dims, capped.  Resolved at
    fit time (``m="auto"``, the default) because a FIXED m is the PQ
    recall-killer twin of the fixed cell count: m=8 over 64 dims means
    8-dim subspaces compressed to one of n_codes centroids each —
    measured recall@10 at 200k vectors was 0.34 EVEN WITH the rerank
    shortlist (the coarse codes poison the shortlist itself), vs ~0.9
    at m=16 (tools/ann_recall_floor.py).  Dims without a divisor in
    range fall back to 1 subspace (still valid, loudest possible
    quantization — the dim is probably wrong)."""
    best = 1
    for cand in range(2, min(cap, max(1, dim // target_dsub)) + 1):
        if dim % cand == 0:
            best = cand
    return best


def _resolve_m(idx, dim: int) -> None:
    """Resolve ``m="auto"`` against the vector dim at fit time; the
    resolved int persists via to_json (the ``_resolve_geometry``
    contract)."""
    if idx.m == "auto":
        idx.m = auto_m(dim)
    if not (isinstance(idx.m, int) and idx.m > 0):
        raise ValueError(f"m must be a positive int or 'auto', "
                         f"got {idx.m!r}")


def _resolve_geometry(idx, df: DataFrame, vec_col: str) -> None:
    """Resolve n_cells="auto" / n_probe="auto" against the corpus size
    at fit time.  One count() job (parquet metadata only — no data
    scan); the resolved ints persist via to_json so load() never
    re-counts.  n_probe couples to the geometry (~sqrt(n_cells),
    floored at the old fixed defaults): a fixed probe count over a
    grown cell count would silently gut recall."""
    if idx.n_cells == "auto":
        idx.n_cells = auto_n_cells(df.select(vec_col).count())
    if not (isinstance(idx.n_cells, int) and idx.n_cells > 0):
        raise ValueError(f"n_cells must be a positive int or 'auto', "
                         f"got {idx.n_cells!r}")
    if idx.n_probe == "auto":
        idx.n_probe = max(4, auto_n_cells(idx.n_cells, lo=1))
    if not (isinstance(idx.n_probe, int) and idx.n_probe > 0):
        raise ValueError(f"n_probe must be a positive int or 'auto', "
                         f"got {idx.n_probe!r}")


class IVFIndex:
    """Inverted-file ANN index: vectors assigned to nearest centroid cell.

    ``fit`` trains centroids on a driver-side sample (k-means, numpy);
    ``search`` probes the n_probe nearest cells.  The centroid table is a
    broadcast literal — no state on executors, resilient to re-planning.

    With ``metric="cosine"`` (the default) training is spherical k-means:
    sample vectors are L2-normalized and centroids renormalized each
    Lloyd step, and cell assignment is argmax dot(v, c) — for unit
    centroids that equals the nearest cell of v/|v|, so the partition
    agrees with the cosine search metric (plain L2 cells on unnormalized
    vectors correlate poorly with cosine neighbors and gut recall)."""

    def __init__(self, n_cells="auto", n_probe="auto", seed: int = 42,
                 metric: str = "cosine"):
        """``n_cells="auto"`` (the default) sizes the geometry to the
        corpus at fit time (~sqrt(n), :func:`auto_n_cells`);
        ``n_probe="auto"`` couples the probe count to the resolved
        geometry (~sqrt(n_cells), floor 4).  Pass ints to pin both."""
        if metric not in ("cosine", "l2"):
            raise ValueError(f"unknown metric {metric!r}")
        self.n_cells = n_cells
        self.n_probe = n_probe
        self.seed = seed
        self.metric = metric
        self.centroids: Optional[np.ndarray] = None

    def fit(self, df: DataFrame, vec_col: str, sample_rows: int = 20000,
            sample_fraction: float = 0.05,
            refine_iters: int = 0) -> "IVFIndex":
        """Driver-sample spherical/plain k-means; ``refine_iters`` > 0
        follows with that many FULL-DATA distributed Lloyd passes
        (:func:`kmeans_fit`) — the corpus-scale path where a 20k-row
        sample under-represents tail clusters."""
        _resolve_geometry(self, df, vec_col)
        sample = _hash_ordered_sample(df, vec_col, sample_rows,
                                      sample_fraction, self.seed,
                                      floor=max(10 * self.n_cells, 256))
        rng = np.random.default_rng(self.seed)
        k = min(self.n_cells, len(sample))
        if self.metric == "cosine":
            sample = _unit_rows(sample)
        centroids = _sample_lloyd(sample, k, 10, rng,
                                  spherical=self.metric == "cosine")
        if refine_iters > 0:
            centroids = kmeans_fit(df, vec_col, k, n_iter=refine_iters,
                                   init=centroids, seed=self.seed,
                                   metric=self.metric)
        self.centroids = centroids
        return self

    # -- persistence ------------------------------------------------------
    # IVF training is fit-once by design (reference ANN practice: centroids
    # are part of the index, not recomputed per query).  Centroids persist
    # either into an engine array's manifest metadata (alongside enums /
    # labels / KV metadata — the array carries its own index) or as a
    # plain JSON file for ad-hoc DataFrames.

    _META_PREFIX = "__ivf_index:"

    def to_json(self) -> str:
        if self.centroids is None:
            raise ValueError("fit() the index before saving")
        import json

        return json.dumps({
            "format": 1, "n_cells": self.n_cells, "n_probe": self.n_probe,
            "seed": self.seed, "metric": self.metric,
            "centroids": self.centroids.tolist()})

    @classmethod
    def from_json(cls, payload: str) -> "IVFIndex":
        import json

        d = json.loads(payload)
        idx = cls(n_cells=d["n_cells"], n_probe=d["n_probe"],
                  seed=d["seed"], metric=d["metric"])
        idx.centroids = np.asarray(d["centroids"], dtype="float64")
        return idx

    def save(self, uri: str, name: str = "default") -> "IVFIndex":
        """Persist the fitted centroids.  If ``uri`` is an engine array,
        the index is committed into the array's manifest metadata under
        ``__ivf_index:<name>`` (one manifest version, same durability as
        ``A.meta``); otherwise ``uri`` is written as a JSON file."""
        from .. import manifest as mf

        mf.save_payload(uri, self._META_PREFIX + name, self.to_json(),
                        file_suffix=".ivf.tmp")
        return self

    @classmethod
    def load(cls, uri: str, name: str = "default") -> "IVFIndex":
        """Load a saved index from an array's manifest metadata or a JSON
        file — ``search``/``assign`` work immediately, no refit."""
        from .. import manifest as mf

        return cls.from_json(mf.load_payload(
            uri, cls._META_PREFIX + name, kind="IVF index"))

    def _cell_expr(self, vec: Column) -> Column:
        """Nearest-cell id via array_min/max + array_position (linear-size
        expression tree — a chained-when argmin would double the tree per
        centroid under CollapseProject).  Cosine: argmax dot(v, c) over
        unit centroids (equals nearest cell of v/|v|, no per-row norm)."""
        assert self.centroids is not None
        if self.metric == "cosine":
            dots = F.array(*[dot(vec, _vec_lit(c)) for c in self.centroids])
            return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")
        dists = F.array(*[
            F.aggregate(
                F.zip_with(vec, _vec_lit(c), lambda x, y: (x - y) * (x - y)),
                F.lit(0.0), lambda acc, v: acc + v)
            for c in self.centroids
        ])
        return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")

    def _cell_arrow_udf(self):
        """Arrow-batched nearest-cell assignment: one numpy matmul per
        batch against the broadcast centroid matrix.  The unrolled
        ``_cell_expr`` expression tree grows (and plans) linearly in
        n_cells x dim; this stays constant-size — the right shape once
        n_cells goes past a few dozen (IVF at 100 TB wants thousands of
        cells).  Ties resolve to the lowest cell id in both paths
        (np.argmax/argmin and array_position both take the first hit)."""
        from pyspark.sql.functions import pandas_udf

        C = np.ascontiguousarray(self.centroids)
        cosine = self.metric == "cosine"

        @pandas_udf("int")
        def cell(vs: pd.Series) -> pd.Series:
            # null OR wrong-length vectors assign to a null cell,
            # matching the expr path (np.asarray over a ragged list —
            # one truncated/empty vector — would throw and fail the
            # whole stage; zip_with pads with nulls -> null cell)
            valid = np.array([v is not None and len(v) == C.shape[1]
                              for v in vs], dtype=bool)
            out = np.full(len(vs), None, dtype=object)
            if valid.any():
                M = np.asarray([np.asarray(v, dtype="float64")
                                for v, ok in zip(vs, valid) if ok])
                dots = M @ C.T
                if cosine:
                    cells = dots.argmax(axis=1)
                else:
                    cells = _argmin_sq(M, C, dots=dots)
                out[valid] = cells.astype("int32")
            return pd.Series(out)

        return cell

    def assign(self, df: DataFrame, vec_col: str) -> DataFrame:
        """Append ``__cell``, the nearest centroid's id: by the inline
        codegen expression up to ``_EXPR_MAX_CELLS`` cells, by the
        Arrow-batched numpy matmul above (same ids, ties to the lowest)."""
        assert self.centroids is not None
        if len(self.centroids) <= _EXPR_MAX_CELLS:
            return df.withColumn("__cell", self._cell_expr(F.col(vec_col)))
        return df.withColumn("__cell", self._cell_arrow_udf()(F.col(vec_col)))

    def _probe_cells(self, query_vec: Sequence[float],
                     n_probe: Optional[int] = None) -> list:
        q = np.asarray(query_vec, dtype="float64")
        np_ = n_probe if n_probe is not None else self.n_probe
        if self.metric == "cosine":
            qn = np.linalg.norm(q)
            qu = q / (qn if qn else 1.0)
            return np.argsort(-(self.centroids @ qu))[:np_].tolist()
        dists = ((self.centroids - q) ** 2).sum(axis=1)
        return np.argsort(dists)[:np_].tolist()

    def search(self, df: DataFrame, vec_col: str, id_col: str,
               query_vec: Sequence[float], k: int = 10) -> DataFrame:
        assert self.centroids is not None
        probe = self._probe_cells(query_vec)
        assigned = self.assign(df, vec_col).filter(F.col("__cell").isin(probe))
        # forward the index metric: an l2 index final-ranked by the
        # brute-force default (cosine) returns the wrong neighbors
        return brute_force_topk(assigned, vec_col, id_col, query_vec, k=k,
                                metric=self.metric)

    # -- incremental maintenance (the incremental_exact_dedup pattern) ----
    def append(self, df: DataFrame, vec_col: str, id_col: str,
               state_uri: str, keep_cols: Sequence[str] = ()) -> None:
        """Assign ``df``'s vectors to the FROZEN centroids and commit
        (id, cell, vector, keep_cols...) rows to ``state_uri`` as ONE
        new timestamped fragment — IVF-flat's ingest step: the index
        grows batch-by-batch without refitting, and a search over
        base+appended fragments equals one over a scratch assignment of
        the union (assignment depends only on the frozen centroids).
        Run :func:`..operators.dedup.compact_state` periodically to
        fold per-batch fragments."""
        assert self.centroids is not None, "fit() or load() before append"
        rows = self.assign(df, vec_col).select(
            F.col(id_col), *[F.col(c) for c in keep_cols],
            F.col("__cell").alias("cell"),
            F.col(vec_col).cast("array<double>").alias(vec_col))
        _commit_state_fragment(state_uri, rows, id_col)

    def search_state(self, state_uri: str, vec_col: str, id_col: str,
                     query_vec: Sequence[float], k: int = 10,
                     n_probe: Optional[int] = None, spark=None) -> DataFrame:
        """Search the PERSISTED cell-partitioned vector table: the
        stored ``cell`` column prunes to the probed cells (no
        re-assignment), then exact scoring over the surviving rows."""
        from .. import highlevel as hl

        tab = hl.open(state_uri, spark=spark).dataframe()
        probe = self._probe_cells(query_vec, n_probe)
        return brute_force_topk(tab.filter(F.col("cell").isin(probe)),
                                vec_col, id_col, query_vec, k=k,
                                metric=self.metric)


def _commit_state_fragment(state_uri: str, rows: DataFrame,
                           id_col: str) -> None:
    """Create-or-append code-table rows to an engine state array as ONE
    timestamped fragment (the ``incremental_exact_dedup`` commit shape,
    ``dedup.py``): full int64 id domain so any later batch's ids fit,
    attr schema inferred from the rows' Spark schema, and the commit
    timestamp forced strictly past the last fragment so pinned reads
    can never see a same-millisecond commit."""
    from pyspark.sql import types as T

    from .. import highlevel as hl
    from .. import manifest as mf
    from ..fragment import array_fragments
    from ..schema import ArraySchema, Attr, Dim, Domain
    from ..sources.dataframe_ import _spark_to_np
    from ..sources.fragment_writer import write_fragment_spark

    ts_pin = None
    if not hl.array_exists(state_uri):
        info = np.iinfo(np.int64)
        dim = Dim(name=id_col, domain=(info.min, info.max - 1000),
                  tile=1000, dtype=np.int64)
        attrs = []
        for f in rows.schema.fields:
            if f.name == id_col:
                continue
            if isinstance(f.dataType, T.ArrayType):
                attrs.append(Attr(name=f.name,
                                  dtype=_spark_to_np(f.dataType.elementType),
                                  var=True, nullable=f.nullable))
            else:
                attrs.append(Attr(name=f.name, dtype=_spark_to_np(f.dataType),
                                  nullable=f.nullable))
        schema = ArraySchema(domain=Domain(dim), attrs=attrs, sparse=True)
        mf.create_array(state_uri, schema)
    else:
        schema = mf.read_manifest(state_uri).schema
        frs = array_fragments(state_uri)
        ts_pin = max(f.timestamp_range[1] for f in frs) if len(frs) else None
    write_fragment_spark(state_uri, schema, rows,
                         timestamp=max(mf.now_ms(), (ts_pin or 0) + 1))


class PQIndex:
    """Product-quantization compression + ANN search (the PQ of
    Jegou et al. 2011, "Product Quantization for Nearest Neighbor
    Search"): each d-dim vector splits into ``m`` contiguous subspaces
    of d/m dims; each subspace gets its own ``n_codes``-centroid k-means
    codebook; a vector is stored as m small codes (1-2 bytes each) —
    e.g. 64-dim float32 = 256 bytes -> 8 bytes at m=8.

    Search is ADC (asymmetric distance computation): the QUERY stays
    exact — per query, precompute an m x n_codes lookup table of
    partial distances from the query's sub-vectors to every codebook
    centroid; a database vector's score is the sum of m table lookups
    on its codes.  The LUT is a driver-side numpy array broadcast into
    an Arrow-batched UDF — scoring never touches the original vectors,
    so a 100 TB embedding column scans as an ``m``-byte code column.

    ``metric``: "l2" (classic ADC, ascending) or "cosine" (vectors
    L2-normalized at fit/encode time, LUT holds partial dots,
    descending).  Fit-once persistence mirrors ``IVFIndex`` (array
    manifest metadata or JSON file)."""

    _META_PREFIX = "__pq_index:"

    def __init__(self, m="auto", n_codes: int = 64, seed: int = 42,
                 metric: str = "cosine", n_iter: int = 10):
        """``m="auto"`` (the default) resolves at fit time to dim-sized
        subspaces (:func:`auto_m`); ``n_codes=64`` is the measured
        scale default (16 codes/subspace read 0.34 recall@10 at 200k
        vectors even with reranking).  Pass ints to pin."""
        if metric not in ("cosine", "l2"):
            raise ValueError(f"unknown metric {metric!r}")
        self.m = m
        self.n_codes = n_codes
        self.seed = seed
        self.metric = metric
        self.n_iter = n_iter
        self.codebooks: Optional[np.ndarray] = None  # (m, n_codes, dsub)
        self.dim: Optional[int] = None

    # -- training ---------------------------------------------------------

    def _sample(self, df: DataFrame, vec_col: str, sample_rows: int,
                sample_fraction: float) -> np.ndarray:
        return _hash_ordered_sample(df, vec_col, sample_rows,
                                    sample_fraction, self.seed,
                                    floor=max(4 * self.n_codes, 256))

    def fit(self, df: DataFrame, vec_col: str, sample_rows: int = 20000,
            sample_fraction: float = 0.05) -> "PQIndex":
        sample = self._sample(df, vec_col, sample_rows, sample_fraction)
        if sample.ndim != 2 or not len(sample):
            raise ValueError("PQIndex.fit: no trainable vectors")
        d = sample.shape[1]
        _resolve_m(self, d)
        if d % self.m:
            raise ValueError(
                f"dim {d} not divisible by m={self.m} subspaces")
        if self.metric == "cosine":
            n = np.linalg.norm(sample, axis=1, keepdims=True)
            sample = sample / np.where(n == 0, 1.0, n)
        dsub = d // self.m
        k = min(self.n_codes, len(sample))
        rng = np.random.default_rng(self.seed)
        books = np.zeros((self.m, k, dsub))
        for j in range(self.m):
            sub = sample[:, j * dsub:(j + 1) * dsub]
            books[j] = _sample_lloyd(sub, k, self.n_iter, rng)
        self.codebooks = books
        self.dim = d
        return self

    # -- persistence (same contract as IVFIndex) --------------------------

    def to_json(self) -> str:
        if self.codebooks is None:
            raise ValueError("fit() the index before saving")
        import json

        return json.dumps({
            "format": 1, "m": self.m, "n_codes": self.n_codes,
            "seed": self.seed, "metric": self.metric, "dim": self.dim,
            "codebooks": self.codebooks.tolist()})

    @classmethod
    def from_json(cls, payload: str) -> "PQIndex":
        import json

        d = json.loads(payload)
        idx = cls(m=d["m"], n_codes=d["n_codes"], seed=d["seed"],
                  metric=d["metric"])
        idx.codebooks = np.asarray(d["codebooks"], dtype="float64")
        idx.dim = d["dim"]
        return idx

    def save(self, uri: str, name: str = "default") -> "PQIndex":
        from .. import manifest as mf

        mf.save_payload(uri, self._META_PREFIX + name, self.to_json(),
                        file_suffix=".pq.tmp")
        return self

    @classmethod
    def load(cls, uri: str, name: str = "default") -> "PQIndex":
        from .. import manifest as mf

        return cls.from_json(mf.load_payload(
            uri, cls._META_PREFIX + name, kind="PQ index"))

    # -- encode / search --------------------------------------------------

    def _encode_arrow_udf(self):
        """Arrow-batched encoder: per batch one (rows, n_codes) distance
        matrix per subspace — constant-size plan regardless of m or
        n_codes.  Null / wrong-dim vectors encode to null (mirroring
        IVFIndex.assign's null handling)."""
        from pyspark.sql.functions import pandas_udf

        B = np.ascontiguousarray(self.codebooks)
        m, _, dsub = B.shape
        d = self.dim
        cosine = self.metric == "cosine"

        @pandas_udf("array<int>")
        def enc(vs: pd.Series) -> pd.Series:
            valid = np.array(
                [v is not None and len(v) == d for v in vs], dtype=bool)
            out = np.full(len(vs), None, dtype=object)
            if valid.any():
                M = np.asarray([np.asarray(v, dtype="float64")
                                for v, ok in zip(vs, valid) if ok])
                if cosine:
                    n = np.linalg.norm(M, axis=1, keepdims=True)
                    M = M / np.where(n == 0, 1.0, n)
                codes = np.empty((len(M), m), dtype="int32")
                for j in range(m):
                    sub = M[:, j * dsub:(j + 1) * dsub]
                    # argmin ||s-c||^2 = argmin |c|^2 - 2 s.c
                    dots = sub @ B[j].T
                    codes[:, j] = ((B[j] * B[j]).sum(axis=1)[None, :]
                                   - 2 * dots).argmin(axis=1)
                # itemwise: a bulk [list,...] assignment numpy coerces
                # to a 2-D array and rejects for object targets
                for r, i in enumerate(np.nonzero(valid)[0]):
                    out[i] = codes[r].tolist()
            return pd.Series(out)

        return enc

    def encode(self, df: DataFrame, vec_col: str,
               code_col: str = "pq_codes") -> DataFrame:
        """Append the m-code column.  Store THIS (plus the id) instead of
        the raw vectors: the search path never reads ``vec_col``."""
        assert self.codebooks is not None
        return df.withColumn(code_col, self._encode_arrow_udf()(F.col(vec_col)))

    def _lut(self, query_vec: Sequence[float]) -> np.ndarray:
        q = np.asarray(query_vec, dtype="float64")
        if self.metric == "cosine":
            n = np.linalg.norm(q)
            q = q / (n if n else 1.0)
        m, _, dsub = self.codebooks.shape
        lut = np.empty((m, self.codebooks.shape[1]))
        for j in range(m):
            qs = q[j * dsub:(j + 1) * dsub]
            if self.metric == "cosine":
                lut[j] = self.codebooks[j] @ qs
            else:
                lut[j] = ((self.codebooks[j] - qs[None, :]) ** 2).sum(axis=1)
        return lut

    def search(self, df: DataFrame, id_col: str,
               query_vec: Sequence[float], k: int = 10,
               code_col: str = "pq_codes",
               vec_col: Optional[str] = None) -> DataFrame:
        """ADC top-k.  ``df`` should carry ``code_col`` (from ``encode``);
        pass ``vec_col`` to encode on the fly instead (testing / one-off
        — at scale you store the codes).  Returns (id_col, score):
        ascending partial-l2 for "l2", descending partial-dot for
        "cosine"; top-k via TakeOrdered (no global sort)."""
        assert self.codebooks is not None
        if code_col not in df.columns:
            if vec_col is None:
                raise ValueError(f"no {code_col!r} column and no vec_col "
                                 "to encode from")
            df = self.encode(df, vec_col, code_col)
        from pyspark.sql.functions import pandas_udf

        lut = self._lut(query_vec)

        @pandas_udf("double")
        def adc(codes: pd.Series) -> pd.Series:
            out = np.full(len(codes), np.nan)
            valid = np.array([c is not None for c in codes], dtype=bool)
            if valid.any():
                C = np.asarray([np.asarray(c) for c, ok
                                in zip(codes, valid) if ok], dtype="int64")
                out[valid] = lut[np.arange(lut.shape[0])[None, :],
                                 C].sum(axis=1)
            return pd.Series(out)

        scored = (df.withColumn("score", adc(F.col(code_col)))
                    .filter(F.col("score").isNotNull() & ~F.isnan("score"))
                    .select(id_col, "score"))
        if self.metric == "cosine":
            return scored.orderBy(F.desc("score"), id_col).limit(k)
        return scored.orderBy(F.asc("score"), id_col).limit(k)


class IVFPQIndex:
    """Composed coarse-quantize -> in-cell ADC re-rank index (the IVFADC
    of Jegou et al. 2011 §IV) with METADATA-PREDICATE-FILTERED search —
    the production vector-search shape: IVF prunes the scan to
    ``n_probe`` cells, PQ codes keep the scanned bytes tiny (vectors
    are encoded as m codes of their RESIDUAL from the cell centroid,
    which quantizes far more accurately than raw-vector PQ), and a
    row-metadata predicate (``lang = 'en'``, date ranges, ...) filters
    BEFORE scoring, so Spark pushes it into the parquet scan of the
    code table — mirroring how the reference composes QueryCondition
    with reads (``/root/reference/tiledb/query_condition.py``).

    ``metric="cosine"`` normalizes vectors at fit/build time and ranks
    by ascending L2 in the normalized space (``||a-b||^2 = 2 - 2cos``
    for unit vectors — identical ordering), reporting
    ``score = 1 - d^2/2`` (the cosine estimate); ``"l2"`` ranks raw
    distances, reporting ``score = -sqrt(d^2)`` (both descending,
    matching ``brute_force_topk``'s convention for recall checks).

    Scale shape: ``build`` is one Arrow pass emitting (cell: int,
    codes: m bytes) per row — store THAT with the metadata columns and
    drop the raw vectors from the search path entirely.  ``search``
    scans only the probed cells' codes (cell + predicate both prune at
    the parquet scan), scores via per-probed-cell LUTs riding one
    Arrow UDF closure (n_probe x m x n_codes doubles), and top-k is a
    TakeOrdered — no global sort, no shuffle of vectors, ever."""

    _META_PREFIX = "__ivfpq_index:"

    def __init__(self, n_cells="auto", n_probe="auto", m="auto",
                 n_codes: int = 64, seed: int = 42,
                 metric: str = "cosine", n_iter: int = 10):
        """``n_cells="auto"`` / ``n_probe="auto"`` / ``m="auto"`` (the
        defaults): corpus-sized geometry and dim-sized subspaces
        resolved at fit time (see :func:`auto_n_cells` /
        :func:`auto_m`); ``n_codes=64`` is the measured scale default
        (see :class:`PQIndex`).  Pass ints to pin."""
        if metric not in ("cosine", "l2"):
            raise ValueError(f"unknown metric {metric!r}")
        self.n_cells = n_cells
        self.n_probe = n_probe
        self.m = m
        self.n_codes = n_codes
        self.seed = seed
        self.metric = metric
        self.n_iter = n_iter
        self.centroids: Optional[np.ndarray] = None   # (n_cells, d)
        self.codebooks: Optional[np.ndarray] = None   # (m, n_codes, dsub)
        self.dim: Optional[int] = None

    def _normalize(self, M: np.ndarray) -> np.ndarray:
        return _unit_rows(M) if self.metric == "cosine" else M

    def fit(self, df: DataFrame, vec_col: str, sample_rows: int = 20000,
            sample_fraction: float = 0.05) -> "IVFPQIndex":
        """Coarse k-means on the sample, then per-subspace k-means on
        the sample's RESIDUALS from its assigned centroids.  Cell
        assignment uses plain L2 throughout (on normalized vectors for
        cosine) so build and search agree with the residual
        arithmetic."""
        _resolve_geometry(self, df, vec_col)
        floor = max(10 * self.n_cells, 4 * self.n_codes, 256)
        sample = _hash_ordered_sample(df, vec_col, sample_rows,
                                      sample_fraction, self.seed, floor)
        if sample.ndim != 2 or not len(sample):
            raise ValueError("IVFPQIndex.fit: no trainable vectors")
        d = sample.shape[1]
        _resolve_m(self, d)
        if d % self.m:
            raise ValueError(f"dim {d} not divisible by m={self.m}")
        sample = self._normalize(sample)
        rng = np.random.default_rng(self.seed)
        k = min(self.n_cells, len(sample))
        centroids = _sample_lloyd(sample, k, self.n_iter, rng)
        resid = sample - centroids[_argmin_sq(sample, centroids)]
        dsub = d // self.m
        kc = min(self.n_codes, len(resid))
        books = np.zeros((self.m, kc, dsub))
        for j in range(self.m):
            sub = resid[:, j * dsub:(j + 1) * dsub]
            books[j] = _sample_lloyd(sub, kc, self.n_iter, rng)
        self.centroids = centroids
        self.codebooks = books
        self.dim = d
        return self

    # -- persistence (same contract as IVFIndex / PQIndex) ----------------

    def to_json(self) -> str:
        if self.centroids is None or self.codebooks is None:
            raise ValueError("fit() the index before saving")
        import json

        return json.dumps({
            "format": 1, "n_cells": self.n_cells, "n_probe": self.n_probe,
            "m": self.m, "n_codes": self.n_codes, "seed": self.seed,
            "metric": self.metric, "dim": self.dim,
            "centroids": self.centroids.tolist(),
            "codebooks": self.codebooks.tolist()})

    @classmethod
    def from_json(cls, payload: str) -> "IVFPQIndex":
        import json

        d = json.loads(payload)
        idx = cls(n_cells=d["n_cells"], n_probe=d["n_probe"], m=d["m"],
                  n_codes=d["n_codes"], seed=d["seed"], metric=d["metric"])
        idx.centroids = np.asarray(d["centroids"], dtype="float64")
        idx.codebooks = np.asarray(d["codebooks"], dtype="float64")
        idx.dim = d["dim"]
        return idx

    def save(self, uri: str, name: str = "default") -> "IVFPQIndex":
        from .. import manifest as mf

        mf.save_payload(uri, self._META_PREFIX + name, self.to_json(),
                        file_suffix=".ivfpq.tmp")
        return self

    @classmethod
    def load(cls, uri: str, name: str = "default") -> "IVFPQIndex":
        from .. import manifest as mf

        return cls.from_json(mf.load_payload(
            uri, cls._META_PREFIX + name, kind="IVFPQ index"))

    # -- build / search ---------------------------------------------------

    def _build_arrow_udf(self):
        """One Arrow pass: normalize (cosine), nearest cell by L2,
        PQ-encode the residual.  Null / wrong-dim vectors map to a null
        struct (the search path drops them)."""
        from pyspark.sql.functions import pandas_udf

        C = np.ascontiguousarray(self.centroids)
        B = np.ascontiguousarray(self.codebooks)
        m, _, dsub = B.shape
        d = self.dim
        cosine = self.metric == "cosine"

        @pandas_udf("struct<cell: int, codes: array<int>>")
        def enc(vs: pd.Series) -> pd.DataFrame:
            valid = np.array(
                [v is not None and len(v) == d for v in vs], dtype=bool)
            cells = np.full(len(vs), None, dtype=object)
            codes_out = np.full(len(vs), None, dtype=object)
            if valid.any():
                M = np.asarray([np.asarray(v, dtype="float64")
                                for v, ok in zip(vs, valid) if ok])
                if cosine:
                    n = np.linalg.norm(M, axis=1, keepdims=True)
                    M = M / np.where(n == 0, 1.0, n)
                cell = _argmin_sq(M, C)
                R = M - C[cell]
                codes = np.empty((len(M), m), dtype="int32")
                for j in range(m):
                    sub = R[:, j * dsub:(j + 1) * dsub]
                    codes[:, j] = _argmin_sq(sub, B[j])
                for r, i in enumerate(np.nonzero(valid)[0]):
                    cells[i] = int(cell[r])
                    codes_out[i] = codes[r].tolist()
            return pd.DataFrame({"cell": cells, "codes": codes_out})

        return enc

    def build(self, df: DataFrame, vec_col: str, id_col: str,
              keep_cols: Sequence[str] = (),
              cell_col: str = "cell",
              code_col: str = "pq_codes") -> DataFrame:
        """(id, *keep_cols, cell, codes) — the persistent search table.
        ``keep_cols`` carries the metadata columns predicates filter on
        (language, source, timestamps)."""
        assert self.centroids is not None
        s = self._build_arrow_udf()(F.col(vec_col))
        return df.select(F.col(id_col), *[F.col(c) for c in keep_cols],
                         s.getField("cell").alias(cell_col),
                         s.getField("codes").alias(code_col))

    def _probe_and_luts(self, query_vec: Sequence[float],
                        n_probe: int) -> tuple[list, dict]:
        q = self._normalize(np.asarray(query_vec, dtype="float64"))
        cd = ((self.centroids - q[None, :]) ** 2).sum(axis=1)
        probe = np.argsort(cd)[:n_probe].tolist()
        m, _, dsub = self.codebooks.shape
        luts = {}
        for c in probe:
            r = q - self.centroids[c]
            lut = np.empty((m, self.codebooks.shape[1]))
            for j in range(m):
                rs = r[j * dsub:(j + 1) * dsub]
                lut[j] = ((self.codebooks[j] - rs[None, :]) ** 2).sum(axis=1)
            luts[int(c)] = lut
        return probe, luts

    def search(self, index_df: DataFrame, query_vec: Sequence[float],
               k: int = 10, id_col: str = "vec_id",
               predicate: Optional[Column] = None,
               n_probe: Optional[int] = None,
               cell_col: str = "cell",
               code_col: str = "pq_codes",
               rerank: int = 0,
               vectors_df: Optional[DataFrame] = None,
               vec_col: str = "embedding") -> DataFrame:
        """ADC top-k over the probed cells, with ``predicate`` applied
        BEFORE scoring so it reaches the scan (pass any Column over the
        ``keep_cols`` metadata).  Returns (id_col, score) descending.

        ``rerank > 0`` adds the standard IVFPQ refine step: the ADC
        pass produces a ``rerank``-sized candidate shortlist (cheap —
        codes only), then the shortlist ids join back to
        ``vectors_df`` (id_col + ``vec_col``, the original vectors)
        for EXACT scoring and the true top-k.  Quantization error then
        only costs recall when a true neighbor falls outside the
        shortlist, so recall approaches the IVF (unquantized) level at
        PQ scan cost — the shortlist join broadcasts ``rerank`` ids,
        never the corpus.

        Rerank is the DEFAULT search recipe at the array surface
        (:func:`..highlevel.ann_search` passes ``max(10*k, 100)``):
        codes-only ADC recall plateaus at the quantization error
        (measured 0.34-0.36 recall@10 at sf100 vs 0.96 reranked at
        ~half exact-search latency).  Codes-only (``rerank=0``) is
        appropriate only when raw vectors are unavailable or a
        downstream stage re-scores anyway."""
        assert self.centroids is not None
        np_ = n_probe if n_probe is not None else self.n_probe
        if rerank:
            if vectors_df is None:
                raise ValueError("rerank needs vectors_df (the original "
                                 "id + vector table)")
            shortlist = self.search(index_df, query_vec,
                                    k=max(int(rerank), k),
                                    id_col=id_col, predicate=predicate,
                                    n_probe=np_, cell_col=cell_col,
                                    code_col=code_col).select(id_col)
            cands = vectors_df.join(F.broadcast(shortlist), on=id_col)
            return brute_force_topk(cands, vec_col, id_col, query_vec,
                                    k=k, metric=self.metric)
        # after the rerank early-return so a reranked query builds the
        # probe list + LUTs once (inside its recursive ADC call), not
        # twice
        probe, luts = self._probe_and_luts(query_vec, np_)

        from pyspark.sql.functions import pandas_udf

        df = index_df
        if predicate is not None:
            df = df.filter(predicate)
        df = df.filter(F.col(cell_col).isin(probe))

        @pandas_udf("double")
        def adc(cells: pd.Series, codes: pd.Series) -> pd.Series:
            # vectorized per probed cell: one LUT gather per cell over
            # the batch's rows in that cell (no per-row Python)
            out = np.full(len(codes), np.nan)
            valid = np.array([c is not None and cd is not None
                              for c, cd in zip(cells, codes)], dtype=bool)
            if valid.any():
                cl = cells[valid].to_numpy(dtype="int64")
                CD = np.asarray([np.asarray(cd, dtype="int64")
                                 for cd in codes[valid]])
                vals = np.full(len(cl), np.nan)
                rows = np.arange(CD.shape[1])[None, :]
                for c, lut in luts.items():
                    msk = cl == c
                    if msk.any():
                        vals[msk] = lut[rows, CD[msk]].sum(axis=1)
                out[valid] = vals
            return pd.Series(out)

        d2 = adc(F.col(cell_col), F.col(code_col))
        if self.metric == "cosine":
            score = F.lit(1.0) - d2 / F.lit(2.0)
        else:
            score = -F.sqrt(d2)
        return (df.withColumn("score", score)
                  .filter(F.col("score").isNotNull() & ~F.isnan("score"))
                  .select(id_col, "score")
                  .orderBy(F.desc("score"), id_col).limit(k))

    # -- incremental maintenance (the incremental_exact_dedup pattern) ----
    def append(self, df: DataFrame, vec_col: str, id_col: str,
               state_uri: str, keep_cols: Sequence[str] = ()) -> None:
        """Encode ``df``'s vectors against the FROZEN centroids +
        codebooks and commit the (id, keep_cols..., cell, pq_codes)
        code-table rows to ``state_uri`` as ONE new timestamped
        fragment.  Search over base+appended fragments bit-equals a
        scratch ``build`` on the union — encoding depends only on the
        frozen model, never on co-resident rows.  Fold per-batch
        fragments with :func:`..operators.dedup.compact_state`."""
        assert self.centroids is not None, "fit() or load() before append"
        rows = self.build(df, vec_col, id_col, keep_cols=keep_cols)
        _commit_state_fragment(state_uri, rows, id_col)

    def search_state(self, state_uri: str, query_vec: Sequence[float],
                     k: int = 10, id_col: str = "vec_id",
                     predicate: Optional[Column] = None,
                     n_probe: Optional[int] = None, spark=None) -> DataFrame:
        """ADC top-k over the persisted code-table array — raw vectors
        never enter the search path; cell + predicate prune the scan."""
        from .. import highlevel as hl

        tab = hl.open(state_uri, spark=spark).dataframe()
        return self.search(tab, query_vec, k=k, id_col=id_col,
                           predicate=predicate, n_probe=n_probe)


class PCAModel:
    """Distributed PCA over an embedding column — the dimensionality
    reduction step in front of clustering / ANN (and the rotation OPQ
    applies before product quantization).

    Scale split (same contract as the ANN indexes): the corpus-sized
    work is ONE ``mapInPandas`` pass emitting per-partition moment rows
    ``(count, sum[d], gram[d*d])`` — the driver reduce is bounded
    by construction at n_partitions x O(d^2) doubles, with ``max_dim``
    refusing loudly before an oversize collect (the ``bpe_train`` guard
    pattern).  Unlike the sampled k-means fits, the moments are EXACT
    over the full table.  The d x d covariance eigendecomposition runs
    on the driver; projection returns to scale as one Arrow UDF with
    the broadcast (mean, components) matrices — row-local, zero
    shuffles.

    Determinism: per-partition sums are fixed by the input partitioning;
    the driver reduces them in collect (partition) order; eigenvector
    sign is canonicalized (largest-|coefficient| entry positive).
    Null / non-finite / wrong-length vectors are excluded from the fit
    row-by-row (the per-partition reference length is its first vector;
    partitions that disagree on the dimension refuse loudly) and
    project to null.

    Persistence follows the shared index contract: ``save``/``load``
    through an engine array's manifest metadata or a JSON file.
    """

    _META_PREFIX = "__pca_model:"

    def __init__(self, n_components: int = 8, center: bool = True,
                 whiten: bool = False, max_dim: int = 1024):
        self.n_components = int(n_components)
        self.center = bool(center)
        self.whiten = bool(whiten)
        self.max_dim = int(max_dim)
        self.mean_: Optional[np.ndarray] = None          # (d,)
        self.components_: Optional[np.ndarray] = None    # (k, d)
        self.explained_variance_: Optional[np.ndarray] = None  # (k,)
        self.total_variance_: Optional[float] = None
        self.n_rows_: Optional[int] = None

    # -- fit -------------------------------------------------------------
    def fit(self, df: DataFrame, vec_col: str) -> "PCAModel":
        max_dim = self.max_dim

        def moments(it):
            n = 0
            s = g = None
            d = None
            for pdf in it:
                # per-ROW length filter before stacking: one wrong-length
                # vector must not raise numpy's inhomogeneous-shape error
                # (or, on old numpy, silently void the whole batch) —
                # mirror transform()'s row-level exclusion contract
                vecs = [v for v in pdf[vec_col]
                        if v is not None and len(v) > 0]
                if not vecs:
                    continue
                if d is None:
                    d = len(vecs[0])
                    if d > max_dim:
                        raise ValueError(
                            f"PCAModel: embedding dim {d} exceeds "
                            f"max_dim={max_dim} (driver reduce is O(d^2) "
                            "per partition); raise max_dim only with the "
                            "memory math done")
                    s = np.zeros(d)
                    g = np.zeros((d, d))
                M = np.array([v for v in vecs if len(v) == d],
                             dtype="float64")
                if M.shape[0] == 0:
                    continue
                M = M[np.isfinite(M).all(axis=1)]
                n += M.shape[0]
                s += M.sum(axis=0)
                g += M.T @ M
            if n:
                yield pd.DataFrame({"n": [n], "s": [s.tolist()],
                                    "g": [g.ravel().tolist()]})

        parts = df.select(vec_col).mapInPandas(
            moments, "n long, s array<double>, g array<double>").collect()
        if not parts:
            raise ValueError("PCAModel.fit: no finite vectors")
        dims_seen = {len(p.s) for p in parts}
        if len(dims_seen) > 1:
            raise ValueError(
                f"PCAModel.fit: partitions disagree on embedding dim "
                f"({sorted(dims_seen)}) — the column mixes vector "
                "lengths; clean it before fitting")
        d = len(parts[0].s)
        n = sum(p.n for p in parts)
        s = np.zeros(d)
        g = np.zeros((d, d))
        for p in parts:  # collect order = partition order: deterministic
            s += np.asarray(p.s)
            g += np.asarray(p.g).reshape(d, d)
        mean = s / n
        cov = g / n - (np.outer(mean, mean) if self.center else 0.0)
        cov = (cov + cov.T) / 2.0  # exact symmetry for eigh
        w, V = np.linalg.eigh(cov)
        order = np.argsort(w)[::-1][:self.n_components]
        comps = V[:, order].T
        # sign canon: the largest-|coefficient| entry of each component
        # is positive (svd_flip-style), so refits and replays agree
        flip = np.sign(comps[np.arange(len(order)),
                             np.abs(comps).argmax(axis=1)])
        flip[flip == 0] = 1.0
        self.components_ = comps * flip[:, None]
        self.explained_variance_ = np.maximum(w[order], 0.0)
        self.total_variance_ = float(np.maximum(w, 0.0).sum())
        self.mean_ = mean if self.center else np.zeros(d)
        self.n_rows_ = int(n)
        return self

    @property
    def explained_variance_ratio_(self) -> np.ndarray:
        if self.explained_variance_ is None:
            raise ValueError("fit() the model first")
        tot = self.total_variance_ or 1.0
        return self.explained_variance_ / (tot if tot > 0 else 1.0)

    # -- transform -------------------------------------------------------
    def transform(self, df: DataFrame, vec_col: str,
                  out_col: str = "pca") -> DataFrame:
        """Project ``vec_col`` onto the fitted components — one
        broadcast of (mean, W) inside an Arrow UDF, row-local."""
        if self.components_ is None:
            raise ValueError("fit() or load() the model before transform")
        from pyspark.sql.functions import pandas_udf

        W = self.components_
        if self.whiten:
            W = W / np.sqrt(np.maximum(self.explained_variance_,
                                       1e-12))[:, None]
        bc = df.sparkSession.sparkContext.broadcast(
            (self.mean_.copy(), W.copy()))

        @pandas_udf("array<double>")
        def proj(col: pd.Series) -> pd.Series:
            mean, Wb = bc.value
            out = []
            for v in col:
                if v is None:
                    out.append(None)
                    continue
                x = np.asarray(v, dtype="float64")
                if x.shape[0] != mean.shape[0] or \
                        not np.isfinite(x).all():
                    out.append(None)
                    continue
                out.append(((x - mean) @ Wb.T).tolist())
            return pd.Series(out)

        return df.withColumn(out_col, proj(F.col(vec_col)))

    # -- persistence (shared index contract) -----------------------------
    def to_json(self) -> str:
        if self.components_ is None:
            raise ValueError("fit() the model before saving")
        import json

        return json.dumps({
            "format": 1, "n_components": self.n_components,
            "center": self.center, "whiten": self.whiten,
            "mean": self.mean_.tolist(),
            "components": self.components_.tolist(),
            "explained_variance": self.explained_variance_.tolist(),
            "total_variance": self.total_variance_,
            "n_rows": self.n_rows_})

    @classmethod
    def from_json(cls, payload: str) -> "PCAModel":
        import json

        d = json.loads(payload)
        m = cls(n_components=d["n_components"], center=d["center"],
                whiten=d["whiten"])
        m.mean_ = np.asarray(d["mean"], dtype="float64")
        m.components_ = np.asarray(d["components"], dtype="float64")
        m.explained_variance_ = np.asarray(d["explained_variance"],
                                           dtype="float64")
        m.total_variance_ = d["total_variance"]
        m.n_rows_ = d["n_rows"]
        return m

    def save(self, uri: str, name: str = "default") -> "PCAModel":
        from .. import manifest as mf

        mf.save_payload(uri, self._META_PREFIX + name, self.to_json(),
                        file_suffix=".pca.tmp")
        return self

    @classmethod
    def load(cls, uri: str, name: str = "default") -> "PCAModel":
        from .. import manifest as mf

        return cls.from_json(mf.load_payload(
            uri, cls._META_PREFIX + name, kind="PCA model"))


def diversity_sample(df: DataFrame, vec_col: str, id_col: str,
                     n: int = 16, metric: str = "cosine",
                     seed: int = 42, index: Optional[IVFIndex] = None
                     ) -> DataFrame:
    """Cluster-stratified prototype selection — the coreset/exemplar
    picker of data-curation pipelines (one spread-out representative
    per region of embedding space, vs. a hash sample's iid draw):
    fit (or reuse) an IVF partition with ``n`` cells, then per occupied
    cell keep the row MOST similar to its centroid (ties on the id).
    Returns (id_col, cell, score) — at most ``n`` rows, fewer when
    cells are empty.

    With ``metric="cosine"`` the within-cell ranking is true COSINE to
    the (unit) centroid — the raw dot that suffices for cell
    ASSIGNMENT (the row's norm is constant across cells) would bias
    the cross-row argmax toward high-norm vectors; zero-norm vectors
    have no direction and are dropped.  Cell assignment mirrors
    ``IVFIndex._cell_expr`` (kept in sync — the unrolled expression
    scales to a few hundred cells; use the index's Arrow assign path
    for thousands).

    Deterministic given (data, seed): the IVF fit is seeded and
    hash-ordered, and the per-cell argmax breaks ties on the id.
    Scale shape: centroid table broadcast (constant plan), one shuffle
    on the 4-byte cell id for the per-cell top-1 window; vectors never
    shuffle — only (id, cell, score) rows do."""
    idx = index
    if idx is None:
        idx = IVFIndex(n_cells=n, metric=metric, seed=seed).fit(df, vec_col)
    assert idx.centroids is not None
    vec = F.col(vec_col)
    if idx.metric == "cosine":
        sims = F.array(*[dot(vec, _vec_lit(c)) for c in idx.centroids])
        norm = l2_norm(vec)
        score = F.array_max(sims) / norm
        cell = (F.array_position(sims, F.array_max(sims)) - 1).cast("int")
        keep = vec.isNotNull() & (norm > 0)
    else:
        dists = F.array(*[
            F.aggregate(F.zip_with(vec, _vec_lit(c),
                                   lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0), lambda acc, v: acc + v)
            for c in idx.centroids])
        score = -F.array_min(dists)
        cell = (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        keep = vec.isNotNull()
    base = (df.filter(keep)
              .select(F.col(id_col), cell.alias("cell"),
                      score.alias("score"))
              # Spark ranks NaN above every double: a NaN-component
              # vector would win its cell as the "representative
              # exemplar" (the brute_force_topk guard, same input class)
              .filter(~F.coalesce(F.isnan("score"), F.lit(False))))
    w = Window.partitionBy("cell").orderBy(F.desc("score"), F.col(id_col))
    return (base.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1).drop("__rn"))
