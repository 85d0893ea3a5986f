"""Property-based tests for the round-6 corpus operators: invariants a
python-side reference can state for ANY generated corpus — the same
strategy the range-semantics suite uses for the indexing surface.

Each test collects one small random corpus per example and checks the
Spark answer against a from-scratch python computation (or a stated
invariant), so the operators get fuzzed beyond the fixed oracle-gate
corpora.
"""

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

word = st.sampled_from(["a", "bb", "ccc", "dd", "e", "fff", "gg"])
doc = st.lists(word, min_size=0, max_size=30).map(" ".join)
corpus = st.lists(doc, min_size=1, max_size=8)

_SETTINGS = dict(max_examples=15, deadline=None,
                 suppress_health_check=[HealthCheck.function_scoped_fixture])


@given(docs=corpus)
@settings(**_SETTINGS)
def test_repetition_stats_invariants(spark, docs):
    """All fractions in [0,1]; dup-gram coverage is 0 for docs shorter
    than n or without repeated tokens; every column equals the
    mask-based reference model."""
    from reference_models import repetition_stats_model

    from tiledb_py_spark.operators.text import repetition_stats

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    a = {r.doc_id: r.asDict() for r in
         repetition_stats(df, "text", top_ns=(2,), dup_ns=(3,)).collect()}
    for i, d in enumerate(docs):
        e = repetition_stats_model(d, top_ns=(2,), dup_ns=(3,))
        for col, w in e.items():
            v = a[i][col]
            if col.endswith("frac"):
                assert 0.0 <= v <= 1.0, (col, d)
                assert v == pytest.approx(w), (col, d)
            else:
                assert v == w, (col, d)
        toks = d.split()
        if len(toks) < 3:
            assert a[i]["r_dup3gram_char_frac"] == 0.0
        if len(set(toks)) == len(toks):  # all-unique tokens: no dup grams
            assert a[i]["r_dup3gram_char_frac"] == 0.0


@given(docs=corpus, k=st.integers(2, 4), w=st.integers(2, 4))
@settings(**_SETTINGS)
def test_winnow_matches_reference(spark, docs, k, w):
    """Winnowing equals the from-scratch reference for any corpus and
    (k, window); fingerprint density never exceeds the gram count."""
    from pyspark.sql import functions as F

    from tiledb_py_spark.operators.dedup import winnow_fingerprints

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    out = winnow_fingerprints(df, "text", "doc_id", k=k, window=w)
    by = {}
    for r in out.collect():
        by.setdefault(r.doc_id, []).append((r.pos, r.fp))

    # reference on the same xxhash64 values
    grams_all = []
    for d in docs:
        toks = d.split()
        grams_all.append([" ".join(toks[i:i + k])
                          for i in range(len(toks) - k + 1)])
    flat = sorted({g for gs in grams_all for g in gs})
    if flat:
        hmap = {row.g: row.h for row in spark.createDataFrame(
            [(g,) for g in flat], ["g"]).select(
                "g", F.xxhash64("g").alias("h")).collect()}
    else:
        hmap = {}
    for i, gs in enumerate(grams_all):
        hs = [hmap[g] for g in gs]
        G = len(hs)
        sels = {}
        for j in range(max(G - w + 1, 1) if G else 0):
            size = min(w, G - j)
            win = hs[j:j + size]
            m = min(win)
            pos = j + max(t for t, h in enumerate(win) if h == m)
            sels[pos + 1] = hs[pos]
        assert sorted(by.get(i, [])) == sorted(sels.items()), (docs[i], k, w)
        assert len(by.get(i, [])) <= max(G, 0)


@given(docs=corpus.filter(lambda ds: any(len(d.split()) >= 2 for d in ds)))
@settings(**_SETTINGS)
def test_bigram_surprisal_matches_reference(spark, docs):
    """Bigram surprisal equals the python MLE computation; docs without
    bigrams are absent; surprisal >= 0."""
    from collections import Counter

    from pyspark.sql import functions as F

    from tiledb_py_spark.operators.text import ngram_surprisal

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    ws = F.split(F.trim(F.col("text")), r"\s+")
    got = {r.doc_id: r for r in
           ngram_surprisal(df.filter(F.length(F.trim("text")) > 0),
                           "text", "doc_id", n=2,
                           tokens_col=ws).collect()}
    big = Counter()
    pre = Counter()
    per_doc = {}
    for i, d in enumerate(docs):
        toks = d.split()
        bgs = list(zip(toks, toks[1:]))
        per_doc[i] = bgs
        for b in bgs:
            big[b] += 1
            pre[b[0]] += 1
    for i, bgs in per_doc.items():
        if not bgs:
            assert i not in got
            continue
        expect = sum(-math.log(big[b] / pre[b[0]]) for b in bgs) / len(bgs)
        assert got[i].surprisal == pytest.approx(expect, abs=1e-9), docs[i]
        assert got[i].surprisal >= -1e-12
        assert got[i].n_grams == len(bgs)


@given(docs=st.lists(doc.filter(lambda d: d.strip()), min_size=2,
                     max_size=8))
@settings(**_SETTINGS)
def test_remove_repeated_lines_only_cross_doc(spark, docs):
    """remove_repeated_lines drops exactly the lines occurring in >=2
    distinct docs; per-doc output text round-trips the kept lines."""
    from tiledb_py_spark.operators.dedup import remove_repeated_lines

    # one line per 4 tokens to synthesize multi-line docs
    def linify(d):
        toks = d.split()
        return "\n".join(" ".join(toks[i:i + 4])
                         for i in range(0, len(toks), 4))

    lined = [linify(d) for d in docs]
    df = spark.createDataFrame(list(enumerate(lined)), ["doc_id", "text"])
    out = {r.doc_id: r for r in
           remove_repeated_lines(df, "text", "doc_id",
                                 min_docs=2).collect()}
    from collections import Counter
    docfreq = Counter()
    for t in lined:
        for l in set(x.strip() for x in t.split("\n") if x.strip()):
            docfreq[l] += 1
    dup = {l for l, c in docfreq.items() if c >= 2}
    for i, t in enumerate(lined):
        lines = [x.strip() for x in t.split("\n") if x.strip()]
        kept = [l for l in lines if l not in dup]
        assert out[i].clean_text == "\n".join(kept), lined[i]
        assert out[i].n_removed == len(lines) - len(kept)


@given(docs=corpus, vocab_size=st.integers(5, 20),
       max_len=st.integers(2, 5))
@settings(**_SETTINGS)
def test_unigram_lm_invariants(spark, docs, vocab_size, max_len):
    """For ANY corpus: the model is a proper distribution over at most
    max(vocab_size, n_chars) pieces containing every corpus character;
    Viterbi encoding round-trips every word and its score equals an
    exhaustive segmentation search."""
    from math import exp, inf

    from pyspark.sql import functions as F

    from tiledb_py_spark.operators.bpe import (unigram_encode_udf,
                                               unigram_lm_train)

    docs = [d for d in docs if d.strip()]
    if not docs:
        return
    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    model = unigram_lm_train(df, "text", vocab_size=vocab_size,
                             max_piece_len=max_len, n_em_iters=1)
    vocab = dict(model)
    words = {w for d in docs for w in d.lower().split()}
    chars = {c for w in words for c in w}
    assert abs(sum(exp(lp) for lp in vocab.values()) - 1.0) < 1e-9
    assert chars <= set(vocab)
    assert len(vocab) <= max(vocab_size, len(chars))

    enc = unigram_encode_udf(model)
    out = df.select("doc_id", enc(F.col("text")).alias("t")).collect()
    for r in out:
        assert "".join(r.t) == "".join(docs[r.doc_id].lower().split())

    unk = min(vocab.values()) - 100.0

    def viterbi(w):
        best = [-inf] * (len(w) + 1)
        best[0] = 0.0
        ml = max(len(p) for p in vocab)
        for j in range(1, len(w) + 1):
            for i in range(max(0, j - ml), j):
                lp = vocab.get(w[i:j], unk if j - i == 1 else None)
                if lp is not None and best[i] + lp > best[j]:
                    best[j] = best[i] + lp
        return best[len(w)]

    def brute(w):
        best = -inf
        stack = [(0, 0.0)]
        while stack:
            i, s = stack.pop()
            if i == len(w):
                best = max(best, s)
                continue
            for j in range(i + 1, len(w) + 1):
                lp = vocab.get(w[i:j], unk if j - i == 1 else None)
                if lp is not None:
                    stack.append((j, s + lp))
        return best

    for w in words:
        assert abs(viterbi(w) - brute(w)) < 1e-9


@given(docs=st.lists(doc, min_size=2, max_size=6),
       max_tokens=st.integers(2, 7),
       split_pieces=st.sampled_from([1, 2, 10**6]))
@settings(**_SETTINGS)
def test_materialize_packs_stream_equivalence(spark, docs, max_tokens,
                                              split_pieces):
    """For ANY corpus, chunk size, AND giant-doc split threshold
    (split_pieces=1 forces every multi-pack doc through the chunked
    branch): concatenating the packs in pack_id order rebuilds the
    exact per-group token stream, every non-final pack is full, and
    padding appears only in the final pack."""
    from pyspark.sql import functions as F

    from tiledb_py_spark.operators.pipeline import materialize_packs

    df = spark.createDataFrame(
        [(i, d.split() if d else []) for i, d in enumerate(docs)],
        "doc_id long, toks array<string>")
    out = sorted(materialize_packs(df, "toks", ["doc_id"],
                                   max_tokens=max_tokens,
                                   pad_token="<p>",
                                   split_pieces=split_pieces).collect(),
                 key=lambda r: r.pack_id)
    stream = [t for d in docs for t in d.split()]
    if not stream:
        assert out == []
        return
    rebuilt = [t for r in out for t in r.pack_tokens if t != "<p>"]
    assert rebuilt == stream
    for r in out[:-1]:
        assert r.n_pad == 0 and len(r.pack_tokens) == max_tokens
    assert len(out[-1].pack_tokens) == max_tokens
    assert sum(r.n_real for r in out) == len(stream)
    assert sum(r.n_docs for r in out) == sum(1 for d in docs if d.split())


@given(n_pos=st.integers(3, 12), n_neg=st.integers(3, 12),
       nb=st.sampled_from([32, 64]))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_quality_classifier_gradient_check(spark, n_pos, n_neg, nb):
    """The distributed (loss, gradient) oracle passes a numeric
    finite-difference gradient check at a random weight vector — the
    strongest property a logistic-regression fit can state."""
    import numpy as np
    from pyspark.sql import functions as F

    from tiledb_py_spark.operators.classifier import (_eval_factory,
                                                      token_buckets)

    rows = [(i, f"sig nal word{i % 3} common", 1) for i in range(n_pos)]
    rows += [(100 + i, f"junk noise word{i % 3} common", 0)
             for i in range(n_neg)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "y"])
    feats = df.select(
        F.col("y").cast("double").alias("y"),
        F.coalesce(token_buckets("text", nb),
                   F.array().cast("array<int>")).alias("bkts")).coalesce(2)
    feats = feats.persist()
    try:
        ev = _eval_factory(feats, nb, reg=1e-3)
        rng = np.random.RandomState(nb + n_pos)
        w = rng.randn(nb + 1) * 0.1
        f0, g = ev(w)
        eps = 1e-6
        for idx in rng.choice(nb + 1, 5, replace=False):
            wp = w.copy(); wp[idx] += eps
            wm = w.copy(); wm[idx] -= eps
            fp, _ = ev(wp)
            fm, _ = ev(wm)
            num = (fp - fm) / (2 * eps)
            assert abs(num - g[idx]) < 1e-4 * max(1.0, abs(g[idx]))
    finally:
        feats.unpersist()


@given(docs=st.lists(doc.filter(lambda d: d.strip()), min_size=2,
                     max_size=8, unique=True),
       cut=st.integers(1, 7))
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_incremental_neardup_union_property(spark, tmp_path_factory,
                                            docs, cut):
    """For ANY corpus and ANY id-ordered two-batch split: incremental
    near-dup against the persisted signature state equals the batch
    signature-verified minhash_dedup on the union."""
    from tiledb_py_spark.operators.dedup import (incremental_neardup,
                                                 minhash_dedup)

    cut = min(cut, len(docs) - 1)
    rows = list(enumerate(docs))
    b1 = spark.createDataFrame(rows[:cut], ["doc_id", "text"])
    b2 = spark.createDataFrame(rows[cut:], ["doc_id", "text"])
    state = str(tmp_path_factory.mktemp("nd") / "state")
    kw = dict(num_perm=32, bands=16, shingle_k=2, threshold=0.5)
    o1 = {r.doc_id for r in
          incremental_neardup(b1, "text", "doc_id", state, **kw).collect()}
    o2 = {r.doc_id for r in
          incremental_neardup(b2, "text", "doc_id", state, **kw).collect()}
    ref = {r.doc_id for r in
           minhash_dedup(spark.createDataFrame(rows, ["doc_id", "text"]),
                         "text", "doc_id", verify="signature",
                         **kw).collect()}
    assert o1 | o2 == ref and not (o1 & o2)


@given(docs=st.lists(doc.filter(lambda d: d.strip()), min_size=1,
                     max_size=6))
@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_kneser_ney_proper_conditional(spark, docs):
    """For ANY corpus, the KN model is a PROPER conditional
    distribution: for every observed context v, the probabilities
    P(w|v) over the corpus vocabulary sum to exactly 1 (discounted
    mass + lambda, with the add-one-smoothed P_cont summing to 1 over
    the vocabulary), and every per-document log_prob is finite and
    negative-or-zero."""
    from collections import Counter, defaultdict
    from math import isfinite

    from tiledb_py_spark.operators.text import kneser_ney_logprob

    df = spark.createDataFrame(list(enumerate(docs)), ["doc_id", "text"])
    out = kneser_ney_logprob(df, "text", "doc_id").collect()
    for r in out:
        assert isfinite(r.log_prob) and r.log_prob <= 1e-12
        assert r.ppl >= 1.0 - 1e-9

    # python replay of the model tables (lowercased \w tokenization)
    import re as _re

    toked = [[t for t in _re.split(r"[^\w]+", d.lower()) if t] or [""]
             for d in docs]
    big: Counter = Counter()
    for ts in toked:
        for a, b in zip(ts, ts[1:]):
            big[(a, b)] += 1
    if not big:
        return
    ctot = defaultdict(int)
    n1f = defaultdict(int)
    n1b = defaultdict(int)
    for (a, b), c in big.items():
        ctot[a] += c
        n1f[a] += 1
        n1b[b] += 1
    B = len(big)
    vocab = {t for ts in toked for t in ts}
    V = len(vocab)
    D = 0.75
    for v in ctot:
        total = sum(
            max(big.get((v, w), 0) - D, 0.0) / ctot[v]
            + (D * n1f[v] / ctot[v]) * ((n1b.get(w, 0) + 1.0) / (B + V))
            for w in vocab)
        assert abs(total - 1.0) < 1e-9


@given(pts=st.lists(st.integers(0, 1000), min_size=1, max_size=40),
       ivs=st.lists(st.tuples(st.integers(0, 1000), st.integers(-5, 200)),
                    min_size=1, max_size=15),
       closed=st.sampled_from(["both", "left", "right", "neither"]),
       nb=st.integers(1, 12), lsb=st.integers(1, 20))
@settings(**_SETTINGS)
def test_interval_join_matches_reference_any_input(spark, pts, ivs,
                                                   closed, nb, lsb):
    """Grid interval join equals the O(n*m) reference for ANY points /
    intervals (inverted + zero-length included), every closed variant,
    any bucket count, and any hybrid split threshold."""
    from tiledb_py_spark.operators.intervals import interval_join

    P = spark.createDataFrame(list(enumerate(pts)), ["pid", "t"])
    I = spark.createDataFrame(
        [(j, s, s + ln) for j, (s, ln) in enumerate(ivs)],
        ["iid", "s", "e"])
    got = sorted(map(tuple, interval_join(
        P, I, on="t", start="s", end="e", closed=closed,
        interval_cols=["iid"], suffix="", num_buckets=nb,
        long_span_buckets=lsb).select("pid", "iid").toPandas().values))
    lo = {"both": lambda s, t: s <= t, "left": lambda s, t: s <= t,
          "right": lambda s, t: s < t, "neither": lambda s, t: s < t}[closed]
    hi = {"both": lambda t, e: t <= e, "left": lambda t, e: t < e,
          "right": lambda t, e: t <= e, "neither": lambda t, e: t < e}[closed]
    want = sorted((p_i, j) for p_i, t in enumerate(pts)
                  for j, (s, ln) in enumerate(ivs)
                  if s <= s + ln and lo(s, t) and hi(t, s + ln))
    assert got == want


@given(ls=st.lists(st.tuples(st.integers(0, 500), st.integers(0, 120)),
                   min_size=1, max_size=12),
       rs=st.lists(st.tuples(st.integers(0, 500), st.integers(0, 120)),
                   min_size=1, max_size=12),
       closed=st.sampled_from(["both", "neither"]),
       nb=st.integers(1, 10), lsb=st.integers(1, 16))
@settings(**_SETTINGS)
def test_interval_overlap_exactly_once_any_input(spark, ls, rs, closed,
                                                 nb, lsb):
    """Overlap join emits each overlapping pair EXACTLY once for any
    inputs, bucket counts, and hybrid thresholds."""
    from tiledb_py_spark.operators.intervals import interval_overlap_join

    L = spark.createDataFrame(
        [(i, s, s + ln) for i, (s, ln) in enumerate(ls)],
        ["lid", "ls", "le"])
    R = spark.createDataFrame(
        [(j, s, s + ln) for j, (s, ln) in enumerate(rs)],
        ["rid", "rs", "re"])
    got = sorted(map(tuple, interval_overlap_join(
        L, R, "ls", "le", "rs", "re", right_cols=["rid"], suffix="",
        closed=closed, num_buckets=nb, long_span_buckets=lsb)
        .select("lid", "rid").toPandas().values))
    if closed == "both":
        ok = lambda a, b: ls[a][0] <= rs[b][0] + rs[b][1] \
            and rs[b][0] <= ls[a][0] + ls[a][1]
    else:
        ok = lambda a, b: ls[a][0] < rs[b][0] + rs[b][1] \
            and rs[b][0] < ls[a][0] + ls[a][1]
    want = sorted((a, b) for a in range(len(ls)) for b in range(len(rs))
                  if ok(a, b))
    assert got == want  # equality implies exactly-once (no duplicates)


@given(evs=st.lists(st.tuples(st.integers(0, 3),          # user
                              st.integers(0, 50),          # ts
                              st.sampled_from("ABCX")),    # step/other
                    min_size=1, max_size=30),
       within=st.one_of(st.none(), st.integers(1, 30)))
@settings(**_SETTINGS)
def test_funnel_matches_reference_any_stream(spark, evs, within):
    """Funnel equals the from-scratch greedy reference for any event
    stream (duplicate timestamps broken by event_id) and any window."""
    from tiledb_py_spark.streaming.events import funnel

    rows = [(i, u, float(ts), s) for i, (u, ts, s) in enumerate(evs)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts double, event_type string")
    got = {r.user_id: [x for x in (r.step1_ts, r.step2_ts, r.step3_ts)
                       if x is not None]
           for r in funnel(df, ["A", "B", "C"], within=float(within)
                           if within else None).collect()}
    steps = ["A", "B", "C"]
    want: dict = {}
    for u in {r[1] for r in rows if r[3] in steps}:
        done: list = []
        for eid, uu, ts, s in sorted(rows, key=lambda r: (r[2], r[0])):
            if uu != u or s not in steps:
                continue
            need = len(done)
            if need < 3 and s == steps[need] \
                    and (need == 0 or ts > done[-1]) \
                    and (within is None or need == 0
                         or ts - done[0] <= within):
                done.append(ts)
        want[u] = done
    assert got == want


@given(st.data())
@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_changelog_matches_snapshot_diff_any_history(spark, tmp_path_factory,
                                                     data):
    """For ANY random write/delete history and ANY window, changelog()
    equals the brute-force diff of the two timestamped snapshots."""
    import numpy as np
    import pandas as pd

    import tiledb_py_spark as tdb
    import tiledb_py_spark.manifest as mfm
    from tiledb_py_spark.cdc import changelog
    from tiledb_py_spark.sources.fragment_writer import write_fragment_pandas

    tmp = tmp_path_factory.mktemp("cdc_fuzz")
    uri = str(tmp / "arr")
    n_ops = data.draw(st.integers(2, 5))
    ops = []
    for i in range(n_ops):
        kind = data.draw(st.sampled_from(["write", "write", "delete"]))
        if kind == "write":
            keys = data.draw(st.lists(st.integers(0, 15), min_size=1,
                                      max_size=6, unique=True))
            vals = [data.draw(st.integers(0, 3)) for _ in keys]
            ops.append(("write", keys, vals))
        else:
            lo = data.draw(st.integers(0, 15))
            ops.append(("delete", lo, None))
    ts1 = data.draw(st.integers(500, 500 + n_ops * 1000))
    ts2 = data.draw(st.integers(ts1 + 1, 500 + (n_ops + 1) * 1000))

    base = pd.DataFrame({"k": np.array([0], dtype="int64"),
                         "v": np.array([0.0])})
    tdb.from_pandas(uri, base, index_dims=["k"], mode="schema_only",
                    full_domain=True)
    schema = tdb.open(uri).schema
    orig = mfm.now_ms
    try:
        for i, (kind, a, b) in enumerate(ops):
            t = 1000 * (i + 1)
            if kind == "write":
                write_fragment_pandas(
                    uri, schema,
                    pd.DataFrame({"k": np.array(a, dtype="int64"),
                                  "v": np.array(b, dtype="float64")}),
                    timestamp=t)
            else:
                mfm.now_ms = lambda t=t: t
                tdb.open(uri, mode="d").delete_cells(f"k >= {a}")
    finally:
        mfm.now_ms = orig

    def snap(ts):
        A = tdb.open(uri, timestamp=ts, spark=spark)
        return {int(r.k): float(r.v) for r in A._scan_df().collect()}

    s1, s2 = snap(ts1), snap(ts2)
    want = {}
    for key in set(s1) | set(s2):
        if key not in s1:
            want[key] = ("insert", None, s2[key])
        elif key not in s2:
            want[key] = ("delete", s1[key], None)
        elif s1[key] != s2[key]:
            want[key] = ("update", s1[key], s2[key])
    got = {int(r.k): (r.change,
                      None if r.v_old is None else float(r.v_old),
                      None if r.v_new is None else float(r.v_new))
           for r in changelog(uri, ts1, ts2, spark=spark).collect()}
    assert got == want


@given(evs=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 40),
                              st.one_of(st.none(),
                                        st.floats(-100, 100))),
                    min_size=1, max_size=25),
       alpha=st.floats(0.05, 1.0))
@settings(**_SETTINGS)
def test_ewma_matches_reference_any_series(spark, evs, alpha):
    """EWMA equals the from-scratch recurrence for any per-entity
    series, null placement, and alpha (ties broken by event id)."""
    from tiledb_py_spark.streaming.events import ewma

    rows = [(i, u, float(ts), x) for i, (u, ts, x) in enumerate(evs)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts double, value double")
    got = {r.event_id: r.ewma
           for r in ewma(df, "value", alpha=alpha, ts_col="ts").collect()}
    want = {}
    state: dict = {}
    for eid, u, ts, x in sorted(rows, key=lambda r: (r[2], r[0])):
        prev = state.get(u)
        if x is None:
            want[eid] = prev
        else:
            prev = x if prev is None else alpha * x + (1 - alpha) * prev
            state[u] = prev
            want[eid] = prev
    for eid in want:
        g, w = got[eid], want[eid]
        if w is None:
            assert g is None, eid
        else:
            assert g == pytest.approx(w, abs=1e-9), eid


@settings(**_SETTINGS)
@given(data=st.lists(
    st.tuples(st.integers(0, 3),            # user
              st.integers(0, 200),          # minute offset
              st.one_of(st.none(),
                        st.floats(-100, 100, allow_nan=False))),
    min_size=1, max_size=40))
def test_time_resample_matches_python_reference(spark, data):
    """For ANY event set: the 15-min grid per user is complete between
    its first and last bucket with no duplicates, real buckets carry
    the rounded mean of their (non-null) values, and gap buckets carry
    count 0 and the previous bucket's value (ffill)."""
    from tiledb_py_spark.streaming.events import time_resample

    rows = [(i, u, f"2020-01-01 00:00:00", m, v)
            for i, (u, m, v) in enumerate(data)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, base string, m int, value double") \
        .selectExpr("user_id", "event_id",
                    "cast(base as timestamp) + make_interval(0,0,0,0,0,m,0) ts",
                    "value")
    out = time_resample(df, "value", by="user_id", ts_col="ts",
                        interval="15 minutes").toPandas()

    # python reference
    import collections
    per = collections.defaultdict(lambda: collections.defaultdict(list))
    for _i, (u, m, v) in enumerate(data):
        per[u][m // 15].append(v)
    for u, buckets in per.items():
        got_u = out[out.user_id == u].sort_values("bucket")
        lo, hi = min(buckets), max(buckets)
        assert len(got_u) == hi - lo + 1          # complete grid
        assert got_u.bucket.is_unique
        prev = None  # the previous BUCKET's mean (may be None)
        for row, b in zip(got_u.itertuples(), range(lo, hi + 1)):
            def _isnull(x):
                return x is None or (isinstance(x, float) and math.isnan(x))
            vals = [v for v in buckets.get(b, []) if v is not None]
            if b in buckets:
                # n_events is the ROW count (nulls included)
                assert row.n_events == len(buckets[b])
                if vals:
                    want = round(sum(vals) / len(vals), 4)
                    assert row.value == pytest.approx(want, abs=1e-9)
                    prev = row.value
                else:
                    # all-null real bucket: mean is NULL
                    assert _isnull(row.value)
                    prev = None
            else:
                # gap: carries the previous bucket's mean VERBATIM
                assert row.n_events == 0
                if prev is None:
                    assert _isnull(row.value)
                else:
                    assert row.value == prev


@settings(**_SETTINGS)
@given(data=st.lists(
    st.tuples(st.integers(0, 2),            # user
              st.one_of(st.none(),
                        st.integers(-5000, 5000))),  # value = k/100 (2-dp)
    min_size=1, max_size=35))
def test_rolling_anomaly_matches_exact_reference(spark, data):
    """For ANY 2-dp series: flagged rows are BIT-IDENTICAL to a pure-
    Python exact reference replaying the operator's fixed-point
    arithmetic (scaled-int64 frame sum/sum-of-squares, sample variance
    from n*Q - S*S, floor(x*1e4+0.5)/1e4 rounding) — nulls occupying
    frame slots included.  Exact equality, no tolerance: this is the
    same determinism the driver's value hash demands.  (The former
    pandas rolling.std reference was itself numerically unstable —
    clamped tiny variances, banker's rounding — and flaked.)"""
    import math

    from tiledb_py_spark.streaming.events import rolling_anomaly

    rows = [(i, u, float(i), None if k is None else k / 100)
            for i, (u, k) in enumerate(data)]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts double, value double")
    out = rolling_anomaly(df, window=4, min_periods=2, threshold=1.5,
                          value_decimals=2)
    got = {(r.user_id, r.event_id): (r.baseline_mean, r.baseline_std,
                                     r.zscore)
           for r in out.collect()}

    def r4(c):
        return math.floor(c * 1e4 + 0.5) / 1e4

    want = {}
    per = {}
    for i, (u, k) in enumerate(data):
        per.setdefault(u, []).append((i, k))
    for u, series in per.items():
        frame = []                       # last `window` rows, None = null
        for eid, k in series:            # already in (ts, event_id) order
            live = [v for v in frame if v is not None]
            n = len(live)
            if k is not None and n >= 2:
                S = sum(live)
                Q = sum(v * v for v in live)
                m = S / n                           # exact-int division
                sd = math.sqrt((n * Q - S * S) / (n * (n - 1)))
                z = (float(k) - m) / sd if sd > 0 else None
                if sd > 0 and abs(z) > 1.5:
                    want[(u, eid)] = (r4(m / 100), r4(sd / 100), r4(z))
            frame.append(k)
            if len(frame) > 4:
                frame = frame[-4:]
    assert set(got) == set(want)
    for key in want:
        assert got[key] == want[key], (key, got[key], want[key])


# keys exercise UTF8_BINARY order traps: digit-prefix ('10' < '9'),
# case ('Z' < 'a'), multi-byte unicode above ASCII, shared prefixes
_key = st.text(alphabet="09azZé-", min_size=1, max_size=6)


@given(items=st.lists(st.tuples(st.sampled_from(["g1", "g2"]), _key,
                                st.integers(-5, 50)),
                      min_size=1, max_size=40),
       nb=st.integers(2, 6))
@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_grouped_running_sum_string_keys_property(spark, items, nb):
    """For ANY string order keys (dup-heavy, unicode, digit/case
    traps), the string-bucketed distributed prefix sum equals the
    per-group python cumsum in (key, insertion-tiebreak-free) order.
    Duplicate (group, key) rows would make the running sum order-
    dependent, so keys are de-duplicated per group first."""
    from tiledb_py_spark.operators.pipeline import grouped_running_sum

    seen = set()
    rows = []
    for g, k, v in items:
        if (g, k) not in seen:
            seen.add((g, k))
            rows.append((g, k, v))
    df = spark.createDataFrame(rows, "g string, k string, v int")
    got = {(r.g, r.k): r.cum
           for r in grouped_running_sum(df, ["g"], ["k"], "v",
                                        cum_col="cum",
                                        num_buckets=nb).collect()}
    # python reference: UTF-8 byte order == code-point order == python
    want = {}
    for g in {r[0] for r in rows}:
        run = 0
        for gg, k, v in sorted((r for r in rows if r[0] == g),
                               key=lambda r: r[1]):
            run += v
            want[(g, k)] = run
    assert got == want


# QueryCondition grammar over a nullable int / float / string table: one
# literal strategy per column, type-matched (the compiler refuses
# number-vs-string comparisons); NaN is left out (Spark orders it above
# every number, Arrow compares it false)
_qc_lits = {"i": st.integers(-2, 2),
            "f": st.sampled_from([-1.5, 0.0, 0.5, 2.0]),
            "s": st.sampled_from(["", "a", "ab", "b"])}
_qc_col = st.sampled_from(sorted(_qc_lits))
_qc_ops = st.sampled_from(["==", "!=", "<", "<=", ">", ">="])


@st.composite
def _qc_leaf(draw):
    c = draw(_qc_col)
    lit = _qc_lits[c]
    form = draw(st.sampled_from(["cmp", "rcmp", "chain", "in", "null"]))
    if form == "cmp":
        return f"{c} {draw(_qc_ops)} {draw(lit)!r}"
    if form == "rcmp":
        return f"{draw(lit)!r} {draw(_qc_ops)} {c}"
    if form == "chain":
        lo, hi = sorted([draw(lit), draw(lit)])
        return (f"{lo!r} {draw(st.sampled_from(['<', '<=']))} {c} "
                f"{draw(st.sampled_from(['<', '<=']))} {hi!r}")
    if form == "in":
        op = draw(st.sampled_from(["in", "not in"]))
        return f"{c} {op} {draw(st.lists(lit, min_size=1, max_size=3))!r}"
    return f"{c} {draw(st.sampled_from(['==', '!=']))} None"


_qc_cond = st.recursive(_qc_leaf(), lambda sub: st.one_of(
    st.tuples(sub, st.sampled_from(["and", "or"]), sub).map(
        lambda t: f"({t[0]}) {t[1]} ({t[2]})"),
    sub.map(lambda c: f"not ({c})")), max_leaves=4)


@given(rows=st.lists(st.tuples(*(st.none() | lit for lit in
                                 _qc_lits.values())),
                     min_size=1, max_size=12),
       conds=st.lists(_qc_cond, min_size=1, max_size=5))
@settings(**_SETTINGS)
def test_query_condition_backends_select_same_rows(spark, rows, conds):
    """The Spark Column and the Arrow Expression compiled from one
    QueryCondition select the same rows of any nullable table: null
    cells are false at every comparison leaf on both backends, so
    ``not``, ``!=`` and ``not in`` match them alike."""
    import numpy as np
    import pyarrow as pa

    from tiledb_py_spark.functions.query_condition import QueryCondition

    schema = "rid long, i long, f double, s string"
    data = [(rid, *r) for rid, r in enumerate(rows)]
    sdf = spark.createDataFrame(data, schema)
    tbl = pa.table({"rid": [d[0] for d in data], "i": [d[1] for d in data],
                    "f": [d[2] for d in data], "s": [d[3] for d in data]},
                   schema=pa.schema([("rid", pa.int64()), ("i", pa.int64()),
                                     ("f", pa.float64()),
                                     ("s", pa.string())]))
    ctx = dict(columns={"rid", *_qc_lits},
               dtypes={"i": np.dtype("int64"), "f": np.dtype("float64"),
                       "s": np.dtype("<U0")})
    qcs = [QueryCondition(c) for c in conds]
    # one Spark job per example: each condition as a boolean column
    got = sdf.select("rid", *[q.to_column(**ctx).alias(f"c{j}")
                              for j, q in enumerate(qcs)]).collect()
    for j, q in enumerate(qcs):
        spark_rids = sorted(r.rid for r in got if r[f"c{j}"])
        arrow_rids = sorted(tbl.filter(q.to_arrow(**ctx))["rid"].to_pylist())
        assert arrow_rids == spark_rids, (conds[j], rows)
