"""Round-14 optimization pins: internals changed for performance must
stay bit-equal to their reference formulations."""

import pytest

def test_kneser_ney_pattern_rework_matches_reference(spark):  # noqa: F811
    """The r14 pattern-keyed KN restructure must reproduce the direct
    postings-level formulation (hand-replayed here for a small corpus
    at full double precision, before any rounding)."""
    import math
    from collections import Counter

    from tiledb_py_spark.operators.text import kneser_ney_logprob

    texts = {1: "a b a c", 2: "b a", 3: "c", 4: "a b b a c a"}
    rows = [(i, t) for i, t in texts.items()]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in
           kneser_ney_logprob(df, "text", "doc_id").collect()}

    # reference replay on raw tokens (hash is injective on this vocab)
    D = 0.75
    bigrams = Counter()
    toks_by_doc = {i: t.split() for i, t in texts.items()}
    for toks in toks_by_doc.values():
        for a, b in zip(toks, toks[1:]):
            bigrams[(a, b)] += 1
    ctot = Counter(); n1f = Counter(); n1b = Counter()
    for (a, b), c in bigrams.items():
        ctot[a] += c; n1f[a] += 1; n1b[b] += 1
    B = len(bigrams)
    V = len({w for toks in toks_by_doc.values() for w in toks})

    def pcont(wrd):
        return (n1b.get(wrd, 0) + 1) / (B + V)

    for i, toks in toks_by_doc.items():
        lp = 0.0
        for j, wrd in enumerate(toks):
            if j == 0:
                p = pcont(wrd)
            else:
                v = toks[j - 1]
                p = (max(bigrams[(v, wrd)] - D, 0.0) / ctot[v]
                     + (D * n1f[v] / ctot[v]) * pcont(wrd))
            lp += math.log(p)
        assert out[i].n_tokens == len(toks)
        assert out[i].log_prob == pytest.approx(lp, rel=1e-12)


def test_rep_stats_kernel_matches_string_form():
    """The r14 prefix-sum/tuple-key rework of ``_rep_stats_py`` must
    reproduce the original joined-string formulation exactly — every
    count and char size is the same integer, so each emitted float is
    bit-identical.  Brute-force reference replayed here; no Spark
    needed (the reference-model tests of ``repetition_stats`` cover the
    UDF plumbing separately)."""
    import re
    from collections import Counter

    from tiledb_py_spark.operators.text import _rep_stats_py

    def reference(t, line_sep, top_ns, dup_ns):
        out = {}
        if t is None:
            t = ""
        toks = [w for w in re.split(r"\s+", t, flags=re.ASCII) if w]
        chars = max(sum(len(x) for x in toks), 1)
        lines = [x for x in t.split(line_sep) if x.strip(" ")]
        dlines = set(lines)
        lchars = max(sum(len(l) for l in lines), 1)
        out["r_n_lines"] = len(lines)
        out["r_dup_line_frac"] = \
            (len(lines) - len(dlines)) / max(len(lines), 1)
        out["r_dup_line_char_frac"] = \
            (sum(len(l) for l in lines)
             - sum(len(l) for l in dlines)) / lchars
        for n in top_ns:
            grams = Counter(" ".join(toks[i:i + n])
                            for i in range(len(toks) - n + 1))
            best = max((c * (len(g) - (n - 1))
                        for g, c in grams.items()), default=0)
            out[f"r_top{n}gram_char_frac"] = min(best / chars, 1.0)
        for n in dup_ns:
            grams = [" ".join(toks[i:i + n])
                     for i in range(len(toks) - n + 1)]
            cnt = Counter(grams)
            starts = [i for i, g in enumerate(grams) if cnt[g] >= 2]
            covered, last = 0, -1
            for p in starts:
                lo, hi = max(p, last + 1), p + n - 1
                covered += sum(len(toks[j]) for j in range(lo, hi + 1))
                last = hi
            out[f"r_dup{n}gram_distinct"] = \
                sum(1 for c in cnt.values() if c >= 2)
            out[f"r_dup{n}gram_positions"] = len(starts)
            out[f"r_dup{n}gram_char_frac"] = covered / chars
        return out

    docs = [
        None, "", "   ", "a", "x y z w",
        "a a a a a a a a a a a a a a",                  # degenerate runs
        "bb ccc bb ccc bb ccc dd",                      # interleaved dups
        "one two three one two three one two three",    # 3-gram repeats
        "line\nline\nline\nother",                      # dup lines
        "tab\tline\n\tonly\n\n",                        # tab-only line
        "p q r s t u v w x y z p q r s t u v w x y z",  # long dup span
        ("tok " * 300).strip(),                         # all-identical long
        " nbsp stays intact",                      # ASCII-only \s+
        "v\x0bw",                                       # vertical tab
    ]
    for t in docs:
        for top_ns, dup_ns in (((2, 3), (5, 10)), ((2,), (3,)), ((1,), (2,))):
            got = _rep_stats_py(t, "\n", top_ns, dup_ns)
            want = reference(t, "\n", top_ns, dup_ns)
            assert got == want, (t, got, want)
