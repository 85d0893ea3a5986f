"""Text analysis operators for LLM training-data pipelines: language ID,
quality/repetition/OOV/compression signals, token counting, C4 line
cleaning, within-document repeated-span removal, unigram/bigram
surprisal, interpolated Kneser-Ney bigram + trigram perplexity,
perplexity
buckets, fingerprints.

Default path is pure ``pyspark.sql.functions`` (whole-stage codegen);
where an Arrow-batched pandas UDF measured decisively faster it is the
one implementation (``repetition_stats``), and two signals are
Python-only by nature (``compression_ratio_udf`` — zlib; a model-based
language classifier would slot in the same way behind the
``language_id`` column contract).
The built-in language-ID heuristic uses stopword-hit ratios against
small word lists broadcast as literals — the classic n-gram/stopword
approach, good enough for corpus bucketing.
"""

from __future__ import annotations

from typing import Optional, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ._mat import materialize

# tiny built-in stopword lists (top function words per language)
_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for",
           "with", "as", "his", "on", "be", "at", "by", "had", "not", "are"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "mit", "ein", "von",
           "den", "im", "für", "auf", "des", "sich", "dem", "als", "auch"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "du", "que",
           "pas", "pour", "dans", "qui", "sur", "avec", "au", "par"],
    "es": ["el", "la", "de", "que", "y", "los", "en", "un", "las", "del",
           "se", "por", "con", "una", "para", "es", "al", "lo"],
    "it": ["il", "di", "che", "la", "e", "un", "per", "non", "una", "del",
           "con", "si", "da", "come", "le", "nel", "alla"],
}


def _tokens_lower(col: Column) -> Column:
    c = F.lower(col)
    c = F.regexp_replace(c, r"[^\w\s]", " ")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    # empty / punctuation-only text is ZERO tokens — a bare split would
    # yield [''], one phantom token that surfaces as a TF-IDF "term"
    # and counts such docs as length-1 in corpus stats (same rule as
    # whitespace_tokens below).  array_remove, not when(length==0):
    # the when/otherwise form evaluates the regexp chain TWICE per row
    # (no CSE across branches), a real cost in the ppl/quality hot
    # paths; after \s+ normalization '' can only be the lone phantom,
    # so removing it is exactly the zero-token rule
    return F.array_remove(F.split(c, " "), "")


def whitespace_tokens(col: str | Column) -> Column:
    """Canonical whitespace token array: maximal non-whitespace runs;
    empty/whitespace-only text is ZERO tokens.  One split + one
    array_remove — the old trim()+split form still emitted phantom
    ``''`` tokens whenever the text started/ended with NON-SPACE
    whitespace (``trim`` strips only 0x20; ``split``'s limit=-1 keeps
    edge empties), so ``'hello world\\n'`` counted 3 tokens.  The
    single source of the rule shared by ``whitespace_token_count`` and
    ``pipeline.chunk_documents``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(c, r"\s+"), "")


def whitespace_token_count(col: str | Column) -> Column:
    """Whitespace token count."""
    return F.size(whitespace_tokens(col))


def bpe_ish_token_count(col: str | Column) -> Column:
    """BPE-ish subword count: word chunks + digits + punctuation marks each
    count as tokens, long words count extra per 4 chars (a deterministic
    regex approximation of byte-pair tokenizers)."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.regexp_count(c, F.lit(r"\w+|[^\w\s]"))
    # long words contribute ~len/4 extra subword tokens
    extra = F.aggregate(
        F.filter(F.split(c, r"\s+"), lambda w: F.length(w) > 4),
        F.lit(0),
        lambda acc, w: acc + F.floor((F.length(w) - 1) / F.lit(4)).cast("int"),
    )
    return (pieces + extra).cast("long")


def language_id(col: str | Column, tokens_col: Optional[Column] = None) -> Column:
    """Best-scoring language by stopword hit ratio; 'und' when nothing hits.

    The expression references its token array ~11 times (a hit count per
    language plus the total); pass ``tokens_col`` pointing at a STAGED
    token-array column (see ``language_id_df``) so the tokenizer runs
    once per row instead of once per reference."""
    toks = tokens_col if tokens_col is not None else \
        _tokens_lower(F.col(col) if isinstance(col, str) else col)
    n = F.greatest(F.size(toks), F.lit(1))
    best_lang, best_score = F.lit("und"), F.lit(0.0)
    for lang, words in _STOPWORDS.items():
        wl = F.array(*[F.lit(w) for w in words])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(wl, t)))
        score = hits.cast("double") / n
        cond = score > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, score).otherwise(best_score)
    return best_lang


def language_id_df(df: DataFrame, text_col: str,
                   out_col: str = "lang_pred") -> DataFrame:
    """DataFrame-level language ID with the token array staged once."""
    return (df.withColumn("__lid_toks", _tokens_lower(F.col(text_col)))
              .withColumn(out_col,
                          language_id(text_col, tokens_col=F.col("__lid_toks")))
              .drop("__lid_toks"))


def quality_features(df: DataFrame, text_col: str) -> DataFrame:
    """Append standard quality-signal columns (Gopher/C4-style filters):
    length, token count, mean word length, punctuation ratio, stopword
    ratio, digit ratio, uppercase ratio, repetition ratio.

    The token array is STAGED in its own projection before the feature
    columns: five of them reference it, and an inline expression gets
    re-inlined per use by CollapseProject — the regex tokenizer then
    runs ~5x per row (measured ~30% total slowdown at sf1)."""
    # NULL text scores as an EMPTY document (0 tokens, 0 ratios) like
    # repetition_stats/clean_lines do — NULL feature values would make
    # every downstream quality predicate silently drop such rows while
    # the sibling signal families kept them (inconsistent corpus sets)
    c = F.coalesce(F.col(text_col), F.lit(""))
    df = df.withColumn("__q_toks", _tokens_lower(c))
    toks = F.col("__q_toks")
    n_tok = F.greatest(F.size(toks), F.lit(1))
    en = F.array(*[F.lit(w) for w in _STOPWORDS["en"]])
    n_chars = F.length(c)
    safe_chars = F.greatest(n_chars, F.lit(1))
    return (df
            .withColumn("q_n_chars", n_chars.cast("long"))
            .withColumn("q_n_tokens", F.size(toks).cast("long"))
            .withColumn("q_mean_word_len",
                        F.aggregate(toks, F.lit(0), lambda a, w: a + F.length(w))
                        .cast("double") / n_tok)
            .withColumn("q_punct_ratio",
                        F.regexp_count(c, F.lit(r"[^\w\s]")).cast("double") / safe_chars)
            .withColumn("q_stopword_ratio",
                        F.size(F.filter(toks, lambda t: F.array_contains(en, t)))
                        .cast("double") / n_tok)
            .withColumn("q_digit_ratio",
                        F.regexp_count(c, F.lit(r"[0-9]")).cast("double") / safe_chars)
            .withColumn("q_upper_ratio",
                        F.regexp_count(c, F.lit(r"[A-Z]")).cast("double") / safe_chars)
            .withColumn("q_dup_token_ratio",
                        (F.lit(1.0) - F.size(F.array_distinct(toks)).cast("double") / n_tok))
            .drop("__q_toks"))


def quality_score(df: DataFrame, text_col: str) -> DataFrame:
    """Scalar [0,1] quality score from the feature columns (simple
    interpretable linear gate, matching common heuristic filters)."""
    feat = quality_features(df, text_col)
    score = (
        F.lit(1.0)
        * F.when(F.col("q_n_tokens").between(5, 100000), 1.0).otherwise(0.2)
        * F.when(F.col("q_mean_word_len").between(2.0, 12.0), 1.0).otherwise(0.5)
        * F.when(F.col("q_punct_ratio") < 0.2, 1.0).otherwise(0.5)
        * F.when(F.col("q_dup_token_ratio") < 0.5, 1.0).otherwise(0.3)
        * (F.lit(0.5) + F.least(F.col("q_stopword_ratio") * 2, F.lit(0.5)))
    )
    return feat.withColumn("quality", F.round(score, 6))


def unigram_surprisal(df: DataFrame, text_col: str, id_col: str,
                      tokens_col: Optional[Column] = None) -> DataFrame:
    """Perplexity-proxy quality score from corpus statistics: mean
    per-token surprisal ``-ln(count(token)/total_tokens)`` under the
    corpus's own unigram distribution — the cheap stand-in for a KenLM
    quality filter (high surprisal = tokens rare in this corpus:
    gibberish, boilerplate-free noise; low = common fluent text).

    Two aggregation passes over the exploded (id, token) postings — a
    token-frequency table (hash shuffle on the token), then a join back
    and a per-doc mean (shuffle on the id).  Postings carry only an
    8-byte token HASH plus the id — the raw string never shuffles, and
    the stopword-skewed string join key becomes a uniform hash (same
    convention as the dedup module; a 64-bit collision merging two
    vocabulary entries is negligible at any realistic vocabulary size).
    The frequency table is vocabulary-sized.  Docs with no tokens are
    dropped (no distribution to score against)."""
    toks = tokens_col if tokens_col is not None else _tokens_lower(F.col(text_col))
    g = (df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
           .select("__id", F.explode("__toks").alias("__tok"))
           .select("__id", F.xxhash64("__tok").alias("__tok")))
    # materialized (operators/_mat.py — salted per-build persist): the
    # grand-total branch and the join-back otherwise each re-derive the
    # corpus explode (vocabulary-sized table, recomputed fresh per
    # execution)
    freq = materialize(g.groupBy("__tok").agg(F.count("*").alias("__cnt")))
    total = freq.agg(F.sum("__cnt").alias("__total"))
    return (g.join(freq, on="__tok")
             .crossJoin(F.broadcast(total))
             .groupBy("__id")
             .agg(F.avg(-F.log(F.col("__cnt") / F.col("__total")))
                  .alias("surprisal"),
                  F.count("*").cast("long").alias("n_tokens"))
             .withColumnRenamed("__id", id_col))


def _rep_stats_py(t, line_sep: str, top_ns, dup_ns) -> dict:
    """Per-document repetition signals, plain Python — the kernel
    ``repetition_stats`` runs in its Arrow-batched UDF."""
    from collections import Counter

    out: dict = {}
    if t is None:
        t = ""  # NULL text scores as an empty document
    # tokens split on ASCII whitespace only, like Spark's Java-regex
    # \s in ``whitespace_tokens`` (NBSP and U+2028 stay inside a token;
    # str.split() would break on them), and a line is empty only when
    # nothing but spaces (0x20) remain, like Spark's ``trim`` (a
    # tab-only line counts; str.strip() would drop it)
    import re as _re

    toks = [w for w in _re.split(r"\s+", t, flags=_re.ASCII) if w]
    # prefix sums of token lengths: a gram over tokens [i, i+n) has
    # token-char size pref[i+n] - pref[i], which equals
    # len(" ".join(toks[i:i+n])) - (n-1) — the joined-string form this
    # kernel used before r14.  Tokens contain no whitespace, so tuple
    # identity over token windows equals joined-string identity; every
    # count and size below is the same INTEGER as the string form and
    # the final divisions are bit-identical (r14 optimization: no
    # per-gram string building, no per-interval char loops — 0.67x the
    # kernel CPU on the sf0.1 corpus, identity pytest-pinned).
    pref = [0]
    acc = 0
    for w in toks:
        acc += len(w)
        pref.append(acc)
    chars = max(acc, 1)
    # line pieces stay UNTRIMMED (as in the SQL oracle); only the
    # emptiness test trims
    lines = [x for x in t.split(line_sep) if x.strip(" ")]
    n_lines = len(lines)
    dlines = set(lines)
    lchars = max(sum(len(l) for l in lines), 1)
    out["r_n_lines"] = n_lines
    out["r_dup_line_frac"] = (n_lines - len(dlines)) / max(n_lines, 1)
    out["r_dup_line_char_frac"] = \
        (sum(len(l) for l in lines) - sum(len(l) for l in dlines)) / lchars
    for n in top_ns:
        grams = list(zip(*(toks[i:] for i in range(n))))
        cnt = Counter(grams)
        best = max((cnt[g] * (pref[i + n] - pref[i])
                    for i, g in enumerate(grams)), default=0)
        out[f"r_top{n}gram_char_frac"] = min(best / chars, 1.0)
    for n in dup_ns:
        grams = list(zip(*(toks[i:] for i in range(n))))
        cnt = Counter(grams)
        starts = [i for i, g in enumerate(grams) if cnt[g] >= 2]
        covered = 0
        last = -1          # last covered 0-based token index
        for p in starts:   # ascending; intervals [p, p+n-1] merge in order
            lo = max(p, last + 1)
            hi = p + n - 1
            covered += pref[hi + 1] - pref[lo]
            last = hi
        out[f"r_dup{n}gram_distinct"] = sum(
            1 for c in cnt.values() if c >= 2)
        out[f"r_dup{n}gram_positions"] = len(starts)
        out[f"r_dup{n}gram_char_frac"] = covered / chars
    return out


def repetition_stats(df: DataFrame, text_col: str,
                     line_sep: str = "\n",
                     top_ns: Sequence[int] = (2, 3),
                     dup_ns: Sequence[int] = (5, 10)) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): the
    document-level repetitiousness signals used to drop boilerplate and
    degenerate text from web corpora.

    All signals come from one Arrow-batched pandas UDF over
    ``_rep_stats_py`` — a tiny constant-size plan, ~4x faster cold (no
    Janino compile of big lambda trees) and ~3x warm at sf0.1 than the
    Catalyst array-expression form it replaced.  Row-local: zero
    shuffles, the operator rides the scan stage.

    Appends, per document:

    - ``r_n_lines`` — non-empty lines (split on the literal
      ``line_sep``; a line of only spaces is empty)
    - ``r_dup_line_frac`` — fraction of lines that are repeats of an
      earlier line: ``(n_lines - n_distinct_lines) / n_lines``
    - ``r_dup_line_char_frac`` — fraction of line characters inside
      those repeats (each distinct line's chars counted once)
    - ``r_top{n}gram_char_frac`` for n in ``top_ns`` — fraction of token
      characters covered by the single most-covering n-gram:
      ``max over grams of count(gram) * gram_token_chars / doc_token_chars``
      clamped to 1.0 (overlapping occurrences of a degenerate gram can
      nominally cover a char twice; ties collapse — the fraction, not
      the gram, is the statistic)
    - ``r_dup{n}gram_char_frac`` for n in ``dup_ns`` — fraction of token
      characters lying inside ANY n-gram that occurs >= 2 times within
      the document, with overlapping duplicate grams counted once per
      token (positional mask, the paper's no-double-count accounting)

    Also emitted per dup-n: ``r_dup{n}gram_distinct`` (distinct grams
    occurring >= 2x) and ``r_dup{n}gram_positions`` (gram start
    positions belonging to those grams).

    Tokens are maximal runs of non-ASCII-whitespace characters.  Char
    accounting is whitespace-normalized: a document's size is the sum
    of its token lengths (separators excluded), a gram's size the sum
    of its n tokens' lengths.  Documents shorter than n tokens score 0
    for that n; empty and NULL documents score 0 everywhere."""
    from pyspark.sql.functions import pandas_udf

    from ._par import spread_for_python

    top_ns, dup_ns = tuple(top_ns), tuple(dup_ns)
    fields = (["r_n_lines: long", "r_dup_line_frac: double",
               "r_dup_line_char_frac: double"]
              + [f"r_top{n}gram_char_frac: double" for n in top_ns]
              + sum([[f"r_dup{n}gram_distinct: long",
                      f"r_dup{n}gram_positions: long",
                      f"r_dup{n}gram_char_frac: double"] for n in dup_ns],
                    []))
    schema = "struct<" + ", ".join(fields) + ">"
    names = [f.split(":")[0] for f in fields]

    @pandas_udf(schema)
    def stats(texts: pd.Series) -> pd.DataFrame:
        rows = [_rep_stats_py(t, line_sep, top_ns, dup_ns) for t in texts]
        return pd.DataFrame(rows, columns=names)

    out = spread_for_python(df).withColumn("__r", stats(F.col(text_col)))
    return (out.withColumns({name: F.col("__r")[name] for name in names})
               .drop("__r"))


def clean_lines(df: DataFrame, text_col: str,
                line_sep: str = "\n",
                min_words: int = 3,
                line_blocklist: Sequence[str] = ("javascript",
                                                 "cookie policy",
                                                 "terms of use"),
                require_terminal_punct: bool = False,
                doc_blocklist: Sequence[str] = ("lorem ipsum",),
                block_curly: bool = True) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2): drop
    noisy lines from each document, flag documents that should be
    dropped wholesale.

    A line survives iff (on its TRIMMED form): it has at least
    ``min_words`` whitespace words, its lowercase form contains no
    ``line_blocklist`` phrase, and (when ``require_terminal_punct``) it
    ends in ``. ! ?`` or a closing quote.  ``clean_text`` re-joins the
    surviving trimmed lines with ``line_sep``.  ``doc_blocked`` marks
    documents whose lowercase text contains a ``doc_blocklist`` phrase
    or (``block_curly``) a curly brace — C4 drops these entirely; the
    operator only flags so callers choose filter vs audit.

    All row-local array expressions — zero shuffles.  NULL text passes
    through as NULL ``clean_text`` with zero counts (matching
    ``dedup.remove_repeated_lines``)."""
    import re as _re

    c = F.col(text_col)
    lines = F.transform(F.split(c, _re.escape(line_sep), -1),
                        lambda l: F.trim(l))
    lines = F.filter(lines, lambda l: F.length(l) > 0)
    was_null = c.isNull()
    lines = F.coalesce(lines, F.array().cast("array<string>"))

    def keep(l: Column) -> Column:
        k = F.size(whitespace_tokens(l)) >= min_words
        low = F.lower(l)
        for phrase in line_blocklist:
            k = k & ~low.contains(phrase.lower())
        if require_terminal_punct:
            k = k & l.rlike(r"""[.!?"']$""")
        return k

    kept = F.filter(lines, keep)
    low_doc = F.lower(c)
    blocked = F.lit(False)
    for phrase in doc_blocklist:
        blocked = blocked | low_doc.contains(phrase.lower())
    if block_curly:
        blocked = blocked | low_doc.contains("{")
    return (df
            .withColumn("clean_text",
                        F.when(was_null, F.lit(None).cast("string"))
                         .otherwise(F.array_join(kept, line_sep)))
            .withColumn("n_lines_kept", F.size(kept).cast("long"))
            .withColumn("n_lines_dropped",
                        (F.size(lines) - F.size(kept)).cast("long"))
            .withColumn("doc_blocked", F.coalesce(blocked, F.lit(False))))


def ngram_surprisal(df: DataFrame, text_col: str, id_col: str,
                    n: int = 2,
                    tokens_col: Optional[Column] = None) -> DataFrame:
    """Conditional n-gram surprisal (the KenLM-proxy upgrade of
    ``unigram_surprisal``): per document, the mean of
    ``-ln( C(w_{i-n+1..i}) / C(w_{i-n+1..i-1}) )`` under the corpus's
    own MLE n-gram model — every observed n-gram's prefix count is
    positive by construction, so the estimate needs no smoothing.
    Low = text made of corpus-typical continuations; high = unusual
    transitions (gibberish, shuffled text that unigram stats cannot
    see).

    Scale shape: each posting carries the id plus TWO 8-byte hashes —
    ``xxhash64`` of the n-token and (n-1)-token ARRAY slices directly,
    so no join delimiter exists to collide with token content (a
    ``\\x1f``-joined string would conflate grams when a crawled token
    itself contains 0x1F, which ``\\s`` tokenizers do not strip).  The
    postings evaluate twice: once into the vocabulary-sized
    (gram, prefix) count table — an n-gram determines its prefix, so
    ONE aggregation yields both counts (prefix totals roll up from it)
    — and once as the join-back stream for the per-doc mean; the same
    two-pass shape as ``unigram_surprisal``.  Raw text never shuffles.
    Docs shorter than n tokens are dropped."""
    if n < 2:
        raise ValueError("use unigram_surprisal for n=1")
    toks = (tokens_col if tokens_col is not None
            else _tokens_lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
    pos = F.when(F.size("__toks") >= n,
                 F.sequence(F.lit(1), F.size("__toks") - (n - 1))
                 ).otherwise(F.array().cast("array<int>"))
    g = (base.select("__id", "__toks", F.explode(pos).alias("__i"))
             .select("__id",
                     F.xxhash64(F.slice("__toks", F.col("__i"), n))
                     .alias("__g"),
                     F.xxhash64(F.slice("__toks", F.col("__i"), n - 1))
                     .alias("__p")))
    # materialized (operators/_mat.py — salted per-build persist): the
    # prefix-total branch and the ratio join prune different columns, so
    # without it each consumer re-derived the corpus-sized postings; the
    # pattern table is distinct-n-gram-sized
    pc = materialize(g.groupBy("__g", "__p").agg(F.count("*").alias("__c2")))
    c1 = pc.groupBy("__p").agg(F.sum("__c2").alias("__c1"))
    ratio = pc.join(c1, on="__p").select("__g", "__c2", "__c1")
    return (g.join(ratio, on="__g")
             .groupBy("__id")
             .agg(F.avg(-F.log(F.col("__c2") / F.col("__c1")))
                  .alias("surprisal"),
                  F.count("*").cast("long").alias("n_grams"))
             .withColumnRenamed("__id", id_col))


def perplexity_buckets(df: DataFrame, text_col: str, id_col: str,
                       n_buckets: int = 3,
                       tokens_col: Optional[Column] = None,
                       score: str = "unigram") -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document (``score="unigram"``: the corpus-unigram surprisal
    proxy; ``"kn"``: interpolated Kneser-Ney bigram perplexity — the
    closer analog of CCNet's actual KenLM scorer) and assign it to one
    of ``n_buckets`` equal-population quality tiers — bucket 0 =
    lowest score ("head", most fluent), last = highest ("tail").
    CCNet keeps head+middle and drops or downweights the tail.

    Bucket = ``floor(percent_rank * n) clamped to n-1`` over the
    score ordering ROUNDED to 6 decimals (ties broken by id) —
    deterministic and SQL-replayable, unlike an approxQuantile cut,
    and the rounding keeps a last-ulp ln() difference between engines
    from flipping ranks at a bucket boundary.  The percent_rank window
    is ungrouped: it globally sorts only the (id, score) pairs —
    16 bytes/doc, the same cost class as the deterministic global
    shuffle — not the documents."""
    if score == "unigram":
        s = unigram_surprisal(df, text_col, id_col, tokens_col=tokens_col)
        key = F.col("surprisal")
    elif score == "kn":
        s = kneser_ney_logprob(df, text_col, id_col,
                               tokens_col=tokens_col)
        key = F.col("ppl")
    else:
        raise ValueError(f"unknown score {score!r}")
    from pyspark.sql import Window

    w = Window.orderBy(F.round(key, 6), F.col(id_col))
    pr = F.percent_rank().over(w)
    bucket = F.least(F.floor(pr * n_buckets).cast("int"),
                     F.lit(n_buckets - 1))
    return s.withColumn("ppl_bucket", bucket.cast("long"))


def oov_rate(df: DataFrame, text_col: str, id_col: str,
             vocab: DataFrame, vocab_col: str = "word",
             tokens_col: Optional[Column] = None) -> DataFrame:
    """Out-of-vocabulary rate per document against a reference
    vocabulary table — the domain-filtering signal ("how much of this
    doc is covered by the target domain's vocabulary"): returns
    ``(id_col, n_tokens, n_oov, oov_rate)``.  Matching is
    case-insensitive (both sides lowered before hashing).  Docs with
    zero tokens are dropped.

    Scale shape: one postings pass (id, 8-byte token hash) checked
    against the BROADCAST hashed vocabulary via a left join + member
    marker (an anti join could not produce the per-doc totals;
    vocabularies are ~1M rows for any corpus — never a corpus
    shuffle), then one (id)-keyed aggregation."""
    toks = (tokens_col if tokens_col is not None
            else _tokens_lower(F.col(text_col)))
    g = (df.select(F.col(id_col).alias("__id"), F.explode(toks).alias("__t"))
           # a bare split yields a phantom '' token on empty text —
           # dropping empties here keeps the "zero-token docs are
           # dropped" contract for ANY tokenizer
           .filter(F.col("__t") != "")
           .select("__id", F.xxhash64(F.lower("__t")).alias("__h")))
    v = (vocab.select(F.xxhash64(F.lower(F.col(vocab_col))).alias("__h"))
              .distinct()
              .withColumn("__in", F.lit(1)))
    return (g.join(F.broadcast(v), on="__h", how="left")
             .groupBy("__id")
             .agg(F.count("*").cast("long").alias("n_tokens"),
                  F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0))
                  .cast("long").alias("n_oov"))
             .withColumn("oov_rate",
                         F.col("n_oov") / F.col("n_tokens"))
             .withColumnRenamed("__id", id_col))


def compression_ratio_udf(level: int = 6):
    """Arrow-batched zlib compression ratio ``compressed/raw`` — the
    cheap "how repetitive is this document really" signal quality
    pipelines use alongside the n-gram stats (boilerplate and
    degenerate text compress far below ~0.4; high-entropy gibberish
    sits near 1.0).  NULL/empty text -> NULL.  Pure per-row Python on
    Arrow batches; no oracle gate (DuckDB has no zlib) — pytest holds
    it to python's zlib directly."""
    import zlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def ratio(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if not t:
                out.append(None)
                continue
            raw = t.encode("utf-8")
            out.append(len(zlib.compress(raw, level)) / len(raw))
        return pd.Series(out, dtype="float64")

    return ratio


def fingerprint(col: str | Column) -> Column:
    """64-bit document fingerprint: xxhash64 over the normalized text —
    stable under whitespace/punctuation/case variation (rolling-hash
    style canonicalization)."""
    from .dedup import normalized_text

    # the SHARED normalization: incremental_exact_dedup keys state on
    # this fingerprint while batch exact_dedup(normalize=True) keys on
    # dedup.normalized_text — an inline copy here would silently
    # desynchronize the two dedup paths if either chain ever changed
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(normalized_text(c))


def remove_self_repeated_spans(df: DataFrame, text_col: str,
                               n: int = 8,
                               out_col: str = "clean_text") -> DataFrame:
    """WITHIN-document repeated-span removal — the row-local complement
    of ``dedup.remove_repeated_spans`` (which removes spans repeated
    ACROSS documents): every token covered by an n-gram whose identical
    n-gram occurred EARLIER in the same document is removed; the first
    occurrence survives.  This is the "trim the chorus" cleanup for
    template/boilerplate self-repetition that Gopher's repetition
    FRACTIONS (``repetition_stats``) measure but do not repair.

    Tokenization is exact whitespace (no lowercasing — self-repetition
    is a literal phenomenon); documents shorter than ``n`` tokens pass
    through unchanged.  Adds ``out_col`` and ``n_removed`` (tokens).

    Scale shape: one Arrow-batched pass, all state per row
    (first-occurrence map over the document's own grams); the same
    per-row-compute policy as ``repetition_stats``'s arrow path.  No
    shuffle when the input is already parallel; a low-partition scan
    gets one round-robin repartition first (see below).
    The per-document kernel is HYBRID (round 9, both sides measured):
    short documents keep the per-token tuple loop (dict of 43 gram
    tuples beats numpy setup overhead ~5x at ~50 tokens), long ones
    switch to vectorized numpy — token ids via ``np.unique`` (EXACT, no
    hashing/collisions), n-gram rows deduped as structured records,
    repeated-gram spans painted with a delta-array cumsum (the planted
    5M-token skew document: ~1 s vs 10+ s for the tuple loop).  The
    stage also guards its own parallelism (``_par.spread_for_python``):
    a single small parquet file is ONE scan task, which serialized this
    operator onto one of 32 cores in every pre-r9 scale artifact."""
    import numpy as np
    from numpy.lib.stride_tricks import sliding_window_view
    from pyspark.sql.functions import pandas_udf

    from ._par import spread_for_python

    @pandas_udf("struct<clean_text: string, n_removed: long>")
    def fn(texts: pd.Series) -> pd.DataFrame:
        outs, removed = [], []
        for t in texts:
            if t is None:
                outs.append(None)
                removed.append(None)
                continue
            toks = t.split()
            T = len(toks)
            if T < n:
                outs.append(" ".join(toks))
                removed.append(0)
                continue
            if T <= 4096:
                first: dict = {}
                mask_l = [False] * T
                for i in range(T - n + 1):
                    g = tuple(toks[i:i + n])
                    f = first.get(g)
                    if f is None:
                        first[g] = i
                    else:
                        for j in range(i, i + n):
                            mask_l[j] = True
                nrm = sum(mask_l)
                outs.append(" ".join(
                    tok for tok, m in zip(toks, mask_l) if not m)
                    if nrm else " ".join(toks))
                removed.append(nrm)
                continue
            arr = np.array(toks)
            codes = np.unique(arr, return_inverse=True)[1] \
                .astype(np.int32, copy=False)
            W = np.ascontiguousarray(sliding_window_view(codes, n))
            rows = W.view([("", W.dtype)] * n).ravel()
            _, inv = np.unique(rows, return_inverse=True)
            idx = np.arange(len(inv), dtype=np.int64)
            firsts = np.full(int(inv.max()) + 1, np.iinfo(np.int64).max,
                             dtype=np.int64)
            np.minimum.at(firsts, inv, idx)
            rep = idx[firsts[inv] < idx]      # later occurrences' starts
            delta = np.zeros(T + 1, dtype=np.int32)
            delta[rep] += 1                   # rep indices are unique
            delta[rep + n] -= 1
            mask = np.cumsum(delta[:T]) > 0
            nrm = int(mask.sum())
            outs.append(" ".join(arr[~mask].tolist()) if nrm else
                        " ".join(toks))
            removed.append(nrm)
        return pd.DataFrame({"clean_text": outs, "n_removed": removed})

    df = spread_for_python(df)

    s = fn(F.col(text_col))
    return (df.withColumn("__srs", s)
              .withColumn(out_col, F.col("__srs.clean_text"))
              .withColumn("n_removed", F.col("__srs.n_removed"))
              .drop("__srs"))


def kneser_ney_logprob(df: DataFrame, text_col: str, id_col: str,
                       discount: float = 0.75, token_hash=None,
                       tokens_col: Optional[Column] = None,
                       broadcast_tables: bool = True) -> DataFrame:
    """Interpolated Kneser-Ney bigram log-probability / perplexity per
    document, self-scored on the corpus's own counts (Chen & Goodman
    1999 — the smoothing family behind the KenLM models CCNet filters
    with; ``ngram_surprisal`` is the unsmoothed MLE proxy, this is the
    real thing for bigrams):

        P(w | v) = max(c(v,w) - D, 0) / c(v.)
                   + (D * N1+(v.) / c(v.)) * P_cont(w)
        P_cont(w) = (N1+(.w) + 1) / (B + V)

    where ``N1+`` counts DISTINCT bigram types, ``B`` is the total
    distinct-bigram count and ``V`` the vocabulary size (the +1/+V is
    add-one continuation smoothing, keeping P_cont positive for words
    only ever seen document-initial).  Each document's first token
    scores at ``P_cont`` (no BOS symbol).  Returns ``(id_col,
    n_tokens, log_prob, ppl)`` with ``ppl = exp(-log_prob /
    n_tokens)``.

    Scale shape (r14 rework — measured 2-3x at sf0.1, same win at
    scale): postings carry the id plus two 8-byte token hashes; ONE
    aggregation collapses them to the distinct (prev, w) PATTERN table
    (nulls kept for document-initial tokens), from which the bigram /
    context / continuation tables and the (B, V) scalars all roll up —
    every count branch re-executes only pattern-sized aggregates above
    one reused shuffle stage instead of re-deriving the corpus-sized
    postings per branch (the pre-r14 plan re-ran scan+explode 4x).
    The per-pattern log-probability is then attached back to the
    postings with a single null-safe equi join (every posting matches
    exactly one pattern row).  Raw text never shuffles.

    ``token_hash`` defaults to ``xxhash64``; pass ``dedup.md5_hash60``
    for the cross-engine-replayable keying the oracle uses.
    ``broadcast_tables=False`` drops the explicit broadcast hints on
    the context/continuation tables (vocabulary-sized — tens of MB for
    web corpora, but set False for multi-GB vocabularies and let AQE
    pick the join strategy; same policy as ``retrieval.tfidf``'s
    documented fallback)."""
    th = token_hash or F.xxhash64
    toks = (tokens_col if tokens_col is not None
            else _tokens_lower(F.col(text_col)))
    base = (df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
              .withColumn("__hs",
                          F.transform(F.col("__toks"), lambda t: th(t)))
              .filter(F.size("__hs") >= 1))
    pos = F.sequence(F.lit(1), F.size("__hs"))
    g = (base.select("__id", "__hs", F.explode(pos).alias("__i"))
             .select("__id",
                     F.when(F.col("__i") == 1, F.lit(None).cast("long"))
                      .otherwise(F.element_at("__hs", F.col("__i") - 1))
                      .alias("__hp"),
                     F.element_at("__hs", F.col("__i")).alias("__h")))
    # ONE pattern aggregation (nulls kept: document-initial tokens
    # group under __hp IS NULL); every count table below derives from
    # it.  MATERIALIZED (operators/_mat.py — salted per-build persist
    # into the columnar cache): the branch aggregates each prune/push
    # different columns and filters into the aggregate, so their
    # exchange subtrees canonicalize differently and NEITHER plan-time
    # ReuseExchange nor AQE stage reuse can dedup them — without the
    # materialization every branch re-derived the corpus-sized postings
    # (measured: the scan+explode ran per branch).  The pattern table
    # is distinct-bigram-sized — far smaller than the postings it
    # replaces, and it is recomputed fresh on every execution.
    gk = materialize(g.groupBy("__hp", "__h").agg(F.count("*").alias("__ck")))
    big = (gk.filter(F.col("__hp").isNotNull())
             .select("__hp", "__h", F.col("__ck").alias("__c2")))
    ctx = big.groupBy("__hp").agg(F.sum("__c2").alias("__ctot"),
                                  F.count("*").alias("__n1f"))
    cont = big.groupBy("__h").agg(F.count("*").alias("__n1b"))
    scal = (big.agg(F.count("*").alias("__B"))
               .crossJoin(gk.select("__h").distinct()
                            .agg(F.count("*").alias("__V"))))
    D = F.lit(float(discount))
    pcont = (F.coalesce(F.col("__n1b"), F.lit(0)) + F.lit(1))         / (F.col("__B") + F.col("__V"))
    prob = F.when(
        F.col("__hp").isNull(), pcont
    ).otherwise(
        F.greatest(F.col("__c2") - D, F.lit(0.0)) / F.col("__ctot")
        + (D * F.col("__n1f") / F.col("__ctot")) * pcont)
    bc = F.broadcast if broadcast_tables else (lambda x: x)
    # per-pattern log-probability: same expression over the same
    # per-row inputs as the old postings-level join, so every value is
    # bit-identical; only WHERE it is computed moved (pattern table vs
    # exploded postings)
    pat = (gk.withColumn("__c2", F.when(F.col("__hp").isNotNull(),
                                        F.col("__ck")))
             .join(bc(ctx), on="__hp", how="left")
             .join(bc(cont), on="__h", how="left")
             .crossJoin(F.broadcast(scal))
             .select(F.col("__hp").alias("__pp"), F.col("__h").alias("__ph"),
                     F.log(prob).alias("__lp")))
    # every posting matches exactly one pattern row (patterns ARE the
    # distinct posting tuples), so the null-safe inner join preserves
    # the row count
    scored = (g.join(pat, on=[g["__hp"].eqNullSafe(pat["__pp"]),
                              g["__h"] == pat["__ph"]], how="inner")
               .select("__id", "__lp"))
    return (scored.groupBy("__id")
                  .agg(F.count("*").cast("long").alias("n_tokens"),
                       F.sum("__lp").alias("log_prob"))
                  .withColumn("ppl",
                              F.exp(-F.col("log_prob") / F.col("n_tokens")))
                  .withColumnRenamed("__id", id_col))


def kneser_ney_trigram_logprob(df: DataFrame, text_col: str, id_col: str,
                               discount: float = 0.75, token_hash=None,
                               tokens_col: Optional[Column] = None,
                               broadcast_tables: bool = True) -> DataFrame:
    """Interpolated Kneser-Ney TRIGRAM log-probability / perplexity —
    the order-3 extension of ``kneser_ney_logprob`` with the standard
    recursion (Chen & Goodman 1999): the top level uses raw trigram
    counts; every lower level uses CONTINUATION counts (distinct
    higher-order types), so

        P3(w | a,b) = max(c3(a,b,w) - D, 0) / c3(a,b,.)
                      + lam3(a,b) * P2(w | b)
        P2(w | b)   = max(c2(b,w) - D, 0) / c2(b,.)
                      + lam2(b) * P1(w)          [c2 = N1+(. b w)]
        P1(w)       = (N1+(. w) + 1) / (B1 + V)  [add-one smoothed]

    with ``lam_k = D * N1+(ctx .) / ctot_k(ctx)``.  Token 1 scores at
    P1, token 2 at P2 (the lower-order continuation models, standard
    for positions below the order), tokens >= 3 at P3.  A context
    unseen at a lower level backs off to the level below (possible for
    doc-initial bigrams of 2-token documents under continuation
    counts).  Every conditional sums to exactly 1 over the corpus
    vocabulary — the tests replay the tables and check it.

    Scale shape: per-position postings carry THREE 8-byte token hashes
    (w, its predecessor, its pre-predecessor); table keys are the
    hash TUPLES — per-token hashing keeps the whole model replayable
    in plain SQL (the ``kn3_ppl`` oracle) — with one aggregation per
    level.  Only the genuinely VOCABULARY-sized tables (``ctx2``
    keyed by one token, ``c1``, and the one-row ``scal`` scalars) are
    broadcast-hinted; the corpus-sized trigram/bigram-keyed tables
    (``tri``, ``ctx3``, ``c2`` — O(distinct n-grams), tens of GB on a
    web corpus) join un-hinted so AQE picks shuffle-hash vs broadcast
    from runtime sizes, matching the bigram variant's un-hinted
    ``big`` join.  ``broadcast_tables=False`` defers everything to
    AQE.  Raw text never shuffles."""
    th = token_hash or F.xxhash64
    toks = (tokens_col if tokens_col is not None
            else _tokens_lower(F.col(text_col)))
    base = (df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))
              .withColumn("__hs",
                          F.transform(F.col("__toks"), lambda t: th(t)))
              .filter(F.size("__hs") >= 1))
    pos = F.sequence(F.lit(1), F.size("__hs"))
    i = F.col("__i")
    g = (base.select("__id", "__hs", F.explode(pos).alias("__i"))
             .select(
                 "__id",
                 F.element_at("__hs", i).alias("__h"),
                 F.when(i >= 2, F.element_at("__hs", i - 1)).alias("__hb"),
                 F.when(i >= 3, F.element_at("__hs", i - 2)).alias("__ha")))

    # ONE pattern aggregation (r14 rework, same discipline as the
    # bigram variant): nulls kept so positions 1/2 group under null
    # __ha/__hb; every level's count table derives from this table.
    # MATERIALIZED (operators/_mat.py — salted per-build persist into
    # the columnar cache) because the level branches prune/push
    # different columns and filters into the aggregate, so their
    # exchange subtrees canonicalize differently and neither
    # ReuseExchange nor AQE stage reuse dedups them — without the
    # materialization each branch re-derived the corpus-sized postings.
    # Distinct-trigram-sized, recomputed fresh on every execution.
    gk = materialize(
        g.groupBy("__ha", "__hb", "__h").agg(F.count("*").alias("__ck")))
    # level 3: raw trigram counts + context totals
    tri = (gk.filter(F.col("__ha").isNotNull())
             .select("__ha", "__hb", "__h", F.col("__ck").alias("__c3")))
    ctx3 = tri.groupBy("__ha", "__hb").agg(F.sum("__c3").alias("__ctot3"),
                                           F.count("*").alias("__n1f3"))
    # level 2: continuation counts — distinct trigram TYPES grouped by
    # their suffix bigram
    c2 = tri.groupBy("__hb", "__h").agg(F.count("*").alias("__c2"))
    ctx2 = c2.groupBy("__hb").agg(F.sum("__c2").alias("__ctot2"),
                                  F.count("*").alias("__n1f2"))
    # level 1: continuation counts from distinct raw bigram TYPES
    # (distinct (b, w) over the pattern table == distinct raw bigrams:
    # a bigram seen only at position 2 still appears, under a null __ha)
    big = (gk.filter(F.col("__hb").isNotNull())
             .select("__hb", "__h").distinct())
    c1 = big.groupBy("__h").agg(F.count("*").alias("__c1"))
    scal = (big.agg(F.count("*").alias("__B1"))
               .crossJoin(gk.select("__h").distinct()
                            .agg(F.count("*").alias("__V"))))

    D = F.lit(float(discount))
    p1 = (F.coalesce(F.col("__c1"), F.lit(0)) + F.lit(1.0)) \
        / (F.col("__B1") + F.col("__V"))
    p2_core = (F.greatest(F.coalesce(F.col("__c2"), F.lit(0)) - D,
                          F.lit(0.0)) / F.col("__ctot2")
               + (D * F.col("__n1f2") / F.col("__ctot2")) * p1)
    p2 = F.when(F.col("__ctot2").isNull(), p1).otherwise(p2_core)
    p3_core = (F.greatest(F.coalesce(F.col("__c3"), F.lit(0)) - D,
                          F.lit(0.0)) / F.col("__ctot3")
               + (D * F.col("__n1f3") / F.col("__ctot3")) * p2)
    prob = F.when(F.col("__ha").isNotNull(), p3_core) \
        .when(F.col("__hb").isNotNull(), p2) \
        .otherwise(p1)

    # ctx3/c2 are keyed by n-gram tuples — corpus-sized, never hinted
    # (AQE decides); ctx2/c1 are keyed by a single token — vocabulary-
    # sized, safe to broadcast when requested.  The per-pattern
    # log-probability (identical expression over identical per-row
    # inputs, so every value is bit-equal to the old postings-level
    # join) is attached back to the postings with ONE null-safe equi
    # join; every posting matches exactly one pattern row, preserving
    # the row count.
    bc = F.broadcast if broadcast_tables else (lambda x: x)
    pat = (gk.withColumn("__c3", F.when(F.col("__ha").isNotNull(),
                                        F.col("__ck")))
             .join(ctx3, on=["__ha", "__hb"], how="left")
             .join(c2, on=["__hb", "__h"], how="left")
             .join(bc(ctx2), on="__hb", how="left")
             .join(bc(c1), on="__h", how="left")
             .crossJoin(F.broadcast(scal))
             .select(F.col("__ha").alias("__pa"), F.col("__hb").alias("__pb"),
                     F.col("__h").alias("__ph"), F.log(prob).alias("__lp")))
    scored = (g.join(pat, on=[g["__ha"].eqNullSafe(pat["__pa"]),
                              g["__hb"].eqNullSafe(pat["__pb"]),
                              g["__h"] == pat["__ph"]], how="inner")
               .select("__id", "__lp"))
    return (scored.groupBy("__id")
                  .agg(F.count("*").cast("long").alias("n_tokens"),
                       F.sum("__lp").alias("log_prob"))
                  .withColumn("ppl",
                              F.exp(-F.col("log_prob") / F.col("n_tokens")))
                  .withColumnRenamed("__id", id_col))

def add_text_analysis(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-stop enrichment: language, token counts, fingerprint, quality."""
    out = language_id_df(quality_score(df, text_col), text_col)
    return (out
            .withColumn("n_tokens_ws", whitespace_token_count(text_col))
            .withColumn("n_tokens_bpe", bpe_ish_token_count(text_col))
            .withColumn("fingerprint", fingerprint(text_col)))
