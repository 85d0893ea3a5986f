"""Plain-Python reference models for operators with one implementation.

Each model restates an operator's contract from scratch in plain
Python, with no library code, so a test can hold the operator to it
on any input (``attribution_events`` only reads a test's input rows).
"""

import math
import re
from collections import Counter, defaultdict

import pytest

# Spark's (Java-regex) \s: ASCII whitespace only
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def ewma_model(events, alpha):
    """``events``: ``(key, ts, tiebreak, value)`` tuples.  Returns
    ``{(key, tiebreak): ewma}``: per key, in (ts, tiebreak) order, the
    first present value starts the series and each later one folds in
    as ``alpha*x + (1-alpha)*prev``; a NULL or NaN value repeats
    ``prev`` (None before the first present value)."""
    state, out = {}, {}
    for key, _ts, tb, x in sorted(events, key=lambda e: (e[1], e[2])):
        prev = state.get(key)
        if x is not None and x == x:
            prev = x if prev is None else alpha * x + (1 - alpha) * prev
            state[key] = prev
        out[key, tb] = prev
    return out


def attribution_model(events, touch_types, conversion_type, lookback_us):
    """``events``: ``(key, event_id, event_type, us, ts)`` tuples, ``key``
    a tuple.  Returns ``{(*key, conversion_id, conversion_ts,
    first_touch_id, last_touch_id)}``: for each conversion, the touches
    of the same key with ``us - lookback_us <= touch_us < us``, the
    first and last by ``(touch_us, touch_id)``; conversions with no such
    touch are left out."""
    touches = defaultdict(list)
    for key, eid, typ, us, _ts in events:
        if typ in touch_types:
            touches[key].append((us, eid))
    out = set()
    for key, eid, typ, us, ts in events:
        if typ != conversion_type:
            continue
        hits = [t for t in touches[key] if us - lookback_us <= t[0] < us]
        if hits:
            out.add((*key, eid, ts, min(hits)[1], max(hits)[1]))
    return out


def attribution_events(df, by=("user_id",)):
    """``attribution_model`` input rows from a Spark events frame
    (``event_id``, ``event_type``, ``ts`` and the ``by`` columns)."""
    from pyspark.sql import functions as F

    rows = df.select(*by, "event_id", "event_type", "ts",
                     F.unix_micros(F.col("ts").cast("timestamp"))
                     .alias("us")).collect()
    return [(tuple(r[b] for b in by), r.event_id, r.event_type, r.us, r.ts)
            for r in rows]


def repetition_stats_model(text, line_sep="\n", top_ns=(2, 3),
                           dup_ns=(5, 10)):
    """The ``repetition_stats`` columns for one document, by a
    per-token coverage mask.  Tokens split on ASCII whitespace; a line
    is empty when only spaces (0x20) remain; NULL text is empty."""
    text = text or ""
    toks = [w for w in _JAVA_WS.split(text) if w]
    chars = max(sum(len(w) for w in toks), 1)
    lines = [x for x in text.split(line_sep) if x.strip(" ")]
    distinct = set(lines)
    line_chars = sum(len(x) for x in lines)
    out = {
        "r_n_lines": len(lines),
        "r_dup_line_frac": (len(lines) - len(distinct)) / max(len(lines), 1),
        "r_dup_line_char_frac":
            (line_chars - sum(len(x) for x in distinct))
            / max(line_chars, 1),
    }

    def grams(n):
        return [tuple(toks[i:i + n]) for i in range(len(toks) - n + 1)]

    for n in top_ns:
        cnt = Counter(grams(n))
        best = max((c * sum(len(w) for w in g) for g, c in cnt.items()),
                   default=0)
        out[f"r_top{n}gram_char_frac"] = min(best / chars, 1.0)
    for n in dup_ns:
        gs = grams(n)
        cnt = Counter(gs)
        covered = [False] * len(toks)
        starts = 0
        for i, g in enumerate(gs):
            if cnt[g] >= 2:
                starts += 1
                for j in range(i, i + n):
                    covered[j] = True
        out[f"r_dup{n}gram_distinct"] = sum(1 for c in cnt.values() if c >= 2)
        out[f"r_dup{n}gram_positions"] = starts
        out[f"r_dup{n}gram_char_frac"] = \
            sum(len(w) for w, c in zip(toks, covered) if c) / chars
    return out


def bucket_index_model(d, cuts):
    """Number of ``cuts`` strictly below ``d`` in Spark's order: a null
    ``d`` is bucket 0; doubles put NaN above +inf and equal to itself;
    strings compare by UTF-8 bytes."""
    if d is None:
        return 0
    if isinstance(d, str):
        def key(x):
            return x.encode()
    else:
        def key(x):
            return (True, 0.0) if math.isnan(x) else (False, x)
    return sum(1 for c in cuts if key(c) < key(d))


def assert_rows_match_model(got, want):
    """``got``/``want``: ``{id: {column: value}}``.  Floats compare to
    1e-12 relative, everything else exactly."""
    assert set(got) == set(want)
    for k, row in want.items():
        for col, w in row.items():
            g = got[k][col]
            if isinstance(w, float):
                assert g == pytest.approx(w, rel=1e-12, abs=1e-15), (k, col)
            else:
                assert g == w, (k, col)
