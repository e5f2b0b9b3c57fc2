"""Mention / URI normalization (SURVEY.md §2.2 F1-F10).

Pure-Python scalar cores (used by the plain-Python oracle executor and
wrapped as **vectorized pandas UDFs** for Spark — never row-at-a-time
Python UDFs). Each function cites the reference behavior it pins.

Normalization rule (pinned; both oracle and Spark use exactly this):
1. strip stray quotes          (test/challenge_utils.py:664-666)
2. drop parenthesized groups   (kg/dbpedia.py:22-31,62-70)
3. strip accents: NFD + drop combining marks
                               (oaei/dbpedia_fragment.py:72-78)
4. lowercase, collapse whitespace
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd

_BRACKET_RE = re.compile(r"\(([^)]*)\)")
_WS_RE = re.compile(r"\s+")


def strip_accents(s: str) -> str:
    """NFD-normalize and drop combining marks + non-ASCII
    (oaei/dbpedia_fragment.py:72-78)."""
    nfd = unicodedata.normalize("NFD", s)
    return "".join(c for c in nfd if not unicodedata.combining(c) and ord(c) < 128)


def bracket_parts(s: str) -> list[str]:
    """Extract parenthesized qualifier groups longer than 2 chars
    (kg/dbpedia.py:22-31: each >2-char item becomes its own query)."""
    return [p.strip() for p in _BRACKET_RE.findall(s) if len(p.strip()) > 2]


def normalize_mention(s: str) -> str:
    if s is None:
        return ""
    s = s.replace('"', "")  # challenge_utils.py:664-666 quote-strip
    s = _BRACKET_RE.sub(" ", s)  # kg/dbpedia.py:62-70 bracket removal
    s = strip_accents(s)
    s = s.lower()
    return _WS_RE.sub(" ", s).strip()


def entity_name(uri: str) -> str:
    """Local name after '#' or the last '/' segment
    (util/utilities.py:44-63)."""
    if "#" in uri:
        frag = uri.rsplit("#", 1)[1]
        if frag:
            return frag
    return uri.rstrip("/").rsplit("/", 1)[-1]


def _levenshtein(a: str, b: str) -> int:
    if a == b:
        return 0
    if not a:
        return len(b)
    if not b:
        return len(a)
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def norm_edit_similarity(a: str, b: str) -> float:
    """1 - levenshtein/max_len in [0,1]."""
    if not a and not b:
        return 1.0
    m = max(len(a), len(b))
    return 1.0 - _levenshtein(a, b) / m


def token_jaccard(a: str, b: str) -> float:
    sa, sb = set(a.split()), set(b.split())
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


def lexical_score(mention_norm: str, key_norm: str) -> float:
    """Fuzzy lexical score: mean of normalized edit similarity and
    token Jaccard — the Arrow-batched scorer's scalar core (stands in
    for the remote lookup's ranking, kg/lookup.py:95-106)."""
    return 0.5 * norm_edit_similarity(mention_norm, key_norm) + \
        0.5 * token_jaccard(mention_norm, key_norm)


# --- Spark vectorized wrappers ---------------------------------------------

def prenorm_expr(col):
    """JVM expression for the UDF-free prefix of ``normalize_mention``:
    quote-strip, bracket removal, lowercase, whitespace collapse — all
    whole-stage-codegen, so the full cell table never enters Python.
    Only accent-stripping needs Python, and
    ``normalize_mention(prenorm(s)) == normalize_mention(s)`` (property
    test in tests/test_normalize.py), so it can run *after* dedup to
    distinct prenormed mentions — orders of magnitude smaller at scale.
    """
    from pyspark.sql import functions as F

    c = F.regexp_replace(col, '"', "")
    c = F.regexp_replace(c, r"\(([^)]*)\)", " ")
    c = F.lower(c)
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def prenorm_py(s: str) -> str:
    """Python mirror of ``prenorm_expr`` (for property-testing the
    prenorm→normalize composition)."""
    if s is None:
        return ""
    s = s.replace('"', "")
    s = _BRACKET_RE.sub(" ", s)
    s = s.lower()
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", s).strip(" \t\n\x0b\f\r")

def make_normalize_udf():
    """pandas UDF: normalize a string column (Arrow-batched)."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def normalize_udf(col: pd.Series) -> pd.Series:
        return col.map(lambda s: normalize_mention(s) if s is not None else "")

    return normalize_udf


def _levenshtein_batch(A: list, B: list):
    """Vectorized exact Levenshtein over a batch of string pairs:
    the same DP recurrence as ``_levenshtein``, with the i×j loops in
    Python but every cell update a NumPy op across the WHOLE batch —
    maxlen² batch-wide vector ops instead of Σ len_a·len_b
    interpreted scalar ops (guide §4.2: hand batches to native code).
    Integer DP ⇒ bit-identical distances. Returns int64 array."""
    import numpy as np

    n = len(A)
    la = np.fromiter((len(a) for a in A), dtype=np.int64, count=n)
    lb = np.fromiter((len(b) for b in B), dtype=np.int64, count=n)
    res = np.zeros(n, dtype=np.int64)
    res[la == 0] = lb[la == 0]
    ma, mb = int(la.max(initial=0)), int(lb.max(initial=0))
    if ma == 0 or mb == 0:
        res[lb == 0] = la[lb == 0]
        return res
    # U-dtype arrays pad with \x00 (never a real char here); UCS4
    # view gives an (n, maxlen) int32 code matrix
    CA = np.array(A, dtype=f"U{ma}").view(np.int32).reshape(n, ma)
    CB = np.array(B, dtype=f"U{mb}").view(np.int32).reshape(n, mb)
    prev = np.broadcast_to(
        np.arange(mb + 1, dtype=np.int64), (n, mb + 1)
    ).copy()
    cur = np.empty_like(prev)
    for i in range(1, ma + 1):
        cur[:, 0] = i
        ca = CA[:, i - 1]
        for j in range(1, mb + 1):
            np.minimum(prev[:, j] + 1, cur[:, j - 1] + 1, out=cur[:, j])
            np.minimum(
                cur[:, j],
                prev[:, j - 1] + (ca != CB[:, j - 1]),
                out=cur[:, j],
            )
        done = la == i
        if done.any():
            # row's DP is complete at i == len(a); cells past lb are
            # padding garbage but (la, lb) never depends on them
            res[done] = cur[done, lb[done]]
        prev, cur = cur, prev
    zb = lb == 0
    res[zb] = la[zb]
    return res


def make_lexical_score_udf():
    """pandas UDF (Arrow-batched) scoring (mention_norm, key_norm)
    pairs — the hot fuzzy path. The Levenshtein half runs through the
    batch-vectorized integer DP (``_levenshtein_batch``); the final
    per-pair arithmetic keeps the exact scalar operation order
    (1 − lev/max_len, then the 0.5/0.5 mean) in float64, so scores
    are bit-identical to ``lexical_score`` (asserted in
    tests/test_normalize.py). Rows whose longer string exceeds 256
    chars fall back to the scalar path — a single pathological cell
    would otherwise inflate the whole batch's maxlen² loop."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def lexical_score_udf(m: pd.Series, k: pd.Series) -> pd.Series:
        A = [a or "" for a in m]
        B = [b or "" for b in k]
        n = len(A)
        out = [0.0] * n
        vec_idx = [
            i for i in range(n) if len(A[i]) <= 256 and len(B[i]) <= 256
        ]
        if vec_idx:
            lev = _levenshtein_batch(
                [A[i] for i in vec_idx], [B[i] for i in vec_idx]
            )
            for pos, i in enumerate(vec_idx):
                a, b = A[i], B[i]
                mx = max(len(a), len(b))
                edit = 1.0 if mx == 0 else 1.0 - int(lev[pos]) / mx
                out[i] = 0.5 * edit + 0.5 * token_jaccard(a, b)
        for i in range(n):
            if len(A[i]) > 256 or len(B[i]) > 256:
                out[i] = lexical_score(A[i], B[i])
        return pd.Series(out, dtype="float64")

    return lexical_score_udf
