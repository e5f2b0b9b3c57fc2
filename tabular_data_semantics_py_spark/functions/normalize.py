"""Mention / URI normalization (SURVEY.md §2.2 F1-F10).

Pure-Python scalar cores, used by the plain-Python oracle executor and
pinned as the reference for the Spark side. Spark runs the JVM
built-in mirrors ``normalize_expr`` and ``lexical_score_expr``, so no
normalization step crosses into Python. Spark has no NFD
normalization; ``normalize_expr`` strips accents with a code-point
``translate`` table built from ``strip_accents`` itself. Each function
cites the reference behavior it pins.

Normalization rule (pinned; both oracle and Spark use exactly this):
1. strip stray quotes          (test/challenge_utils.py:664-666)
2. drop parenthesized groups   (kg/dbpedia.py:22-31,62-70)
3. strip accents: NFD + drop combining marks
                               (oaei/dbpedia_fragment.py:72-78)
4. lowercase (only ``A-Z`` is left to map; on Spark the accent
   ``translate`` does it, since Spark's ICU ``lower`` builds a
   title-case map of all of Unicode on first use), collapse whitespace
"""

from __future__ import annotations

import re
import unicodedata

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
    token Jaccard — the reference for ``lexical_score_expr`` (stands in
    for the remote lookup's ranking, kg/lookup.py:95-106)."""
    return 0.5 * norm_edit_similarity(mention_norm, key_norm) + \
        0.5 * token_jaccard(mention_norm, key_norm)


# --- Spark expressions ------------------------------------------------------

# The accent strip as a per-character map. NFD decomposes each
# character on its own and canonical reordering never moves an ASCII
# starter, so strip_accents(s) is the concatenation of
# strip_accents(c) over the characters c of s. Each non-ASCII character
# keeps at most one ASCII character, and only BMP characters keep one
# (tests/test_normalize.py checks both over all of Unicode), so a
# ``translate`` over these pairs plus dropping the remaining non-ASCII
# characters is the strip. Built from the oracle's own strip_accents,
# so the two cannot drift. The targets are lowercased and A-Z join the
# table: the strip leaves ASCII, so that is the oracle's lowercase.
_ACCENTED = {
    c: a.lower()
    for c in map(chr, [*range(0x41, 0x5B), *range(0x80, 0x10000)])  # A-Z
    if (a := strip_accents(c))
}
_ACCENT_FROM, _ACCENT_TO = "".join(_ACCENTED), "".join(_ACCENTED.values())


def prenorm_expr(col):
    """JVM expression for the quote-strip, bracket removal and
    whitespace collapse of ``normalize_mention``; the prefix of
    ``normalize_expr``, mirrored in Python by ``prenorm_py``. No
    lowercase: ``normalize_expr``'s ``translate`` does it."""
    from pyspark.sql import functions as F

    c = F.regexp_replace(col, '"', "")
    c = F.regexp_replace(c, r"\(([^)]*)\)", " ")
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def normalize_expr(col):
    """JVM expression equal to ``normalize_mention`` on every string
    (asserted over every BMP code point in tests/test_normalize.py):
    prenorm, accent strip and lowercase by one code-point table, drop
    what is still non-ASCII, collapse the ASCII whitespace Python's
    ``\\s`` matches, trim. NULL gives ``""``. All built-ins, so the
    cell table never enters Python. No ``lower``: see step 4 above."""
    from pyspark.sql import functions as F

    c = F.translate(prenorm_expr(col), _ACCENT_FROM, _ACCENT_TO)
    c = F.regexp_replace(c, r"[^\x00-\x7F]", "")
    c = F.trim(F.regexp_replace(c, r"[\t\n\x0b\f\r\x1c-\x1f ]+", " "))
    return F.coalesce(c, F.lit(""))


def lexical_score_expr(a, b):
    """JVM expression for ``lexical_score`` over two normalized string
    columns, bit-identical to the scalar core (asserted in
    tests/test_normalize.py). Normalized strings are ASCII with single
    inner spaces, so ``length`` counts what ``len`` counts and
    ``split(·, ' ')`` yields what ``str.split()`` yields — except on
    the empty string, where it yields ``['']``. Against a non-empty
    side that still gives Jaccard 0; two empty sides are equal strings,
    which score 1.0 up front — that also keeps 0/0 out, which raises
    under ANSI mode. Integer ``/`` is double division, so each step
    rounds as Python's does."""
    from pyspark.sql import functions as F

    ta, tb = F.split(a, " "), F.split(b, " ")
    lev = F.levenshtein(a, b) / F.greatest(F.length(a), F.length(b))
    jaccard = F.size(F.array_intersect(ta, tb)) / F.size(F.array_union(ta, tb))
    return F.when(a == b, F.lit(1.0)).otherwise(
        F.lit(0.5) * (F.lit(1.0) - lev) + F.lit(0.5) * jaccard
    )


def prenorm_py(s: str) -> str:
    """Python mirror of ``prenorm_expr`` (for property-testing the
    prenorm→normalize composition); like it, no lowercase."""
    if s is None:
        return ""
    s = s.replace('"', "")
    s = _BRACKET_RE.sub(" ", s)
    return re.sub(r"[ \t\n\x0b\f\r]+", " ", s).strip(" \t\n\x0b\f\r")
