"""Unit tests for the normalization / scoring cores (SURVEY.md §2.2)."""

from tabular_data_semantics_py_spark.functions.normalize import (
    bracket_parts,
    entity_name,
    lexical_score,
    norm_edit_similarity,
    normalize_mention,
    strip_accents,
    token_jaccard,
)


def test_strip_accents():
    # oaei/dbpedia_fragment.py:72-78 semantics
    assert strip_accents("São Paulo") == "Sao Paulo"
    assert strip_accents("Zürich") == "Zurich"
    assert strip_accents("Dončić") == "Doncic"
    assert strip_accents("plain") == "plain"


def test_bracket_parts():
    # kg/dbpedia.py:22-31: >2-char parenthesized groups
    assert bracket_parts("Paris (Texas)") == ["Texas"]
    assert bracket_parts("A (bb) (ccc)") == ["ccc"]  # 'bb' too short
    assert bracket_parts("nothing here") == []


def test_normalize_mention():
    assert normalize_mention('"Paris"') == "paris"  # challenge_utils.py:664-666
    assert normalize_mention("Paris (Texas)") == "paris"
    assert normalize_mention("  São   Paulo ") == "sao paulo"
    assert normalize_mention(None) == ""
    assert normalize_mention("") == ""


def test_entity_name():
    # util/utilities.py:44-63
    assert entity_name("http://x.org/resource/Foo_Bar") == "Foo_Bar"
    assert entity_name("http://x.org/onto#Thing") == "Thing"
    assert entity_name("http://x.org/a/b/") == "b"


def test_edit_similarity_bounds():
    assert norm_edit_similarity("abc", "abc") == 1.0
    assert norm_edit_similarity("abc", "xyz") == 0.0
    assert 0 < norm_edit_similarity("paris", "pariss") < 1


def test_token_jaccard():
    assert token_jaccard("a b", "a b") == 1.0
    assert token_jaccard("a b", "b c") == 1 / 3
    assert token_jaccard("", "") == 1.0


def test_lexical_score_monotone():
    near = lexical_score("michael jordan", "michael jordon")
    far = lexical_score("michael jordan", "midnight echoes")
    # near: edit_sim ~0.93, token jaccard 1/3 → ~0.63; far ≈ 0
    assert near > 0.6 > far
    assert lexical_score("paris", "paris") == 1.0


def test_lexical_score_expr_matches_scalar(spark):
    """The JVM built-in scorer must be bit-identical to the scalar
    ``lexical_score`` on every pair of its input domain (normalized
    strings): empties, equal strings, \\x00 / unicode inputs as
    normalization leaves them, asymmetric lengths, and a pair over 256
    characters."""
    import random

    from pyspark.sql import functions as F

    from tabular_data_semantics_py_spark.functions.normalize import (
        lexical_score_expr,
    )

    rnd = random.Random(7)
    alphabet = "ab \x00éxyz"
    cases = [("", ""), ("", "abc"), ("abc", ""), ("same", "same"),
             ("a\x00b", "a b"), ("é", "e")]
    for _ in range(400):
        a = "".join(rnd.choice(alphabet) for _ in range(rnd.randrange(0, 12)))
        b = "".join(rnd.choice(alphabet) for _ in range(rnd.randrange(0, 12)))
        cases.append((a, b))
    cases = [(normalize_mention(a), normalize_mention(b)) for a, b in cases]
    cases += [("", ""), ("x" * 300 + " y", "x" * 299 + "z y")]
    got = spark.createDataFrame(cases, "a string, b string").select(
        "a", "b", lexical_score_expr(F.col("a"), F.col("b")).alias("s")
    ).collect()
    assert len(got) == len(cases)
    for r in got:
        assert r.s == lexical_score(r.a, r.b), (r.a, r.b, r.s)


def test_accent_strip_is_a_bmp_code_point_map():
    """The premise of ``normalize_expr``'s ``translate`` table, over
    all of Unicode: the strip keeps at most one ASCII character of any
    code point, and only BMP code points keep one. A future
    ``unicodedata`` that breaks either fails here, not in a triple."""
    kept = {}
    for cp in range(0x80, 0x110000):
        a = strip_accents(chr(cp))
        assert len(a) <= 1, (hex(cp), a)
        if a:
            kept[cp] = a
    assert kept and max(kept) < 0x10000, hex(max(kept))


def _unicode_sample(n: int, seed: int) -> list[str]:
    """Seeded random strings mixing the characters the strip treats
    differently: ASCII words and separators, quotes and brackets,
    accented Latin, combining marks, C0/C1 controls and Unicode spaces,
    case-mapping oddities, Greek, CJK, Hangul and astral characters."""
    import random

    rnd = random.Random(seed)
    pools = [
        "AbcXyz019 ",
        '"()\t\n\x0b\f\r\x1c\x1f',
        "".join(map(chr, range(0xC0, 0x250))),
        "".join(map(chr, range(0x300, 0x370))),
        "".join(map(chr, [*range(0x00, 0x20), *range(0x7F, 0xA1)])),
        "\x85\xa0\u1680\u2000\u2007\u200a\u2028\u2029\u202f\u205f\u3000",
        "\u212a\u212b\u0130\u0131\u037e\u1fef\u1e9e\u00df\ufb01",
        "".join(map(chr, range(0x370, 0x400))),
        "".join(map(chr, range(0x1E00, 0x1F00))),
    ]

    def char() -> str:
        k = rnd.randrange(len(pools) + 3)
        if k < len(pools):
            return rnd.choice(pools[k])
        lo, hi = [(0x4E00, 0x9FFF), (0xAC00, 0xD7A3), (0x10000, 0x10FFFF)][
            k - len(pools)
        ]
        return chr(rnd.randint(lo, hi))

    return ["".join(char() for _ in range(rnd.randrange(25))) for _ in range(n)]


def test_normalize_expr_matches_normalize_mention(spark):
    """``normalize_expr`` equals ``normalize_mention`` on every BMP
    code point, alone and inside ``"A · b(·)"``, on a seeded sample of
    random full-Unicode strings, and on NULL and ``""``. Surrogates
    cannot be encoded as UTF-8 and never reach Spark."""
    import pandas as pd
    from pyspark.sql import functions as F

    from tabular_data_semantics_py_spark.functions.normalize import (
        normalize_expr,
    )

    bmp = [chr(cp) for cp in range(0x10000) if not 0xD800 <= cp < 0xE000]
    strings = bmp + [f"A {c} b({c})" for c in bmp]
    strings += _unicode_sample(6000, seed=20261017) + ["", None]
    pdf = pd.DataFrame(
        {"s": strings, "want": [normalize_mention(s) for s in strings]}
    )
    bad = (
        spark.createDataFrame(pdf, "s string, want string")
        .withColumn("got", normalize_expr(F.col("s")))
        .where(F.col("got") != F.col("want"))
        .limit(20)
        .collect()
    )
    assert bad == [], [(r.s, r.want, r.got) for r in bad]
