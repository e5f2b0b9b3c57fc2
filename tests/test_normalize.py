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
