"""Property-based tests (SURVEY.md §5.1 item 4) — pure-Python cores,
no Spark session needed."""

from hypothesis import given, settings
from hypothesis import strategies as st

from tabular_data_semantics_py_spark.fixtures.generator import (
    FixtureCorpus,
    _mk_csv,
)
from tabular_data_semantics_py_spark.fixtures.oracle import parse_csv_content
from tabular_data_semantics_py_spark.functions.normalize import (
    lexical_score,
    normalize_mention,
)

# text alphabet covering the perturbation space: accents, quotes,
# brackets, commas, whitespace
CELL = st.text(
    alphabet="abcXYZ áéßü\"(),\\0123456789",
    min_size=0, max_size=24,
)


@given(CELL)
def test_normalize_idempotent(s):
    once = normalize_mention(s)
    assert normalize_mention(once) == once


@given(CELL)
def test_prenorm_composes_with_normalize(s):
    """normalize(prenorm(s)) == normalize(s): the JVM prenorm split in
    operators/candidates.py must not change any mention_norm value."""
    from tabular_data_semantics_py_spark.functions.normalize import (
        prenorm_py,
    )

    assert normalize_mention(prenorm_py(s)) == normalize_mention(s)


@given(st.text(min_size=0, max_size=32))  # arbitrary unicode
def test_prenorm_composes_unicode(s):
    from tabular_data_semantics_py_spark.functions.normalize import (
        prenorm_py,
    )

    assert normalize_mention(prenorm_py(s)) == normalize_mention(s)


@given(CELL)
def test_normalize_ascii_lower(s):
    out = normalize_mention(s)
    assert out == out.lower()
    assert all(ord(c) < 128 for c in out)
    assert "  " not in out and out == out.strip()


@given(CELL, CELL)
def test_lexical_score_bounds_and_identity(a, b):
    na, nb = normalize_mention(a), normalize_mention(b)
    s = lexical_score(na, nb)
    assert 0.0 <= s <= 1.0
    assert lexical_score(na, na) == 1.0
    assert lexical_score(na, nb) == lexical_score(nb, na)


@settings(max_examples=50)
@given(
    st.lists(
        st.lists(CELL.filter(lambda c: "\n" not in c and "\r" not in c),
                 min_size=3, max_size=3),
        min_size=1, max_size=6,
    )
)
def test_csv_roundtrip(rows):
    """Render with the writer the fixtures use, parse with the pinned
    reference semantics: full-width rows survive byte-exactly."""
    header = ["a", "b", "c"]
    content = _mk_csv(header, rows)
    got_header, got_rows = parse_csv_content(content)
    assert got_header == header
    # rows that the csv module round-trips at full width must match;
    # every returned row must be header-width
    assert all(len(r) == 3 for _i, r in got_rows)
    by_idx = dict(got_rows)
    for i, row in enumerate(rows):
        if i in by_idx:
            assert by_idx[i] == row


def _mini_corpus_closure():
    corpus = FixtureCorpus(
        seed=0,
        classes=[(c, c) for c in "ABCDEF"],
        edges=[("B", "A"), ("C", "B"), ("D", "B"), ("E", "C"), ("F", "A")],
        equivalent=[("D", "F")],
        entities=[], triples=[], property_meta=[], tables=[], repos=[],
    )
    return corpus.closure()


def test_closure_triangle_inequality():
    clo = _mini_corpus_closure()
    nodes = set(clo) | {a for d in clo.values() for a in d}
    for x in clo:
        for y, dxy in clo[x].items():
            for z, dyz in clo.get(y, {}).items():
                if z in clo[x] and z != x:
                    assert clo[x][z] <= dxy + dyz


def test_closure_equivalence_bidirectional_zero():
    clo = _mini_corpus_closure()
    assert clo["D"]["F"] == 0 and clo["F"]["D"] == 0
    # D reaches A via B (depth 2) and via F (0 + 1): min wins
    assert clo["D"]["A"] == 1


@settings(max_examples=50)
@given(st.lists(st.sampled_from(["t1", "t2", "t3"]), min_size=1, max_size=30),
       st.randoms())
def test_vote_argmax_permutation_invariant(votes, rnd):
    """A3/A4: the winner under (count desc, name asc) is invariant
    under input permutation (the reference's dict-order tie-break is
    not — this is the pinned rule)."""
    def winner(vs):
        counts = {}
        for v in vs:
            counts[v] = counts.get(v, 0) + 1
        return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]

    shuffled = list(votes)
    rnd.shuffle(shuffled)
    assert winner(votes) == winner(shuffled)
