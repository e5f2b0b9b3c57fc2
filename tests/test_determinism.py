"""Determinism invariants (SURVEY.md §5.1 item 4): output must not
depend on partitioning; fixture regeneration is byte-identical, and a
cached corpus is found only by a checkout that writes the same tables."""

from tabular_data_semantics_py_spark.fixtures.generator import make_corpus
from tabular_data_semantics_py_spark.operators.candidates import (
    generate_candidates,
)
from tabular_data_semantics_py_spark.sources import repo_source


def test_corpus_regeneration_identical(corpus):
    c2 = make_corpus()
    assert c2.repos == corpus.repos
    assert [(e.uri, e.label, e.popularity) for e in c2.entities] == [
        (e.uri, e.label, e.popularity) for e in corpus.entities
    ]
    assert c2.triples == corpus.triples


def test_corpus_cache_dir_keys_on_table_list(monkeypatch):
    """Two checkouts sharing a temp dir and a generator but writing
    different table sets must not share a corpus cache dir: the one
    that reads more tables would find the other's ``_DONE`` and then
    miss a table file."""
    before = repo_source.corpus_parquet_dir(100, 2000, seed=1)
    monkeypatch.setattr(
        repo_source, "_CORPUS_TABLE_NAMES",
        repo_source._CORPUS_TABLE_NAMES + ["class_labels"],
    )
    assert repo_source.corpus_parquet_dir(100, 2000, seed=1) != before


def test_candidates_partition_invariant(spark, dfs, pipeline):
    """Same candidate set at 2 and 16 partitions (emission determinism
    across partition counts, SURVEY.md §5.1)."""
    data = pipeline.stages["cells"].where("row >= 0")

    def run(n):
        _, cand = generate_candidates(
            data.repartition(n), dfs["entity_index"]
        )
        return {
            (r.mention_norm, r.uri, round(r.score, 12), r.cand_rank)
            for r in cand.collect()
        }

    assert run(2) == run(16)
