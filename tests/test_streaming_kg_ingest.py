"""Streaming incremental KG ingestion ≡ batch pipeline
(streaming/kg_ingest.py).

Splits the fixture corpus's source files into three arrival waves,
streams them through ``foreachBatch`` with an AvailableNow drain per
wave (RESTARTING the query between waves — the file-source checkpoint
must pick up only the new files), and asserts the accumulated,
canonically-deduped triples equal the batch pipeline's output on the
full corpus, row for row.
"""

import pyarrow as pa
import pyarrow.parquet as pq

from tabular_data_semantics_py_spark.barriers import list_generations
from tabular_data_semantics_py_spark.fixtures.generator import make_corpus
from tabular_data_semantics_py_spark.plans.pipeline import run_pipeline
from tabular_data_semantics_py_spark.sources.repo_source import (
    corpus_to_dataframes,
)
from tabular_data_semantics_py_spark.streaming.kg_ingest import (
    TRIPLE_COLS,
    accumulated_triples,
    stream_kg_triples,
)

COLS = ["repo", "path", "commit", "lang", "content"]


def _write_wave(stream_dir, rows, n):
    tbl = pa.table(
        {c: pa.array([r[i] for r in rows], pa.string())
         for i, c in enumerate(COLS)}
    )
    pq.write_table(tbl, str(stream_dir / f"wave_{n}.parquet"))


def test_streamed_waves_match_batch(spark, tmp_path):
    corpus = make_corpus()
    dfs = corpus_to_dataframes(spark, corpus)
    static_dfs = {k: v for k, v in dfs.items() if k != "source_repos"}

    def _batch_triples(res):
        return sorted(
            tuple(r) for r in res.stages["triples"]
            .select(*TRIPLE_COLS).collect()
        )

    batch = run_pipeline(spark, dfs)
    want = _batch_triples(batch)
    barriers = list_generations(spark)

    stream_dir = tmp_path / "arrivals"
    stream_dir.mkdir()
    triples_dir = str(tmp_path / "graph")
    ck = str(tmp_path / "ck")

    repos = list(corpus.repos)
    waves = [repos[0:12], repos[12:25], repos[25:]]
    assert all(waves)
    for n, wave in enumerate(waves):
        _write_wave(stream_dir, wave, n)
        # fresh query per wave, same checkpoint: the source's file log
        # must skip every already-processed wave
        stream_kg_triples(spark, str(stream_dir), static_dfs,
                          triples_dir, ck)

    got_df = accumulated_triples(spark, triples_dir)
    got = sorted(tuple(r) for r in got_df.select(*TRIPLE_COLS).collect())
    assert got == want

    # a drain with nothing new arrived must append nothing
    raw = spark.read.parquet(triples_dir).count()
    stream_kg_triples(spark, str(stream_dir), static_dfs, triples_dir, ck)
    assert spark.read.parquet(triples_dir).count() == raw

    # at-least-once upstream re-delivery: the same source rows arrive
    # again in a NEW file (new name, so the file log processes it).
    # The raw append log gains duplicates; the canonical view must
    # still equal the batch output exactly.
    _write_wave(stream_dir, waves[0], len(waves))
    stream_kg_triples(spark, str(stream_dir), static_dfs, triples_dir, ck)
    assert spark.read.parquet(triples_dir).count() > raw
    redelivered = sorted(
        tuple(r) for r in accumulated_triples(spark, triples_dir)
        .select(*TRIPLE_COLS).collect()
    )
    assert redelivered == want

    # every drain released its batches' barriers, and only those: the
    # batch result made before the drains still reads
    assert list_generations(spark) == barriers
    assert _batch_triples(batch) == want
