"""Source-repository table: artifact discovery, fixture→DF.

The pipeline input is an Iceberg/parquet table with the exact
``input_hint`` shape: (repo, path, commit, lang, content). Artifact
discovery is a pure Catalyst filter so partition pruning / predicate
pushdown apply at the scan (the 10^12-file table never reaches Python:
only rows with lang='csv' AND path LIKE '%.csv' survive — the Spark
analogue of the reference's directory listing in
oaei/tabular2rdf.py:329-352).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures.generator import FixtureCorpus


def discover_csv_artifacts(repos: DataFrame) -> DataFrame:
    """Filter the source table down to CSV artifacts and mint a
    ``table_id`` from the filename stem, sanitized around '#'/'?'
    exactly like the reference's output-name handling
    (oaei/tabular2rdf.py:96-110)."""
    stem = F.regexp_extract(F.col("path"), r"([^/]+)\.csv$", 1)
    return (
        repos.where((F.col("lang") == "csv") & F.col("path").endswith(".csv"))
        .withColumn("table_id", F.split(stem, r"[#?]").getItem(0))
    )


def corpus_to_dataframes(
    spark: SparkSession, corpus: FixtureCorpus
) -> dict[str, DataFrame]:
    """Materialize the fixture corpus as DataFrames (the test/bench
    stand-in for reading the Iceberg catalog).

    Each table is written ONCE driver-side with pyarrow (no Spark job)
    into a corpus-keyed temp dir and read back as a native parquet
    scan — pure JVM source, no Python-RDD backing, no localCheckpoint
    barrier per dim. The dir is content-keyed, so repeated runs over
    the same corpus reuse it."""
    import hashlib
    import os
    import tempfile

    # CONTENT-keyed, not count-keyed: hashing only (seed, element
    # counts) would silently serve a stale cache for a corpus with the
    # same shape but different content (e.g. a test mutating one
    # entity label). The digest covers exactly the rows+schemas that
    # would be written; fixture corpora are small, so the extra
    # _corpus_tables pass is cheap.
    h = hashlib.sha256(_generator_version().encode())
    for name, (rows, schema) in sorted(_corpus_tables(corpus).items()):
        h.update(name.encode())
        h.update(repr(schema).encode())
        for r in rows:
            h.update(repr(r).encode())
    key = h.hexdigest()[:16]
    root = os.path.join(tempfile.gettempdir(), f"tds_corpus_{key}")
    if not os.path.exists(os.path.join(root, "_DONE")):
        _write_corpus_parquet(corpus, root)
    return {
        name: spark.read.parquet(os.path.join(root, f"{name}.parquet"))
        for name in _CORPUS_TABLE_NAMES
    }


def _corpus_tables(corpus: FixtureCorpus):
    """name → (rows, pyarrow schema) for every corpus table the job
    reads (``_CORPUS_TABLE_NAMES``)."""
    import pyarrow as pa

    s = pa.string()
    ls = pa.list_(pa.string())
    return {
        "source_repos": (
            corpus.repos,
            pa.schema([("repo", s), ("path", s), ("commit", s),
                       ("lang", s), ("content", s)]),
        ),
        "entity_index": (
            [
                (e.uri, e.label, e.aliases, e.types, e.redirect_to,
                 e.is_disambiguation, e.popularity)
                for e in corpus.entities
            ],
            pa.schema([("uri", s), ("label", s), ("aliases", ls),
                       ("types", ls), ("redirect_to", s),
                       ("is_disambiguation", pa.bool_()),
                       ("popularity", pa.int32())]),
        ),
        "kg_triples": (
            corpus.triples,
            pa.schema([("subj", s), ("pred", s), ("obj", s),
                       ("obj_is_literal", pa.bool_())]),
        ),
        "property_meta": (
            corpus.property_meta,
            pa.schema([("pred", s), ("domain_uri", s), ("range_uri", s)]),
        ),
        "ontology_edges": (
            corpus.edges, pa.schema([("class_uri", s), ("parent_uri", s)]),
        ),
        "ontology_equivalent": (
            corpus.equivalent, pa.schema([("a", s), ("b", s)]),
        ),
    }


def _generator_version() -> str:
    """Content hash of the fixture generator source — corpus parquet
    caches auto-invalidate when generation logic changes."""
    import hashlib

    from ..fixtures import generator as g

    # loader.get_source works for both filesystem imports and
    # zipimport (spark-submit --py-files ships the package as a zip,
    # where g.__file__ is not an openable path)
    src = g.__spec__.loader.get_source(g.__spec__.name)
    return hashlib.sha256(src.encode("utf-8")).hexdigest()[:12]


def corpus_parquet_dir(n_tables: int, entities_per_class: int,
                       seed: int = 42) -> str:
    """The corpus cache dir, keyed on the generator source AND the
    table list: a checkout that writes a different set of tables must
    not find another checkout's ``_DONE`` in a shared temp dir and then
    miss a table file."""
    import hashlib
    import os
    import tempfile

    tables = hashlib.sha256(",".join(_CORPUS_TABLE_NAMES).encode())
    return os.path.join(
        tempfile.gettempdir(),
        f"tds_corpus_{seed}_{n_tables}_{entities_per_class}"
        f"_{_generator_version()}_{tables.hexdigest()[:8]}",
    )


def load_or_build_corpus_dfs(
    spark: SparkSession, n_tables: int, entities_per_class: int,
    seed: int = 42,
) -> dict[str, DataFrame]:
    """Parquet-cached corpus tables keyed by generation parameters +
    generator-source hash: repeat runs (even across processes) skip
    Python corpus generation entirely."""
    import os

    from ..fixtures.generator import make_corpus

    from .catalog import read_source_table

    root = corpus_parquet_dir(n_tables, entities_per_class, seed)
    if not os.path.exists(os.path.join(root, "_DONE")):
        corpus = make_corpus(
            n_tables=n_tables, entities_per_class=entities_per_class,
            seed=seed,
        )
        _write_corpus_parquet(corpus, root)
    # catalog-first resolution (sources/catalog.py): with an Iceberg
    # catalog configured these names resolve through it; in the
    # sandbox they fall back to the fixture parquet written above
    return {
        name: read_source_table(spark, name, parquet_root=root)
        for name in _CORPUS_TABLE_NAMES
    }


_CORPUS_TABLE_NAMES = [
    "source_repos", "entity_index", "kg_triples", "property_meta",
    "ontology_edges", "ontology_equivalent",
]


def _write_corpus_parquet(corpus: FixtureCorpus, root: str) -> None:
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(root, exist_ok=True)
    for name, (rows, schema) in _corpus_tables(corpus).items():
        path = os.path.join(root, f"{name}.parquet")
        cols = list(zip(*rows)) if rows else [[] for _ in schema.names]
        arrays = [
            pa.array(list(col), type=schema.field(i).type)
            for i, col in enumerate(cols)
        ]
        tmp = path + ".tmp"
        # bounded row groups: a single fat row group would pin every
        # row of a scan split to one task (parquet rows go to the
        # split containing the group's midpoint)
        pq.write_table(
            pa.Table.from_arrays(arrays, schema=schema), tmp,
            row_group_size=4096,
        )
        os.replace(tmp, path)
    with open(os.path.join(root, "_DONE"), "w") as f:
        f.write("ok")
