"""CSV artifact → exploded cells DataFrame (SURVEY.md §2.1 S1).

The reference reads CSV files row-by-row on one thread
(oaei/tabular2rdf.py:177-239). Here each *partition* of the source
table parses its artifacts inside ``mapInPandas`` (Arrow-batched; the
``csv`` module runs once per artifact, never per cell), emitting one
output row per cell. Parse semantics are pinned to the reference:

- delimiter=',', quotechar='"', escapechar='\\'
  (test/challenge_utils.py:534)
- first row is the header (oaei/tabular2rdf.py:202-210)
- short rows are skipped (oaei/tabular2rdf.py:213-215); long rows are
  truncated to the header width
- ``row`` is the 0-based physical data-row index (header excluded,
  skipped rows still counted) so lineage survives the skip

Scale note: the input is hash-partitioned by (repo, path) upstream;
one artifact never spans partitions, so the parse is embarrassingly
parallel and the only shuffle in the whole parse stage is the source
scan itself. ``content_sha`` is computed JVM-side with ``sha2`` before
Python ever touches the row, giving the per-row integrity invariant
(BASELINE.json input_hint) for free.
"""

from __future__ import annotations

import csv
import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

CELLS_SCHEMA = StructType(
    [
        StructField("table_id", StringType(), False),
        StructField("repo", StringType(), False),
        StructField("path", StringType(), False),
        StructField("commit", StringType(), False),
        StructField("content_sha", StringType(), False),
        StructField("row", IntegerType(), False),  # -1 = header row
        StructField("col", IntegerType(), False),
        StructField("cell", StringType(), False),
        StructField("n_cols", IntegerType(), False),
    ]
)


def _parse_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # Columnar output construction: the cell/row/col columns are built
    # with bulk list.extend per CSV row, and the five per-artifact
    # constant columns (table_id … content_sha) are np.repeat'ed by
    # each artifact's cell count instead of appended per cell. A
    # per-cell emit() closure here was ~10× the cost of the csv parse
    # itself and dominated the whole front half of the pipeline.
    import numpy as np

    for pdf in batches:
        cells: list[str] = []
        rows_ix: list[int] = []
        cols_ix: list[int] = []
        meta: list[tuple] = []  # (table_id, repo, path, commit, sha)
        ncols_a: list[int] = []
        counts: list[int] = []
        for table_id, repo, path, commit, sha, content in zip(
            pdf["table_id"], pdf["repo"], pdf["path"], pdf["commit"],
            pdf["content_sha"], pdf["content"],
        ):
            reader = csv.reader(
                io.StringIO(content), delimiter=",", quotechar='"',
                escapechar="\\",
            )
            rows = list(reader)
            if not rows:
                continue
            header = rows[0]
            n_cols = len(header)
            col_range = list(range(n_cols))

            n0 = len(cells)
            cells.extend(header)
            rows_ix.extend([-1] * n_cols)
            cols_ix.extend(col_range)
            for i, row in enumerate(rows[1:]):
                if len(row) < n_cols:  # skip-don't-fail (tabular2rdf.py:213-215)
                    continue
                cells.extend(row[:n_cols])
                rows_ix.extend([i] * n_cols)
                cols_ix.extend(col_range)
            meta.append((table_id, repo, path, commit, sha))
            ncols_a.append(n_cols)
            counts.append(len(cells) - n0)
        k = np.asarray(counts, dtype=np.int64)
        yield pd.DataFrame(
            {
                "table_id": np.repeat(
                    np.asarray([m[0] for m in meta], dtype=object), k),
                "repo": np.repeat(
                    np.asarray([m[1] for m in meta], dtype=object), k),
                "path": np.repeat(
                    np.asarray([m[2] for m in meta], dtype=object), k),
                "commit": np.repeat(
                    np.asarray([m[3] for m in meta], dtype=object), k),
                "content_sha": np.repeat(
                    np.asarray([m[4] for m in meta], dtype=object), k),
                "row": np.asarray(rows_ix, dtype=np.int32),
                "col": np.asarray(cols_ix, dtype=np.int32),
                "cell": np.asarray(cells, dtype=object),
                "n_cols": np.repeat(
                    np.asarray(ncols_a, dtype=np.int32), k),
            }
        )


def parse_cells(artifacts: DataFrame) -> DataFrame:
    """artifacts (from discover_csv_artifacts) → cells DataFrame.

    Returns header rows as row == -1; ``data_cells`` keeps the
    ``row >= 0`` data cells.

    The parse is the pipeline's heaviest Python stage, and everything
    downstream of it is narrow (broadcast joins) until the first wide
    shuffle — so its parallelism caps the whole front half of the
    pipeline. A pathological input layout (one small file / one fat
    row group) would serialize it; when the scan yields fewer
    partitions than the session's parallelism, hash-repartition the
    (tiny, pre-explosion) artifact rows by (repo, path) first. On a
    real 100 TB table the scan already has thousands of splits and no
    shuffle happens.
    """
    sc = artifacts.sparkSession.sparkContext
    # Rebalance SMALL inputs (sandbox / test corpora): byte-range
    # splits of a single small parquet file assign whole row groups by
    # midpoint, so at parallelism P the largest of P splits can carry
    # ~2× the mean (measured: 1.9× task skew → the parse stage's wall
    # stuck at the fattest task). Hash-repartitioning the pre-explosion
    # artifact rows by (repo, path) into 2P partitions evens the load
    # and gives two scheduling waves. A real 100 TB table has
    # thousands of scan splits and never enters this branch.
    if artifacts.rdd.getNumPartitions() < 2 * sc.defaultParallelism:
        artifacts = artifacts.repartition(
            2 * sc.defaultParallelism, "repo", "path"
        )
    with_sha = artifacts.withColumn("content_sha", F.sha2(F.col("content"), 256))
    cols = ["table_id", "repo", "path", "commit", "content_sha", "content"]
    return with_sha.select(*cols).mapInPandas(_parse_partition, CELLS_SCHEMA)


def data_cells(cells: DataFrame) -> DataFrame:
    return cells.where(F.col("row") >= 0)
