"""Triple emission: tabular cells + annotations → canonical
(subj, pred, obj, obj_is_literal) graph rows (SURVEY.md §2.8 E1-E4).

URI-minting scheme mirrors oaei/tabular2rdf.py:120-163:
- column property  : TABLE_BASE + "{table}-col-{i}"  (E1)
- row individual   : TABLE_BASE + "{table}-col-0-row-{r}"  (E2)
- role assertions  : (row_uri, prop_i, literal cell) for nonempty
                     cells (E3, tabular2rdf.py:167-172)
- provenance       : tdkg-style table/column/row annotations (E4)
- sameAs link to the CEA entity; rdf:type from the main column's CTA.

Everything is select/union/dropDuplicates — pure Catalyst. Subject-
hash bucketing for the writer lives in the sink (sources/sinks.py
``write_graph``), not here — emitting pre-bucketed would cost every
non-writing consumer (counts, joins, CPA) a redundant full shuffle of
the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..barriers import parquet_barrier
from ..sources.csv_cells import data_cells
from ..constants import (
    ANN_COLUMN,
    ANN_ROW,
    ANN_TABLE,
    OWL_DATATYPE_PROPERTY,
    OWL_NAMED_INDIVIDUAL,
    OWL_SAMEAS,
    RDF_TYPE,
    RDFS_LABEL,
    TABLE_BASE,
)

def _prop_uri(col_expr) -> F.Column:
    return F.concat(
        F.col("table_id"), F.lit("-col-"), col_expr.cast("string")
    )


def build_rows_present(cells: DataFrame) -> DataFrame:
    """(table_id, row, max_len, main_cell) for every non-empty data
    row — the row-URI spine of emission. Depends ONLY on the cells
    parse, so the pipeline materializes it on a pool driver thread
    concurrently with the whole candidates/CEA chain (plans/
    pipeline.py) instead of serially inside the triples stage."""
    data = data_cells(cells)
    rows_present = (
        data.groupBy("table_id", "row")
        .agg(
            F.max(F.length("cell")).alias("max_len"),
            F.max(F.when(F.col("col") == 0, F.col("cell"))).alias("main_cell"),
        )
        .where(F.col("max_len") > 0)
    )
    # 7 consumers; fact-scale (one row per table row) → parquet
    # barrier, not executor storage (barriers.py)
    return parquet_barrier(rows_present, "emit_rows_present")


def emit_triples(
    cells: DataFrame,
    cea_df: DataFrame,
    cta_df: DataFrame,
    rows_present: DataFrame | None = None,
) -> DataFrame:
    """cells = full parse output (header rows included, row == -1).

    ``rows_present``: a pre-materialized ``build_rows_present`` output
    (the pipeline's concurrent path); None = build it here."""
    base = F.lit(TABLE_BASE)

    headers = cells.where(F.col("row") == -1)
    prop = F.concat(base, _prop_uri(F.col("col")))
    prop_triples = headers.select(
        prop.alias("subj"), F.lit(RDF_TYPE).alias("pred"),
        F.lit(OWL_DATATYPE_PROPERTY).alias("obj"),
        F.lit(False).alias("obj_is_literal"),
    ).union(
        headers.select(
            prop.alias("subj"), F.lit(RDFS_LABEL).alias("pred"),
            F.col("cell").alias("obj"), F.lit(True).alias("obj_is_literal"),
        )
    )

    data = data_cells(cells)
    if rows_present is None:
        rows_present = build_rows_present(cells)
    row_uri = F.concat(
        base, F.col("table_id"), F.lit("-col-0-row-"),
        F.col("row").cast("string"),
    )
    row_triples = (
        rows_present.select(
            row_uri.alias("subj"), F.lit(RDF_TYPE).alias("pred"),
            F.lit(OWL_NAMED_INDIVIDUAL).alias("obj"), F.lit(False).alias("obj_is_literal"),
        )
        .union(
            rows_present.where(F.length("main_cell") > 0).select(
                row_uri.alias("subj"), F.lit(RDFS_LABEL).alias("pred"),
                F.col("main_cell").alias("obj"), F.lit(True).alias("obj_is_literal"),
            )
        )
        .union(
            rows_present.select(
                row_uri.alias("subj"), F.lit(ANN_TABLE).alias("pred"),
                F.col("table_id").alias("obj"), F.lit(True).alias("obj_is_literal"),
            )
        )
        .union(
            rows_present.select(
                row_uri.alias("subj"), F.lit(ANN_COLUMN).alias("pred"),
                F.lit("0").alias("obj"), F.lit(True).alias("obj_is_literal"),
            )
        )
        .union(
            rows_present.select(
                row_uri.alias("subj"), F.lit(ANN_ROW).alias("pred"),
                F.col("row").cast("string").alias("obj"),
                F.lit(True).alias("obj_is_literal"),
            )
        )
    )

    role_triples = data.where(
        (F.col("col") > 0) & (F.length("cell") > 0)
    ).select(
        row_uri.alias("subj"),
        F.concat(base, _prop_uri(F.col("col"))).alias("pred"),
        F.col("cell").alias("obj"),
        F.lit(True).alias("obj_is_literal"),
    )

    sameas = cea_df.where(F.col("col") == 0).select(
        F.concat(
            base, F.col("table_id"), F.lit("-col-0-row-"),
            F.col("row").cast("string"),
        ).alias("subj"),
        F.lit(OWL_SAMEAS).alias("pred"),
        F.col("uri").alias("obj"),
        F.lit(False).alias("obj_is_literal"),
    )

    cta_main = cta_df.where(F.col("col") == 0).select("table_id", "cls")
    cta_types = rows_present.join(cta_main, "table_id").select(
        row_uri.alias("subj"), F.lit(RDF_TYPE).alias("pred"),
        F.col("cls").alias("obj"), F.lit(False).alias("obj_is_literal"),
    )

    return (
        prop_triples.union(row_triples).union(role_triples)
        .union(sameas).union(cta_types)
        .dropDuplicates(["subj", "pred", "obj", "obj_is_literal"])
    )
