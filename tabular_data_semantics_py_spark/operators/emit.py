"""Triple emission: tabular cells + annotations → canonical
(subj, pred, obj, obj_is_literal) graph rows (SURVEY.md §2.8 E1-E4).

URI-minting scheme mirrors oaei/tabular2rdf.py:120-163:
- column property  : TABLE_BASE + "{table}-col-{i}"  (E1)
- row individual   : TABLE_BASE + "{table}-col-0-row-{r}"  (E2)
- role assertions  : (row_uri, prop_i, literal cell) for nonempty
                     cells (E3, tabular2rdf.py:167-172)
- provenance       : tdkg-style table/column/row annotations (E4)
- sameAs link to the CEA entity; rdf:type from the main column's CTA.

Everything is select/explode/union/dropDuplicates — pure Catalyst.
The output is not bucketed or repartitioned for a writer: the graph
sink that runs is ``streaming.kg_ingest``'s plain parquet append, read
back through ``accumulated_triples``, and a pre-bucketed output would
cost every other consumer (counts, joins) a full shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

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


def _triple(pred: str, obj: F.Column, obj_is_literal: bool) -> F.Column:
    """One (pred, obj, obj_is_literal) element of a per-row triple
    array; every element has the same struct type."""
    return F.struct(
        F.lit(pred).alias("pred"), obj.alias("obj"),
        F.lit(obj_is_literal).alias("obj_is_literal"),
    )


def build_rows_present(cells: DataFrame) -> DataFrame:
    """(table_id, row, max_len, main_cell) for every non-empty data
    row — the row-URI spine of emission, lazy: its one consumer is the
    row-triple explode in ``emit_triples``."""
    return (
        data_cells(cells).groupBy("table_id", "row")
        .agg(
            F.max(F.length("cell")).alias("max_len"),
            F.max(F.when(F.col("col") == 0, F.col("cell"))).alias("main_cell"),
        )
        .where(F.col("max_len") > 0)
    )


def emit_triples(
    cells: DataFrame,
    cea_df: DataFrame,
    cta_df: DataFrame,
    rows_present: DataFrame | None = None,
) -> DataFrame:
    """cells = full parse output (header rows included, row == -1).

    ``rows_present``: a ``build_rows_present`` output; None = build it
    here."""
    base = F.lit(TABLE_BASE)

    prop = F.concat(base, _prop_uri(F.col("col")))
    prop_triples = cells.where(F.col("row") == -1).select(
        prop.alias("subj"),
        F.explode(F.array(
            _triple(RDF_TYPE, F.lit(OWL_DATATYPE_PROPERTY), False),
            _triple(RDFS_LABEL, F.col("cell"), True),
        )).alias("t"),
    ).select("subj", "t.*")

    data = data_cells(cells)
    if rows_present is None:
        rows_present = build_rows_present(cells)
    row_uri = F.concat(
        base, F.col("table_id"), F.lit("-col-0-row-"),
        F.col("row").cast("string"),
    )
    # the five row triples and the rdf:type of the main column's CTA
    # class in one pass over the row spine: a NULL object (an empty
    # main cell, a table without a CTA) drops its triple
    cta_main = cta_df.where(F.col("col") == 0).select("table_id", "cls")
    row_triples = rows_present.join(cta_main, "table_id", "left").select(
        row_uri.alias("subj"),
        F.explode(F.filter(
            F.array(
                _triple(RDF_TYPE, F.lit(OWL_NAMED_INDIVIDUAL), False),
                _triple(
                    RDFS_LABEL,
                    F.when(F.length("main_cell") > 0, F.col("main_cell")),
                    True,
                ),
                _triple(ANN_TABLE, F.col("table_id"), True),
                _triple(ANN_COLUMN, F.lit("0"), True),
                _triple(ANN_ROW, F.col("row").cast("string"), True),
                _triple(RDF_TYPE, F.col("cls"), False),
            ),
            lambda t: t["obj"].isNotNull(),
        )).alias("t"),
    ).select("subj", "t.*")

    role_triples = data.where(
        (F.col("col") > 0) & (F.length("cell") > 0)
    ).select(
        row_uri.alias("subj"),
        F.concat(base, _prop_uri(F.col("col"))).alias("pred"),
        F.col("cell").alias("obj"),
        F.lit(True).alias("obj_is_literal"),
    )

    sameas = cea_df.where(F.col("col") == 0).select(
        row_uri.alias("subj"),
        F.lit(OWL_SAMEAS).alias("pred"),
        F.col("uri").alias("obj"),
        F.lit(False).alias("obj_is_literal"),
    )

    return (
        prop_triples.union(row_triples).union(role_triples).union(sameas)
        .dropDuplicates(["subj", "pred", "obj", "obj_is_literal"])
    )
