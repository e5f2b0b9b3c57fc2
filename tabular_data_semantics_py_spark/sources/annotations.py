"""SemTab-format annotation file IO (SURVEY.md §2.1 S2 / S10).

The reference reads/writes CEA/CTA/CPA CSVs with positional schemas,
quoted fields and length guards (test/challenge_utils.py:35-66,
139-162,460-475; oaei/dbpedia_fragment.py:124-147). Multi-URI fields
are space-joined (challenge_utils.py:339-346). Here the same formats
are first-class Spark reads/writes so a user of the reference can
exchange files with this engine directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    StringType,
    StructField,
    StructType,
)

CEA_SCHEMA = StructType(
    [
        StructField("table_id", StringType(), False),
        StructField("col", IntegerType(), False),
        StructField("row", IntegerType(), False),
        StructField("entities", StringType(), False),  # space-joined URIs
    ]
)

CTA_SCHEMA = StructType(
    [
        StructField("table_id", StringType(), False),
        StructField("col", IntegerType(), False),
        StructField("cls", StringType(), False),
        StructField("ancestors", StringType(), True),  # space-joined
    ]
)


def read_cea_csv(spark: SparkSession, path: str) -> DataFrame:
    """CEA file → (table_id, col, row, entities:array<string>).
    Malformed short rows are dropped (skip-don't-fail,
    challenge_utils.py:44-45: DROPMALFORMED, then null guard)."""
    df = spark.read.csv(
        path, schema=CEA_SCHEMA, quote='"', escape="\\", mode="DROPMALFORMED"
    )
    return (
        df.where(
            F.col("table_id").isNotNull()
            & F.col("col").isNotNull()
            & F.col("row").isNotNull()
        )
        .withColumn(
            "entities",
            # an empty field, "" or bare, means NO annotation, not ['']
            # (F.split would yield one phantom empty-URI element).
            # Spark's CSV reader reads it as null, and DROPMALFORMED
            # has dropped the short rows, so here null is that field
            # (mirrors the ancestors handling in read_cta_csv)
            F.when(
                F.col("entities").isNull(), F.array().cast("array<string>")
            ).otherwise(F.split(F.col("entities"), " ")),
        )
    )


def read_cta_csv(spark: SparkSession, path: str) -> DataFrame:
    df = spark.read.csv(
        path, schema=CTA_SCHEMA, quote='"', escape="\\", mode="DROPMALFORMED"
    )
    return df.where(
        F.col("table_id").isNotNull()
        & F.col("col").isNotNull()
        & F.col("cls").isNotNull()
    ).withColumn(
        "ancestors",
        F.when(
            F.col("ancestors").isNull() | (F.col("ancestors") == ""),
            F.array().cast("array<string>"),
        ).otherwise(F.split(F.col("ancestors"), " ")),
    )


def write_cea_csv(cea: DataFrame, path: str) -> None:
    """(table_id, col, row, uri|entities) → SemTab CEA CSV
    (challenge_utils.py:460-475 format)."""
    if "entities" in cea.columns:  # array<string>, as read_cea_csv returns
        ent = F.concat_ws(" ", F.col("entities"))
    else:
        ent = F.col("uri")
    (
        cea.select(
            "table_id",
            F.col("col").cast("string"),
            F.col("row").cast("string"),
            ent.alias("entities"),
        )
        .write.mode("overwrite")
        .option("quoteAll", True)
        .csv(path)
    )


def write_cta_csv(cta: DataFrame, path: str) -> None:
    """(table_id, col, cls, ancestors) → SemTab CTA CSV; ancestors may
    be the space-joined string (challenge_utils.py:139-162) OR the
    array<string> that read_cta_csv returns — the CSV sink rejects
    array columns, so the round-trip needs the same dual-shape
    handling write_cea_csv has."""
    anc = F.col("ancestors")
    if dict(cta.dtypes).get("ancestors", "").startswith("array"):
        anc = F.concat_ws(" ", anc)
    (
        cta.select(
            "table_id", F.col("col").cast("string"), "cls",
            anc.alias("ancestors"),
        )
        .write.mode("overwrite")
        .option("quoteAll", True)
        .csv(path)
    )
