"""spark-submit entrypoint for the KG-construction pipeline.

Cluster usage (north_rule shape)::

  zip -r tds.zip tabular_data_semantics_py_spark
  spark-submit --py-files tds.zip \\
      --driver-memory 8g \\
      --driver-java-options "-Xms512m -XX:MetaspaceSize=256m" \\
      scripts/run_pipeline.py \\
      --source  s3://bucket/source_repos/    # Iceberg/parquet (repo,path,commit,lang,content)
      --index   s3://bucket/entity_index/ \\
      --triples s3://bucket/kg_triples/ \\
      --props   s3://bucket/property_meta/ \\
      --edges   s3://bucket/ontology_edges/ \\
      --equiv   s3://bucket/ontology_equiv/ \\
      --out     s3://bucket/kg_out/          # checkpoints + outputs

The session gets the job's settings (``session.job_session``) and no
master: ``spark-submit`` decides the master and the driver's memory
and Java options (``session.get_spark`` gives the ones the local
launcher uses; the JIT thresholds are there too). With no arguments it
runs the deterministic fixture corpus (sandbox mode) and writes to
./_kg_out. The triples land in ``<out>/triples``; the barriers and
``manifest.json`` in ``<out>``. Resumable: rerunning with the same
--out reads the barriers a finished or killed run completed. The last
stdout line is JSON: the triple count beside the session's effective
shuffle width and ``spark.sql.codegen.factoryMode``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

# Resolve the package from --py-files (spark-submit puts the zip on
# sys.path for driver and executors) when present; fall back to the
# repo checkout for bare `python scripts/run_pipeline.py` runs.
try:
    import tabular_data_semantics_py_spark  # noqa: F401
except ImportError:
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source")
    ap.add_argument("--index")
    ap.add_argument("--triples")
    ap.add_argument("--props")
    ap.add_argument("--edges")
    ap.add_argument("--equiv")
    ap.add_argument("--out", default="_kg_out")
    ap.add_argument("--no-resume", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from tabular_data_semantics_py_spark.barriers import part_rows
    from tabular_data_semantics_py_spark.plans.pipeline import run_pipeline
    from tabular_data_semantics_py_spark.session import job_session

    spark = job_session(SparkSession.builder.appName("tds-kg-pipeline"))

    if args.source:
        dfs = {
            "source_repos": spark.read.parquet(args.source),
            "entity_index": spark.read.parquet(args.index),
            "kg_triples": spark.read.parquet(args.triples),
            "property_meta": spark.read.parquet(args.props),
            "ontology_edges": spark.read.parquet(args.edges),
            "ontology_equivalent": spark.read.parquet(args.equiv),
        }
    else:  # sandbox: deterministic fixture corpus
        from tabular_data_semantics_py_spark.fixtures.generator import make_corpus
        from tabular_data_semantics_py_spark.sources.repo_source import (
            corpus_to_dataframes,
        )

        dfs = corpus_to_dataframes(spark, make_corpus())

    res = run_pipeline(
        spark, dfs, checkpoint_dir=args.out, resume=not args.no_resume
    )
    out = os.path.join(args.out, "triples")
    res.stages["triples"].write.mode("overwrite").parquet(out)
    print(json.dumps({
        "triples": sum(part_rows(spark, out).values()),
        "out": args.out,
        "shuffle_partitions": int(
            spark.conf.get("spark.sql.shuffle.partitions")),
        "factoryMode": spark.conf.get("spark.sql.codegen.factoryMode"),
    }))


if __name__ == "__main__":
    main()
