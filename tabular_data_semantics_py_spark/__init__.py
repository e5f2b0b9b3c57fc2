"""tabular_data_semantics_py_spark — a PySpark-native knowledge-graph
construction engine with the query/data-processing capabilities of
``ernestojimenezruiz/tabular-data-semantics-py`` (the reference), built
from scratch on the Spark DataFrame API.

The reference is a single-threaded Python library that annotates CSV
tables against remote KGs (DBpedia/Wikidata) — CEA / CTA / CPA tasks
plus RDF triple emission (see SURVEY.md). This package
re-expresses those semantics as distributed, Catalyst-optimizable
DataFrame dataflow over an Iceberg/parquet table of source-code
repositories ``(repo, path, commit, lang, content)``:

- ``sources``    — artifact discovery + vectorized CSV cell parsing
- ``functions``  — mention normalization / lexical scoring
- ``operators``  — entity linking, type cascade, CEA/CTA/CPA, triple
                   emission and KG-fragment extraction
- ``plans``      — the end-to-end checkpointed pipeline
- ``streaming``  — incremental ingestion of arriving source files
- ``fixtures``   — deterministic synthetic corpus + a plain-Python
                   oracle re-executing the reference's decision logic
"""

__version__ = "0.1.0"
