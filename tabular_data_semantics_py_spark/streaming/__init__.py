from .kg_ingest import accumulated_triples, stream_kg_triples  # noqa: F401
