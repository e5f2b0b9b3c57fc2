from .repo_source import (  # noqa: F401
    corpus_to_dataframes,
    discover_csv_artifacts,
)
from .csv_cells import parse_cells  # noqa: F401
from .annotations import (  # noqa: F401
    read_cea_csv,
    read_cta_csv,
    write_cea_csv,
    write_cta_csv,
)
