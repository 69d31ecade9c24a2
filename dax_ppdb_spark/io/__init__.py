from .parquet_io import write_manifest, write_parquet  # noqa: F401
from .table import ParquetTable  # noqa: F401
from .pg_copy import pg_copy_tuples, read_pg_copy, write_pg_copy  # noqa: F401
from .bucketed import (  # noqa: F401
    bucket_pruned_scan,
    bucket_spec,
    colocated,
    drop_bucketed,
    enable_sorted_bucket_scan,
    point_lookup,
    read_bucketed,
    register_bucketed,
    validate_bucketing,
    write_bucketed,
)
