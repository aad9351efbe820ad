from lakeforge.io.sources import read_csv, read_parquet, read_parquet_if_exists
from lakeforge.io.sinks import (
    write_partitioned_parquet,
    write_jdbc,
    export_csv,
)

__all__ = [
    "read_csv",
    "read_parquet",
    "read_parquet_if_exists",
    "write_partitioned_parquet",
    "write_jdbc",
    "export_csv",
]
