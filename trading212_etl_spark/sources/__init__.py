from .readers import (
    SCHEMAS,
    TABLES,
    flatten_struct,
    load_table,
    read_csv_pinned,
    read_json_records,
)
from .writers import write_parquet

__all__ = [
    "SCHEMAS",
    "TABLES",
    "flatten_struct",
    "load_table",
    "read_csv_pinned",
    "read_json_records",
    "write_parquet",
]
