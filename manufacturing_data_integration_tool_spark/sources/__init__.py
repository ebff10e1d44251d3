from .readers import read_source_csv, read_source_jsonl, TABLE_NAMES
from .sinks import write_errors, write_valid
from .archive import archive_file
from .introspect import parquet_footer_audit

__all__ = [
    "parquet_footer_audit",
    "read_source_csv",
    "read_source_jsonl",
    "TABLE_NAMES",
    "write_errors",
    "write_valid",
    "archive_file",
]
