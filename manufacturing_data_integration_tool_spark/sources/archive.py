"""Archive sink: move processed files out of the inbox.

Reference: ``archive_file`` renames into ``data/processed/`` with a
``{YYYYmmdd_HHMMSS}_{name}`` prefix, gated by the
``ArchiveProcessedFiles`` flag (``src/etl_processor.py:160-179``).

Uses the Hadoop FS API through the active session (works for local paths,
``file:`` URIs and any configured DFS). Batch runs and file-stream
micro-batches both archive through this function at the end of the shared
per-frame step; the stream does NOT use the file source's
``cleanSource='archive'``, whose cleaner only runs at the next trigger and
so would strand an ``availableNow`` drain's last batch in the inbox (see
``streaming.file_pipeline``).
"""

from __future__ import annotations

from datetime import datetime
from pathlib import Path
from typing import Optional

from pyspark.sql import SparkSession


def archive_file(
    spark: SparkSession,
    source_path: str,
    archive_dir: Optional[str] = None,
    *,
    enabled: bool = True,
    now: Optional[datetime] = None,
) -> Optional[str]:
    """Move ``source_path`` into ``archive_dir`` with a timestamp prefix.
    Returns the destination path, or None when disabled (reference gate,
    etl_processor.py:162-163)."""
    if not enabled:
        return None
    src = Path(source_path)
    dest_dir = Path(archive_dir) if archive_dir else src.parent / "processed"
    stamp = (now or datetime.now()).strftime("%Y%m%d_%H%M%S")
    dest = dest_dir / f"{stamp}_{src.name}"

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    conf = jsc.hadoopConfiguration()
    src_p = jvm.org.apache.hadoop.fs.Path(str(src))
    fs = src_p.getFileSystem(conf)
    dest_p = jvm.org.apache.hadoop.fs.Path(str(dest))
    fs.mkdirs(dest_p.getParent())
    if not fs.rename(src_p, dest_p):
        raise IOError(f"archive rename failed: {src} -> {dest}")
    return str(dest)
