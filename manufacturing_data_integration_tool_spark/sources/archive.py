"""Archive sink: move processed files out of the inbox.

Reference: ``archive_file`` renames into ``data/processed/`` with a
``{YYYYmmdd_HHMMSS}_{name}`` prefix, gated by the
``ArchiveProcessedFiles`` flag (``src/etl_processor.py:160-179``); here the
pipeline resolves that flag and always names the archive directory.

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
    archive_dir: str,
    *,
    now: Optional[datetime] = None,
) -> str:
    """Move ``source_path`` into ``archive_dir`` as ``<stamp>_<name>`` and
    return the destination. When that name is taken (one glob matched the
    same file name in two directories), the first free
    ``<stamp>_<stem>-<n><suffix>`` is used; nothing is ever overwritten."""
    src = Path(source_path)
    stamp = (now or datetime.now()).strftime("%Y%m%d_%H%M%S")
    hpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    src_p = hpath(str(src))
    fs = src_p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    dest = Path(archive_dir) / f"{stamp}_{src.name}"
    n = 0
    while fs.exists(hpath(str(dest))):
        n += 1
        dest = Path(archive_dir) / f"{stamp}_{src.stem}-{n}{src.suffix}"
    dest_p = hpath(str(dest))
    fs.mkdirs(dest_p.getParent())
    if not fs.rename(src_p, dest_p):
        raise IOError(f"archive rename failed: {src} -> {dest}")
    return str(dest)
