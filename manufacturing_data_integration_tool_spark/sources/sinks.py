"""Sinks.

Reference behavior being re-expressed (SURVEY.md S4/S5):

* valid rows -> target table with literal ``ValidationStatus='VALID'`` and
  ``FileSource`` lineage (``src/etl_processor.py:53-108``). The reference
  does row-wise parameterized INSERTs with a manual 1000-row commit loop;
  on Spark that's a single ``df.write``. The batch pipeline lands parquet;
  ``fmt="jdbc"`` is a sink-level format whose ``batchsize``/``numPartitions``
  options replace the hand-rolled commit chunking.
* validation errors -> error table with ``field_value`` truncated to 255
  chars (``src/etl_processor.py:110-144``), landed by the same writer.
"""

from __future__ import annotations

from typing import Mapping, Optional

from pyspark.sql import DataFrame, Observation, functions as F

from .readers import FILE_SOURCE_COL


def write_valid(
    df: DataFrame,
    path_or_table: str,
    *,
    fmt: str = "parquet",
    jdbc_options: Optional[Mapping[str, str]] = None,
) -> int:
    """Append ``df`` to the sink in ONE write job and return the row count.

    The count is an ``observe`` metric that rides along with the write
    instead of a second full scan (the reference reports rows_inserted,
    etl_processor.py:103; a separate ``df.count()`` would execute the whole
    upstream plan twice, which at 100 TB is two scans of the table)."""
    if fmt == "jdbc" and jdbc_options and "numPartitions" in jdbc_options:
        # When the ``numPartitions`` option reaches Spark's V1 JDBC writer,
        # the writer probes/derives the Dataset JVM-side and the execution
        # that actually moves rows no longer reports the plan's
        # ``CollectMetrics`` node — ``Observation.get`` deterministically
        # returns 0 while every row lands (verified against embedded Derby in
        # tests/test_jdbc_sink.py). So the option never reaches the writer:
        # ``coalesce`` (which, like the option, only ever REDUCES partition
        # count) applies the same cap below the observe node.
        jdbc_options = dict(jdbc_options)
        df = df.coalesce(int(jdbc_options.pop("numPartitions")))
    obs = Observation()
    writer = df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("append").format(fmt)
    if fmt == "jdbc":
        writer.options(**(jdbc_options or {})).save()
    else:
        writer.save(path_or_table)
    return int(obs.get["n"])


def shape_errors_for_sink(errors: DataFrame) -> DataFrame:
    """Error report -> sink schema, with the reference's 255-char value cap
    (etl_processor.py:134). Without lineage ``FileSource`` is ``""``."""
    src = F.col(FILE_SOURCE_COL) if FILE_SOURCE_COL in errors.columns else F.lit("")
    return errors.select(
        src.alias("FileSource"),
        F.col("error_type").alias("ErrorType"),
        F.col("error_message").alias("ErrorMessage"),
        F.col("field_name").alias("FieldName"),
        F.substring(F.col("field_value").cast("string"), 1, 255).alias("FieldValue"),
    )


def write_errors(
    errors: DataFrame,
    path_or_table: str,
    *,
    fmt: str = "parquet",
    jdbc_options: Optional[Mapping[str, str]] = None,
) -> int:
    """Append the shaped error report to the error sink; returns the row count."""
    return write_valid(shape_errors_for_sink(errors), path_or_table, fmt=fmt, jdbc_options=jdbc_options)


def write_orc(df, path: str, *, mode: str = "overwrite", partition_by=None):
    """ORC sink twin of the parquet writers: columnar, footer-typed,
    stripe-indexed — the interchange format for Hive-era consumers the
    parquet sinks don't reach. Pure pass-through to Spark's native ORC
    writer (same distributed write path, no driver materialization);
    ``partition_by`` maps to directory partitioning for downstream
    partition pruning."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(
            *([partition_by] if isinstance(partition_by, str) else partition_by)
        )
    w.orc(path)
