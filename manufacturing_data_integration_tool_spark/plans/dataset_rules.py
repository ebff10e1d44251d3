"""Dataset-scoped rules: windows, joins, and two-pass global statistics.

These are the rules that need to see more than one row. The reference ran
only ``duplicate_check`` (``src/data_validator.py:204-226``); ``unique
scope="daily"``, ``outlier_detection`` and ``referential_integrity`` were
declared in config but silently ignored (SURVEY.md P7/P8/J2). We implement
all four; the declared-only ones are gated behind ``extensions=True`` so
reference-exact behavior stays available.

Scale notes (100 TB posture, SURVEY.md §7.3):

* ``duplicate_check`` / ``unique daily`` use ``Window.partitionBy(keys)`` —
  a key-hash shuffle that scales horizontally; never a global sort.
* ``outlier zscore`` computes mean/stddev with a two-pass **aggregate +
  broadcast join of the scalar** — an unpartitioned ``Window`` would funnel
  the whole table through one task.
* ``referential_integrity`` broadcasts the distinct dim keys and appends an
  error for unmatched rows (anti-join semantics without losing the row).

Every function takes and returns a DataFrame that carries an
``errors: array<struct>`` column and appends to it.
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import Column, DataFrame, Window, functions as F

from .rules import ERRORS, error_struct

__all__ = [
    "append_errors",
    "duplicate_check",
    "unique_within_day",
    "zscore_outlier_check",
    "referential_check",
]


def append_errors(df: DataFrame, maybe_error: Column) -> DataFrame:
    """Append a nullable error-struct Column to the row's errors array."""
    return df.withColumn(ERRORS, F.concat(F.col(ERRORS), F.array_compact(F.array(maybe_error))))


def duplicate_check(
    df: DataFrame, key_fields: list[str], scope_cols: Optional[list[str]] = None
) -> DataFrame:
    """All members of any duplicate key group get a DUPLICATE error —
    pandas ``duplicated(keep=False)`` semantics (``src/data_validator.py:212``)
    — but only rows that are not already invalid, matching the reference's
    ``if idx not in self.invalid_rows`` guard (``:215``).

    NULL keys group together (pandas treats NaN as equal in ``duplicated``;
    ``partitionBy`` groups nulls the same way).

    ``scope_cols`` (typically the file-lineage column) reproduces the
    reference's per-file batch loop: a glob is ONE distributed read here,
    but each file is still its own validation universe.
    """
    w = Window.partitionBy(*[F.col(f) for f in (scope_cols or []) + key_fields])
    is_dup = F.count(F.lit(1)).over(w) > 1
    err = F.when(
        is_dup & (F.size(F.col(ERRORS)) == 0),
        error_struct(
            ",".join(key_fields),
            F.lit("multiple"),
            "DUPLICATE",
            f"Duplicate combination of {key_fields}",
        ),
    )
    return append_errors(df, err)


def unique_within_day(
    df: DataFrame, field: str, ts_field: str, scope_cols: Optional[list[str]] = None
) -> DataFrame:
    """``unique scope="daily"`` (declared-only in the reference,
    ``config/mapping_config.xml:27``): the same value must not repeat within
    one event-time day. Extension rule."""
    # try_to_timestamp: malformed raw strings must yield a NULL day (the row
    # already gets its DATE_FORMAT error from the row rules), not an ANSI
    # SparkDateTimeException that kills the job.
    day = F.to_date(F.try_to_timestamp(F.col(ts_field).cast("string")))
    w = Window.partitionBy(*[F.col(c) for c in scope_cols or []], day, F.col(field))
    is_dup = (F.count(F.lit(1)).over(w) > 1) & F.col(field).isNotNull()
    err = F.when(
        is_dup,
        error_struct(
            field,
            F.col(field),
            "UNIQUE",
            F.concat(F.lit(f"{field}='"), F.col(field).cast("string"), F.lit("' repeats within one day")),
        ),
    )
    return append_errors(df, err)


def zscore_outlier_check(
    df: DataFrame,
    field: str,
    threshold: float = 3.0,
    partition_by: Optional[list[str]] = None,
) -> DataFrame:
    """``outlier_detection method="zscore"`` (declared-only in the reference,
    ``config/mapping_config.xml:38``). Two-pass: aggregate mean/stddev_samp,
    broadcast the 1-row stats back, flag |z| > threshold. With
    ``partition_by``, stats are per-group via groupBy + broadcast join —
    still no unpartitioned window anywhere."""
    v = F.col(field).try_cast("double")
    mu, sigma = f"__mu_{field}", f"__sigma_{field}"
    if partition_by:
        stats = df.groupBy(*partition_by).agg(
            F.avg(v).alias(mu), F.stddev_samp(v).alias(sigma)
        )
        joined = df.join(F.broadcast(stats), on=partition_by, how="left")
    else:
        stats = df.agg(F.avg(v).alias(mu), F.stddev_samp(v).alias(sigma))
        joined = df.crossJoin(F.broadcast(stats))
    z = F.try_divide(v - F.col(mu), F.col(sigma))
    err = F.when(
        F.abs(z) > F.lit(threshold),
        error_struct(
            field,
            F.col(field),
            "OUTLIER",
            F.concat(
                F.lit(f"{field}="),
                v.cast("string"),
                F.lit(f" is a zscore outlier (|z| > {threshold})"),
            ),
        ),
    )
    return append_errors(joined, err).drop(mu, sigma)


def referential_check(
    df: DataFrame,
    fk_field: str,
    dim: DataFrame,
    dim_key: Optional[str] = None,
    foreign_table: str = "",
) -> DataFrame:
    """``referential_integrity`` (declared-only in the reference,
    ``config/mapping_config.xml:63``): fk value must exist in the dimension
    table. Broadcast the distinct dim keys; rows with no match get a
    REFERENTIAL error appended (anti-join detection that keeps the row)."""
    dim_key = dim_key or fk_field
    marker = f"__ref_ok_{fk_field}"
    keys = dim.select(F.col(dim_key).alias(fk_field)).distinct().withColumn(marker, F.lit(True))
    joined = df.join(F.broadcast(keys), on=fk_field, how="left")
    err = F.when(
        F.col(marker).isNull() & F.col(fk_field).isNotNull(),
        error_struct(
            fk_field,
            F.col(fk_field),
            "REFERENTIAL",
            F.concat(
                F.lit(f"{fk_field}='"),
                F.col(fk_field).cast("string"),
                F.lit(f"' not present in {foreign_table or 'reference table'}"),
            ),
        ),
    )
    return append_errors(joined, err).drop(marker)
