"""Whole-DataFrame validation: one Catalyst plan instead of a row loop.

Replaces the reference's ``DataValidator.validate_dataframe``
(``src/data_validator.py:61-94``). Pipeline:

1. column-presence check against ``df.columns`` on the driver — whole-file
   rejection before any job launches (reference ``:96-104``);
2. one ``select`` appends ``errors: array<struct>`` built from the compiled
   per-field rule expressions (``plans.rules``);
3. dataset rules (duplicate_check; extensions: unique-daily, zscore,
   referential) append further error structs (``plans.dataset_rules``);
4. the valid/invalid split is one predicate and its complement
   (``size(errors) == 0``), and the error report is an ``explode``.

No ``collect``, no Python UDFs, no row iteration — the full pass is
whole-stage-codegen'd and scales with partitions.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Any, Iterable, Mapping, Optional

from pyspark.sql import DataFrame, Window, functions as F

from ..config import FieldMapping, GlobalRule, IntegrationConfig
from . import dataset_rules
from .rules import ERRORS, CompileContext, compile_field_errors

__all__ = ["ValidationResult", "annotate_errors", "validate", "with_row_index"]

# The reference demos its lookup rule against a hardcoded product set
# (``src/data_validator.py:197``); we register the same set as a literal
# lookup so the golden fixture reproduces byte-for-byte.
REFERENCE_DEMO_LOOKUPS = {
    "Production.Products.ProductCode": ("PROD-A1", "PROD-B2", "PROD-C3", "PROD-D4"),
    # the reference keys its demo set on the bare column name
    # (src/data_validator.py:197) — register both forms
    "ProductCode": ("PROD-A1", "PROD-B2", "PROD-C3", "PROD-D4"),
}


@dataclass
class ValidationResult:
    annotated: DataFrame  # input columns + errors array
    valid: DataFrame  # errors == [] (errors column dropped)
    invalid: DataFrame  # errors != [] (errors column kept)
    errors: DataFrame  # exploded error report (one row per error)


def with_row_index(df: DataFrame, order_by: Optional[list[str]] = None, name: str = "row_index") -> DataFrame:
    """Deterministic row index when an ordering exists; otherwise a
    partition-stable id. pandas row indices are file order — at distributed
    scale "file order" is only meaningful per file, so error reports should
    be keyed on natural columns; this helper exists for compat/tests.

    .. warning:: The ``order_by`` form is an UNPARTITIONED global-sort
       window — every row funnels through ONE task. It exists solely so the
       9-row golden fixture can reproduce the reference's pandas row
       numbering byte-for-byte. Never call it from a pipeline or query
       path; nothing in the production surface does."""
    if order_by:
        w = Window.orderBy(*[F.col(c) for c in order_by])
        return df.withColumn(name, F.row_number().over(w) - 1)
    return df.withColumn(name, F.monotonically_increasing_id())


def check_columns(df: DataFrame, config: IntegrationConfig) -> None:
    missing = set(config.source_columns) - set(df.columns)
    if missing:
        raise ValueError(f"Missing required columns in CSV: {missing}")


def annotate_errors(
    df: DataFrame,
    config: IntegrationConfig,
    *,
    lookup_values: Optional[Mapping[str, Any]] = None,
    dim_tables: Optional[Mapping[str, DataFrame]] = None,
    extensions: bool = False,
    scope_cols: Optional[list[str]] = None,
    strict_lookup: bool = True,
) -> DataFrame:
    """Append the ``errors`` array column (row rules + dataset rules).

    ``scope_cols`` scopes dataset rules (duplicates, unique-daily, zscore
    stats) to sub-universes — pass the file-lineage column when a glob was
    read as one DataFrame, reproducing the reference's per-file loop. If
    omitted, the ``FileSource`` lineage column is picked up automatically.
    """
    check_columns(df, config)
    if scope_cols is None:
        scope_cols = ["FileSource"] if "FileSource" in df.columns else []
    deferred = frozenset(
        str(g.params.get("foreignTable", ""))
        for g in config.global_rules
        if g.kind == "referential_integrity"
    ) | frozenset(dim_tables or ())
    ctx = CompileContext(
        lookup_values=dict(REFERENCE_DEMO_LOOKUPS) | dict(lookup_values or {}),
        extensions=extensions,
        timestamp_field=config.timestamp_field(),
        strict_lookup=strict_lookup,
        deferred_lookup_tables=deferred,
    )
    schema = {f.name: f.dataType for f in df.schema.fields}

    field_arrays = [
        compile_field_errors(m.source, F.col(m.source), schema[m.source], m.required, m.rules, ctx)
        for m in config.fields
    ]
    if not field_arrays:
        # config with zero FieldMappings: every row is valid (typed empty array)
        from .rules import ERRORS_ARRAY_TYPE

        errors_col = F.lit(None).cast(ERRORS_ARRAY_TYPE)
        errors_col = F.coalesce(errors_col, F.array().cast(ERRORS_ARRAY_TYPE))
    elif len(field_arrays) == 1:
        errors_col = field_arrays[0]
    else:
        errors_col = F.concat(*field_arrays)
    out = df.withColumn(ERRORS, errors_col)

    # --- dataset-scoped per-field rules (declared-only in reference) ---
    if extensions:
        ts_field = ctx.timestamp_field
        for m in config.fields:
            for rule in m.rules:
                if rule.kind == "unique" and rule.params.get("scope") == "daily" and ts_field:
                    out = dataset_rules.unique_within_day(out, m.source, ts_field, scope_cols)
                elif rule.kind == "outlier_detection" and rule.params.get("method", "zscore") == "zscore":
                    out = dataset_rules.zscore_outlier_check(
                        out, m.source, float(rule.params.get("threshold", 3.0)),
                        partition_by=scope_cols or None,
                    )

    # --- global rules ---
    for g in config.global_rules:
        if g.kind == "duplicate_check":
            keys = [s.strip() for s in str(g.params.get("fields", "")).split(",") if s.strip()]
            if keys:
                out = dataset_rules.duplicate_check(out, keys, scope_cols)
        elif g.kind == "referential_integrity" and extensions:
            fk = g.params.get("foreignKey", "")
            table = g.params.get("foreignTable", "")
            dim = (dim_tables or {}).get(table)
            if fk and dim is not None:
                out = dataset_rules.referential_check(out, fk, dim, foreign_table=table)

    return out


def validate(
    df: DataFrame,
    config: IntegrationConfig,
    *,
    lookup_values: Optional[Mapping[str, Any]] = None,
    dim_tables: Optional[Mapping[str, DataFrame]] = None,
    extensions: bool = False,
    id_columns: Optional[list[str]] = None,
    scope_cols: Optional[list[str]] = None,
    strict_lookup: bool = True,
) -> ValidationResult:
    """Full validation pass -> (annotated, valid, invalid, errors report).

    ``id_columns`` restricts the error report's carried row identity; by
    default every source column is kept alongside the exploded error.
    """
    annotated = annotate_errors(
        df, config, lookup_values=lookup_values, dim_tables=dim_tables,
        extensions=extensions, scope_cols=scope_cols,
        strict_lookup=strict_lookup,
    )
    has_errors = F.size(F.col(ERRORS)) > 0
    valid = annotated.filter(~has_errors).drop(ERRORS)
    invalid = annotated.filter(has_errors)

    carry = id_columns if id_columns else [c for c in df.columns]
    err = F.explode(F.col(ERRORS)).alias("error")
    errors = invalid.select(*carry, err).select(
        *carry,
        F.col("error.field_name").alias("field_name"),
        F.col("error.field_value").alias("field_value"),
        F.col("error.error_type").alias("error_type"),
        F.col("error.error_message").alias("error_message"),
    )
    return ValidationResult(annotated=annotated, valid=valid, invalid=invalid, errors=errors)
