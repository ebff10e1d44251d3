"""Rule compiler: validation rules -> Spark ``Column`` expressions.

This is the architectural core of the rebuild. The reference evaluates rules
row-at-a-time in Python (``src/data_validator.py:75,137-202``); here every
rule compiles to a vectorized boolean ``Column`` + error-struct builder, so
the whole validation pass is one Catalyst plan under whole-stage codegen —
no Python in the hot path, which is what makes the engine viable at 100 TB.

Pinned semantic quirks (verified against the reference by execution,
SURVEY.md §5/§7.3):

* ``required`` missing value short-circuits all other rules for the field
  and emits REQUIRED_FIELD_MISSING (``src/data_validator.py:114-127``).
* missing + not-required skips all rules for the field.
* ``not_null`` also rejects whitespace-only strings
  (``src/data_validator.py:140-142``).
* ``range``: non-numeric value -> NUMERIC error; bounds inclusive-pass
  (strict <, > comparisons fail); min checked before max — at most ONE
  error per rule application (``src/data_validator.py:144-158``).
* ``regex`` is anchored at the start (Python ``re.match``,
  ``src/data_validator.py:160-165``) — we anchor explicitly because Spark's
  ``rlike`` is a *search*.
* ``date_range``: unparseable -> DATE_FORMAT, else DATE_RANGE on bound
  violation (``src/data_validator.py:167-185``).
* ``lookup``: membership in a reference set; compiled to ``isin`` for
  literal sets (big dims go through the broadcast anti-join path in
  ``dataset_rules``) (``src/data_validator.py:187-200``).

Each compiler returns a Column that evaluates to an error struct
(``field_name, field_value, error_type, error_message``) when the rule
fails, else NULL; the validator packs them with ``array_compact``.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Any, Mapping, Optional

from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

__all__ = [
    "ERRORS",
    "ERROR_STRUCT_TYPE",
    "ERRORS_ARRAY_TYPE",
    "CompileContext",
    "error_struct",
    "compile_rule",
    "compile_field_errors",
    "anchored",
]

ERROR_STRUCT_TYPE = T.StructType(
    [
        T.StructField("field_name", T.StringType()),
        T.StructField("field_value", T.StringType()),
        T.StructField("error_type", T.StringType()),
        T.StructField("error_message", T.StringType()),
    ]
)
ERRORS_ARRAY_TYPE = T.ArrayType(ERROR_STRUCT_TYPE)
# name of the per-row ``array<ERROR_STRUCT_TYPE>`` column the validator appends
ERRORS = "errors"


@dataclass
class CompileContext:
    """Driver-side inputs the compilers may need.

    ``lookup_values`` maps "table.column" -> iterable of allowed literals
    (small dims); large dims belong in ``dataset_rules.referential_check``.
    """

    lookup_values: dict[str, Any] = dc_field(default_factory=dict)
    timestamp_field: Optional[str] = None
    # lookup rules with no registered literal set raise: that beats the
    # reference's silent fall-through (src/data_validator.py:197 simply
    # never dispatches an unknown column) — a misspelled lookup table
    # must not silently disable a validation. Tables listed in
    # ``deferred_lookup_tables`` (a referential-integrity rule or dim
    # table is configured for them) legitimately compile to None here.
    deferred_lookup_tables: frozenset = frozenset()


def error_struct(field_name: str, value: Column, error_type: str, message: Column | str) -> Column:
    msg = F.lit(message) if isinstance(message, str) else message
    return F.struct(
        F.lit(field_name).alias("field_name"),
        value.cast("string").alias("field_value"),
        F.lit(error_type).alias("error_type"),
        msg.alias("error_message"),
    )


def anchored(pattern: str) -> str:
    """Python ``re.match`` anchors at the start; Java ``rlike`` searches."""
    return pattern if pattern.startswith("^") else "^(?:" + pattern + ")"


# ---------------------------------------------------------------------------
# individual rule compilers: (field, value Column, params, ctx) -> Column
# (error struct when failing, NULL when passing)
# ---------------------------------------------------------------------------


def _not_null(fname: str, c: Column, params: Mapping[str, Any], ctx: CompileContext) -> Column:
    # rlike('^\s*$'), not trim()=='': F.trim strips only ASCII spaces, while
    # the reference's str.strip() (src/data_validator.py:141) also rejects
    # tab/newline-only values
    failing = c.isNull() | c.cast("string").rlike(r"^\s*$")
    return F.when(failing, error_struct(fname, c, "NOT_NULL", f"{fname} cannot be null"))


def _range(fname: str, c: Column, params: Mapping[str, Any], ctx: CompileContext) -> Column:
    num = c.try_cast("double")
    lo = params.get("min")
    hi = params.get("max")
    # numeric rendering: Python float(x) then str() => '300.0'; Spark
    # double->string matches for the magnitudes in play.
    nums = num.cast("string")
    expr = F.when(
        num.isNull(),
        error_struct(fname, c, "NUMERIC", F.concat(F.lit(f"{fname}='"), c.cast("string"), F.lit("' is not a valid number"))),
    )
    # NaN passes the bounds in the reference (float('nan') <|> bound is False
    # in Python), but Spark orders NaN greater than everything — without this
    # guard 'nan' would wrongly fall into the max branch.
    expr = expr.when(F.isnan(num), F.lit(None).cast(ERROR_STRUCT_TYPE))
    if lo is not None:
        expr = expr.when(
            num < F.lit(float(lo)),
            error_struct(fname, c, "RANGE", F.concat(F.lit(f"{fname}="), nums, F.lit(f" below minimum {lo}"))),
        )
    if hi is not None:
        expr = expr.when(
            num > F.lit(float(hi)),
            error_struct(fname, c, "RANGE", F.concat(F.lit(f"{fname}="), nums, F.lit(f" exceeds maximum {hi}"))),
        )
    return expr


def _regex(fname: str, c: Column, params: Mapping[str, Any], ctx: CompileContext) -> Optional[Column]:
    pattern = params.get("pattern")
    if not pattern:
        return None
    desc = params.get("description", f"match pattern {pattern}")
    failing = ~c.cast("string").rlike(anchored(pattern))
    return F.when(
        failing,
        error_struct(
            fname,
            c,
            "REGEX",
            F.concat(F.lit(f"{fname}='"), c.cast("string"), F.lit(f"' does not match required format: {desc}")),
        ),
    )


def _date_range(fname: str, c: Column, params: Mapping[str, Any], ctx: CompileContext) -> Column:
    ts = F.coalesce(
        F.try_to_timestamp(c.cast("string")),
        F.try_to_timestamp(c.cast("string"), F.lit("yyyy-MM-dd")),
    )
    expr = F.when(
        ts.isNull(),
        error_struct(fname, c, "DATE_FORMAT", F.concat(F.lit(f"{fname}='"), c.cast("string"), F.lit("' is not a valid date"))),
    )
    lo = params.get("min")
    hi = params.get("max")
    if lo:
        expr = expr.when(
            ts < F.to_timestamp(F.lit(lo)),
            error_struct(fname, c, "DATE_RANGE", f"{fname} date before minimum {lo}"),
        )
    if hi:
        expr = expr.when(
            ts > F.to_timestamp(F.lit(hi)),
            error_struct(fname, c, "DATE_RANGE", f"{fname} date after maximum {hi}"),
        )
    return expr


def _lookup(fname: str, c: Column, params: Mapping[str, Any], ctx: CompileContext) -> Optional[Column]:
    table = params.get("table", "")
    column = params.get("column", "")
    # Key resolution order: fully-qualified "table.column", then bare column
    # name — the reference dispatches its demo set on the column name alone
    # (src/data_validator.py:197), regardless of the table attribute.
    values = ctx.lookup_values.get(f"{table}.{column}")
    if values is None:
        values = ctx.lookup_values.get(column, params.get("values"))
    if values is None:
        if table in ctx.deferred_lookup_tables:
            # A referential-integrity rule / dim table is configured for
            # this table: dataset_rules.referential_check (broadcast
            # anti-join) owns the validation; per-row compilation has
            # nothing to check.
            return None
        raise ValueError(
            f"lookup rule on '{fname}' against {table}.{column} has no "
            "literal set registered and no referential path configured — "
            "a misspelled table would silently disable this validation. "
            "Register the set in lookup_values or configure a "
            "referential_integrity rule / dim table."
        )
    vals = sorted(str(v) for v in values)
    failing = ~c.cast("string").isin(vals)
    return F.when(
        failing,
        error_struct(
            fname,
            c,
            "LOOKUP",
            F.concat(F.lit(f"{fname}='"), c.cast("string"), F.lit(f"' not found in {table}")),
        ),
    )


_COMPILERS = {
    "not_null": _not_null,
    "range": _range,
    "regex": _regex,
    "date_range": _date_range,
    "lookup": _lookup,
}


def compile_rule(fname: str, c: Column, kind: str, params: Mapping[str, Any], ctx: CompileContext) -> Optional[Column]:
    """Compile a single rule; unknown kinds return None — matching the
    reference's silent fall-through for undispatched rule types
    (``src/data_validator.py:202``). Window/dataset-scoped kinds
    (``unique``, ``outlier_detection``) are handled in ``dataset_rules``."""
    fn = _COMPILERS.get(kind)
    return None if fn is None else fn(fname, c, params, ctx)


def missing_test(c: Column, dtype: T.DataType) -> Column:
    """pandas ``pd.isna`` analogue: NULL, plus NaN for floating columns."""
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        return c.isNull() | F.isnan(c)
    return c.isNull()


def compile_field_errors(
    fname: str,
    c: Column,
    dtype: T.DataType,
    required: bool,
    rules,
    ctx: CompileContext,
) -> Column:
    """Errors array for one field, reproducing the reference's control flow
    (``src/data_validator.py:106-135``): required-missing short-circuits,
    optional-missing skips, otherwise every rule runs and each failing rule
    contributes one error struct."""
    missing = missing_test(c, dtype)
    entries: list[Column] = []
    if required:
        entries.append(
            F.when(
                missing,
                error_struct(fname, c, "REQUIRED_FIELD_MISSING", f"Required field '{fname}' is empty"),
            )
        )
    present = ~missing
    for rule in rules:
        compiled = compile_rule(fname, c, rule.kind, rule.params, ctx)
        if compiled is not None:
            entries.append(F.when(present, compiled))
    if not entries:
        # typed empty array (cannot use F.array() — array<void> won't concat)
        return F.slice(F.array(error_struct(fname, c, "", "")), 1, 0)
    return F.array_compact(F.array(*entries))
