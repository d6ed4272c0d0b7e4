"""validate_fields: split rows into valid / invalid with per-row error codes.

Reference: ``validateFields`` at ``PipelineProcessor.scala:44-86``:
rules compile to SQL predicate strings (``notEmpty`` -> ``f != ''``,
``notNull`` -> ``f is not null``, ``:58-59``); the ok split filters on
their conjunction (``:68-69``), the ko split on its negation (``:72-73``)
and then builds an ``arraycoderrorbyfield`` array column by folding
``when(expr(!cond), array_union(col, lit(code)))`` (``:74-82``).

Engine design — one pass instead of two filters (SURVEY.md §4):
the error array is computed ONCE in a single projection as
``filter(array(when(fail_1, code_1), ...), x -> x is not null)``; the
splits are then ``size(errors)==0`` / ``>0`` over the same cached frame.

Semantics fixes, pinned by tests (SURVEY.md §2.3):

1. **NULL on a ``notEmpty`` field**: the reference's ``office != ''``
   is NULL for NULL office, so the row falls out of BOTH splits (filter
   keeps only true; ``!(NULL)`` is NULL too). The engine wraps every
   pass-predicate in ``coalesce(pred, false)`` so a NULL predicate counts
   as a failure and the splits exactly partition the input.
2. **Empty rule list**: the reference builds ``filter("")`` which Spark
   fails to parse; the engine treats "no rules" as "all rows ok".
3. Error codes keep the reference's ``field-rule`` format
   (``"office-notEmpty"``, ``"age-notNull"``, ``:58-59``) in rule order.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_kafka_airflow_pipeline_spark.metadata import Validation

ERROR_COLUMN = "arraycoderrorbyfield"  # reference name, PipelineProcessor.scala:74

# rule name -> (field -> pass-predicate Column); mirrors the match at
# PipelineProcessor.scala:58-59, extended with engine rules.
_RULES: dict[str, object] = {
    "notEmpty": lambda f: F.col(f) != F.lit(""),
    "notNull": lambda f: F.col(f).isNotNull(),
    # engine extensions
    "notBlank": lambda f: F.trim(F.col(f)) != F.lit(""),
    "positive": lambda f: F.col(f) > F.lit(0),
    "nonNegative": lambda f: F.col(f) >= F.lit(0),
}


def _unique_pred(f: str) -> Column:
    """Dataset-level rule as a plain Column: a windowed count over the
    field partitions the data once (hash shuffle on the field) and
    every row in a >1 group fails — the scalable formulation of a
    uniqueness expectation (no collect, no self-join)."""
    from pyspark.sql import Window

    return F.count(F.lit(1)).over(Window.partitionBy(f)) == 1


# parameterized rules, metadata syntax "name:arg[:arg]" (keeps the
# reference's plain-string rule lists, Dataflow.scala:22-26)
def _param_rule(field: str, rule: str) -> Column | None:
    name, _, arg = rule.partition(":")
    if name == "matches":          # matches:<regex>
        return F.col(field).rlike(arg)
    if name == "oneOf":            # oneOf:a|b|c
        return F.col(field).isin(*arg.split("|"))
    if name == "inRange":          # inRange:<lo>:<hi> (inclusive)
        lo, _, hi = arg.partition(":")
        return F.col(field).between(float(lo), float(hi))
    if name == "minLength":        # minLength:<n>
        return F.length(F.col(field)) >= int(arg)
    if name == "maxLength":        # maxLength:<n>
        return F.length(F.col(field)) <= int(arg)
    return None


def compile_rule(field: str, rule: str) -> tuple[Column, str]:
    """Compile one declarative rule to (pass-predicate, error-code).

    Error codes keep the reference's ``field-rule`` format; for
    parameterized rules the full rule string (args included) is the
    code, so a row failing ``age-inRange:0:120`` names its bound."""
    if rule == "unique":
        return _unique_pred(field), f"{field}-unique"
    if rule in _RULES:
        return _RULES[rule](field), f"{field}-{rule}"
    if ":" in rule:
        pred = _param_rule(field, rule)
        if pred is not None:
            return pred, f"{field}-{rule}"
    raise ValueError(f"unknown validation rule {rule!r} for field {field!r}; "
                     f"known: {sorted(_RULES) + ['unique', 'matches:<re>', 'oneOf:a|b', 'inRange:lo:hi', 'minLength:n', 'maxLength:n']}")


def validate_fields_split(
        df: DataFrame, validations: Iterable[Validation],
        cache: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame | None]:
    """Return ``(ok_df, ko_df, cached_frame_or_None)``.

    ``ok_df`` has the input schema; ``ko_df`` adds the
    ``arraycoderrorbyfield`` array<string> column. The two splits
    partition the input exactly (every row lands in exactly one).

    The ANNOTATED parent frame is cached at the split point because both
    splits consume it — the reference does the same for the same reason
    (``PipelineProcessor.scala:64-65``); at scale this avoids
    re-scanning the source per sink. That parent is the third return
    value so the caller can ``unpersist()`` it after all sinks are
    written — the ok/ko children report ``is_cached == False``
    (the cache sits on the parent plan), so a caller scanning outputs
    for cached frames would find nothing and leak the cache entry.
    """
    rules: list[tuple[Column, str]] = []
    for v in validations:
        for rule in v.validations:
            rules.append(compile_rule(v.field, rule))

    if not rules:
        # no rules => everything valid (reference would crash on filter(""))
        empty_errors = F.array().cast("array<string>")
        return df, df.withColumn(ERROR_COLUMN, empty_errors).limit(0), None

    # one projection computes all error codes; NULL predicate == failure
    error_entries = [
        F.when(~F.coalesce(pred, F.lit(False)), F.lit(code))
        for pred, code in rules
    ]
    annotated = df.withColumn(
        ERROR_COLUMN,
        F.filter(F.array(*error_entries), lambda x: x.isNotNull()),
    )
    if cache:
        annotated = annotated.cache()
    ok = annotated.filter(F.size(ERROR_COLUMN) == 0).drop(ERROR_COLUMN)
    ko = annotated.filter(F.size(ERROR_COLUMN) > 0)
    return ok, ko, annotated if cache else None


def validate_fields(df: DataFrame,
                    validations: Iterable[Validation],
                    cache: bool = True) -> tuple[DataFrame, DataFrame]:
    """Two-value form of :func:`validate_fields_split` (``ok, ko``) for
    callers that manage no cache lifecycle."""
    ok, ko, _ = validate_fields_split(df, validations, cache=cache)
    return ok, ko
