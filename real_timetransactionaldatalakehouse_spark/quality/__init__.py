"""Data-quality expectations (the Delta-Live-Tables / Great-
Expectations pattern, engine-native): declare named boolean rules,
split a table into passing rows and an annotated quarantine, and get
per-rule violation counts in one pass.

Everything here is pure projection + filter — whole-stage codegen,
zero shuffle, streaming-safe (run it inside ``foreachBatch`` or on
the stream itself before the sink).  The medallion use: gate bronze
-> silver, quarantine instead of dropping so late fixes can replay
(reference PipelineArchitecture.md's bad-record concerns)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

VIOLATIONS_COL = "_violations"


def _violations_expr(rules: dict[str, Column]) -> Column:
    """array<string> of failed rule names; a rule evaluating NULL
    counts as FAILED (null-hostile by design — an expectation that
    can't be evaluated is not met)."""
    return F.array_compact(
        F.array(
            *[
                F.when(~F.coalesce(rule, F.lit(False)), F.lit(name))
                for name, rule in rules.items()
            ]
        )
    )


def annotate(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """Every row, plus ``_violations`` (empty array = clean)."""
    if not rules:
        raise ValueError("rules must be non-empty: {name: boolean Column}")
    return df.withColumn(VIOLATIONS_COL, _violations_expr(rules))


def quality_gate(
    df: DataFrame, rules: dict[str, Column]
) -> tuple[DataFrame, DataFrame]:
    """(passing rows without the annotation, quarantine rows WITH it).
    Two filters over the annotated frame — persist upstream if the
    source scan is expensive enough to matter."""
    a = annotate(df, rules)
    good = a.filter(F.size(VIOLATIONS_COL) == 0).drop(VIOLATIONS_COL)
    bad = a.filter(F.size(VIOLATIONS_COL) > 0)
    return good, bad


def quality_stats(df: DataFrame, rules: dict[str, Column]) -> DataFrame:
    """One row: total rows, clean rows, and a fail count per rule —
    a single aggregation (partial map-side, one scalar row out), the
    shape to publish to a metrics sink every batch."""
    a = annotate(df, rules)
    return a.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.size(VIOLATIONS_COL) == 0, 1)).alias("n_clean"),
        *[
            F.count(
                F.when(F.array_contains(F.col(VIOLATIONS_COL), name), 1)
            ).alias(f"fail_{name}")
            for name in rules
        ],
    )
