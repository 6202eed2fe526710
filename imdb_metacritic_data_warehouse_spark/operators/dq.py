"""Data-quality constraint checks — the dbt-test / expectations layer.

A warehouse load is only trustworthy with machine-checked invariants:
NOT NULL / accepted values / ranges on columns, primary-key
uniqueness, and referential integrity into dimensions.  The reference
gets these implicitly from PostgreSQL constraints; a lake engine must
compute them, so this operator turns a rule list into ONE violations
report the pipeline can gate a commit on.

Plan shapes (each the cheapest possible for its rule class):

- row rules    → a single scan with one conditional sum per rule (all
  rules share the scan; no shuffle at all),
- unique(pk)   → one groupBy(pk) counting keys seen more than once
  (map-side combine; the duplicate count, not the duplicate rows),
- fk(dim, key) → fact keys pre-aggregated to (key, row count), then a
  LEFT ANTI join against the dimension — the anti-join is KEY-sized
  while the violation count stays ROW-weighted (broadcast when the
  dimension is small).

The row-count denominator rides every report row as a broadcast 1-row
aggregate (no driver-side ``count()`` action — the report stays one
lazy plan end-to-end).  Output: (check, n_violations, violation_rate),
one row per rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from .materialize import materialize


def dq_report(
    df: DataFrame,
    row_rules: dict[str, Column],
    unique_key: str | None = None,
    fk_rules: dict[str, tuple[DataFrame, str, str]] | None = None,
) -> DataFrame:
    """Violations report.  ``row_rules`` maps check name → boolean
    Column that must hold per row (NULL counts as a violation);
    ``unique_key`` asserts pk uniqueness; ``fk_rules`` maps check name
    → (dim_df, fact_key, dim_key).

    The report is a multi-branch plan and Catalyst has no cross-branch
    CSE (NOTES.md), so the shared 1-row total is materialized eagerly
    (a single count job) instead of re-scanning the fact once per
    branch; all row rules share ONE scan via a stacked aggregate."""
    total = materialize(df.agg(F.count(F.lit(1)).alias("__n")), "dq_report.total")

    def out(name: str, frame: DataFrame, bad) -> DataFrame:
        return frame.join(F.broadcast(total)).select(
            F.lit(name).alias("check"),
            bad.cast("long").alias("n_violations"),
            F.round(
                bad.cast("double") / F.greatest(F.col("__n"), F.lit(1)).cast("double"),
                6,
            ).alias("violation_rate"),
        )

    parts: list[DataFrame] = []
    if row_rules:
        names = list(row_rules)
        agg = df.agg(
            *[
                F.sum(
                    F.when(F.coalesce(rule, F.lit(False)), 0).otherwise(1)
                ).alias(f"__v_{i}")
                for i, rule in enumerate(row_rules.values())
            ]
        )
        stacked = agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(name).alias("__check"),
                            F.col(f"__v_{i}").alias("__v"),
                        )
                        for i, name in enumerate(names)
                    ]
                )
            ).alias("s")
        ).select(F.col("s.__check").alias("__check"), F.col("s.__v").alias("__v"))
        parts.append(
            stacked.join(F.broadcast(total)).select(
                F.col("__check").alias("check"),
                F.col("__v").cast("long").alias("n_violations"),
                F.round(
                    F.col("__v").cast("double")
                    / F.greatest(F.col("__n"), F.lit(1)).cast("double"),
                    6,
                ).alias("violation_rate"),
            )
        )
    if unique_key:
        dups = (
            df.groupBy(unique_key)
            .agg(F.count(F.lit(1)).alias("__c"))
            .filter(F.col("__c") > 1)
            .agg(F.coalesce(F.sum("__c"), F.lit(0)).alias("__v"))
        )
        parts.append(out(f"unique:{unique_key}", dups, F.col("__v")))
    for name, (dim, fact_key, dim_key) in (fk_rules or {}).items():
        keyed = (
            df.filter(F.col(fact_key).isNotNull())
            .groupBy(fact_key)
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        orphans = (
            keyed.join(dim.select(F.col(dim_key).alias(fact_key)), fact_key, "left_anti")
            .agg(F.coalesce(F.sum("__c"), F.lit(0)).alias("__v"))
        )
        parts.append(out(name, orphans, F.col("__v")))
    report = parts[0]
    for p in parts[1:]:
        report = report.unionByName(p)
    return report
