"""Declarative data-quality validation — the Deequ-shape constraint
pass a pipeline runs before it trusts new data.

The reference decodes and hands off; a 100 TB ingestion needs the
next step: assert the decoded table's invariants (nullability, value
ranges, key uniqueness, referential integrity) and quantify the
violations instead of failing on the first bad row. Constraints are
declared as data, compiled into ONE Spark job where possible:

- ``not_null`` / ``in_range`` / ``matches`` compile to conditional
  counts inside a single aggregation over the table (one pass for any
  number of row-level constraints);
- ``unique`` adds one group-by on the key columns (counting rows in
  groups of size > 1);
- ``foreign_key`` adds one left-anti join per referenced table.

Output: one row per constraint — (constraint_id, kind, expr, n_rows,
n_violations, passed) — integer-exact, so the whole validation report
carries a value-hash oracle (q135).

100 TB story: row-level constraints share one map-side-combining
aggregation (accumulator width = #constraints, not #passes);
uniqueness shuffles once on the declared key; each FK is a broadcast
or co-keyed anti join. Violations COUNT rather than fail, so the
report is cheap enough to run on every ingest batch.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .staging import materialize

__all__ = ["RowConstraint", "UniqueConstraint", "ForeignKeyConstraint", "validate"]


@dataclass
class RowConstraint:
    """A per-row predicate that must hold; violations are counted.
    ``predicate`` is a SQL boolean expression over the table's
    columns (NULL counts as a violation)."""

    name: str
    predicate: str


@dataclass
class UniqueConstraint:
    """Declared key columns must identify rows uniquely; every row in
    a >1-sized group counts as a violation."""

    name: str
    columns: tuple


@dataclass
class ForeignKeyConstraint:
    """Every (non-null) key must exist in the referenced frame."""

    name: str
    columns: tuple
    referenced: DataFrame
    ref_columns: tuple


def validate(df: DataFrame, constraints: list) -> DataFrame:
    """Run all constraints; returns one row per constraint:
    (constraint_id, kind, expr, n_rows, n_violations, passed)."""
    if not constraints:
        raise ValueError("validate: no constraints given")
    row_cs = [c for c in constraints if isinstance(c, RowConstraint)]
    uniq_cs = [c for c in constraints if isinstance(c, UniqueConstraint)]
    fk_cs = [c for c in constraints if isinstance(c, ForeignKeyConstraint)]
    if len(row_cs) + len(uniq_cs) + len(fk_cs) != len(constraints):
        raise ValueError("validate: unknown constraint type in list")
    order = {c.name: i for i, c in enumerate(constraints)}
    parts = []

    if row_cs:
        aggs = [F.count("*").cast("long").alias("__n")]
        for c in row_cs:
            aggs.append(
                F.sum(
                    F.when(F.expr(c.predicate), F.lit(0)).otherwise(F.lit(1))
                ).cast("long").alias(f"__v_{order[c.name]}")
            )
        # consumed once per row constraint
        one = materialize(df.agg(*aggs), label="validate_row_counts", default="checkpoint")
        for c in row_cs:
            parts.append(
                one.select(
                    F.lit(order[c.name]).cast("long").alias("constraint_id"),
                    F.lit("row").alias("kind"),
                    F.lit(c.name).alias("expr"),
                    F.col("__n").alias("n_rows"),
                    F.col(f"__v_{order[c.name]}").alias("n_violations"),
                )
            )

    for c in uniq_cs:
        grouped = df.groupBy(*c.columns).agg(F.count("*").cast("long").alias("__g"))
        stats = grouped.agg(
            F.sum("__g").cast("long").alias("__n"),
            F.coalesce(
                F.sum(F.when(F.col("__g") > 1, F.col("__g"))), F.lit(0)
            ).cast("long").alias("__v"),
        )
        parts.append(
            stats.select(
                F.lit(order[c.name]).cast("long").alias("constraint_id"),
                F.lit("unique").alias("kind"),
                F.lit(c.name).alias("expr"),
                F.col("__n").alias("n_rows"),
                F.col("__v").alias("n_violations"),
            )
        )

    for c in fk_cs:
        ref = c.referenced.select(
            *[F.col(rc).alias(cc) for cc, rc in zip(c.columns, c.ref_columns)]
        ).distinct()
        keys = df.select(*c.columns)
        # standard FK semantics: NULL keys are exempt (declare a
        # not_null RowConstraint separately if they shouldn't be)
        non_null = keys
        for col in c.columns:
            non_null = non_null.where(F.col(col).isNotNull())
        missing = non_null.join(ref, list(c.columns), "left_anti")
        stats = keys.agg(F.count("*").cast("long").alias("__n")).crossJoin(
            missing.agg(F.count("*").cast("long").alias("__v"))
        )
        parts.append(
            stats.select(
                F.lit(order[c.name]).cast("long").alias("constraint_id"),
                F.lit("fk").alias("kind"),
                F.lit(c.name).alias("expr"),
                F.col("__n").alias("n_rows"),
                F.col("__v").alias("n_violations"),
            )
        )

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "constraint_id",
        "kind",
        "expr",
        "n_rows",
        "n_violations",
        (F.col("n_violations") == 0).cast("int").alias("passed"),
    ).orderBy("constraint_id")
