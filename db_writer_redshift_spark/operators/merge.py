"""Upsert / merge operator — the reference's one real relational operation.

Reference behavior (Redshift.php:155-209, ``upsert()``): three SQL
statements against staging+target —
  (a) UPDATE target SET col = staging.col … FROM staging WHERE pk-equijoin
  (b) DELETE FROM staging USING target WHERE pk-equijoin
  (c) INSERT INTO target SELECT * FROM staging
then DROP staging. Without a primary key it degrades to pure append
(Redshift.php:169-200 guard). The sequence is non-atomic and, when staging
holds duplicate PKs, nondeterministic (UPDATE picks an arbitrary match).

Spark-first rewrite: the merged relation is *computed* functionally —
  merged = target ⟕anti staging  ∪  staging
one LEFT ANTI join + one unionByName, then written once and renamed onto
the target (catalog.replace_table). The multi-statement race disappears.
Duplicate staging PKs are resolved deterministically ("last occurrence
wins" via a monotonic order column) — a documented improvement over the
reference (SURVEY.md §7 Phase 3).

Scale: the anti join hash-partitions both sides on the PK. When staging is
small relative to target (the common incremental case) Catalyst broadcasts
it, so the 100 TB target never shuffles. Repeated merges into a bucketed
target table (catalog.create_table(..., buckets=N)) are shuffle-free on the
target side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def dedupe_staging(staging: DataFrame, primary_key: list[str]) -> DataFrame:
    """Keep exactly one row per PK — last occurrence wins, using a
    monotonically increasing id as the deterministic tiebreak (input order).
    Single window shuffle on the PK; reused by the merge join that follows.
    """
    from pyspark.sql.window import Window

    order_col = "_merge_seq"
    w = Window.partitionBy(*primary_key).orderBy(F.col(order_col).desc())
    return (
        staging.withColumn(order_col, F.monotonically_increasing_id())
        .withColumn("_merge_rn", F.row_number().over(w))
        .filter(F.col("_merge_rn") == 1)
        .drop(order_col, "_merge_rn")
    )


def upsert_dataframes(
    target: DataFrame,
    staging: DataFrame,
    primary_key: list[str] | None,
    dedupe: bool = True,
) -> DataFrame:
    """Pure-function merge: rows of ``target`` whose PK has no staging match,
    plus every staging row (which covers both the UPDATE-matched and the
    INSERT-new legs of the reference's statement triple).

    No/empty PK → append semantics, matching Redshift.php:169-200.
    """
    if not primary_key:
        return target.unionByName(staging.select(*target.columns))
    stage = dedupe_staging(staging, primary_key) if dedupe else staging
    keep = target.join(stage.select(*primary_key), on=primary_key, how="left_anti")
    return keep.unionByName(stage.select(*target.columns))


def evolve_schema(
    target: DataFrame, staging: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """Align two relations for a schema-evolving merge.

    Columns present on one side only are added to the other as typed NULL
    literals (staging-new columns evolve the target — the ALTER TABLE ADD
    COLUMN a warehouse writer performs; target-only columns let older
    extractors keep writing after the table grew). Column order follows
    the target, with genuinely-new staging columns appended.

    Incompatible redeclarations fail loudly: a column present on both
    sides with different Spark types raises instead of silently casting —
    type *widening* is a policy decision the caller makes explicitly.

    Pure projection on both sides — no data movement; the subsequent
    merge join is unaffected.
    """
    t_types = dict(target.dtypes)
    s_types = dict(staging.dtypes)
    clash = {
        c: (t_types[c], s_types[c])
        for c in t_types
        if c in s_types and t_types[c] != s_types[c]
    }
    if clash:
        detail = ", ".join(f"{c}: target {a} vs staging {b}" for c, (a, b) in sorted(clash.items()))
        raise ValueError(f"incompatible column types: {detail}")
    ordered = list(target.columns) + [c for c in staging.columns if c not in t_types]

    def align(df: DataFrame, have: dict[str, str], other: dict[str, str]) -> DataFrame:
        cols = [
            F.col(c) if c in have else F.lit(None).cast(other[c]).alias(c)
            for c in ordered
        ]
        return df.select(*cols)

    return align(target, t_types, s_types), align(staging, s_types, t_types)


def upsert_evolving(
    target: DataFrame,
    staging: DataFrame,
    primary_key: list[str] | None,
    dedupe: bool = True,
) -> DataFrame:
    """Schema-evolving upsert: align schemas (evolve_schema), then merge.
    New staging columns appear on pre-existing target rows as NULLs —
    exactly what ALTER TABLE ADD COLUMN + the reference's statement triple
    would produce, computed functionally in one pass."""
    t, s = evolve_schema(target, staging)
    return upsert_dataframes(t, s, primary_key, dedupe=dedupe)
