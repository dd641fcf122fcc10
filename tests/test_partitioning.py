"""ensure_parallelism: repartition under-split inputs, leave healthy ones.

Round-9 semantics: the rescue target is SIZE-ADAPTIVE (guide §2 — derive
partitioning from input size, capped at the cluster parallelism), so a
large single-split input is lifted to the cap while a tiny input is left
at a task count proportional to its bytes — splitting kilobytes across
the whole cluster measured 3-4.6x MORE total executor CPU than an
8-way split of the identical sf0.1 workload (per-task fixed costs and
allocation contention dominate once per-task data is tiny).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from db_writer_redshift_spark.operators.partitioning import (
    DEFAULT_BYTES_PER_TASK,
    adaptive_partitions,
    ensure_parallelism,
)


def test_underpartitioned_large_input_lifted_to_default_parallelism(spark):
    target = spark.sparkContext.defaultParallelism
    # 8 bytes/row estimate: comfortably above cap * DEFAULT_BYTES_PER_TASK.
    rows = (target + 1) * DEFAULT_BYTES_PER_TASK // 8
    df = spark.range(rows).coalesce(1)
    assert adaptive_partitions(df) == target
    out = ensure_parallelism(df)
    assert out.rdd.getNumPartitions() == target


def test_tiny_input_not_shredded_across_the_cluster(spark):
    # 1000 rows * 8 bytes is far below one task's byte budget: the rescue
    # must NOT split it defaultParallelism ways.
    df = spark.range(1000).coalesce(1)
    assert adaptive_partitions(df) == 1
    out = ensure_parallelism(df)
    assert out is df  # already >= the adaptive target: untouched


def test_adaptive_target_scales_with_size_and_caps(spark):
    cap = spark.sparkContext.defaultParallelism
    quarter = min(cap, max(2, cap // 4))
    df = spark.range(quarter * DEFAULT_BYTES_PER_TASK // 8).coalesce(1)
    assert adaptive_partitions(df) == quarter
    huge = spark.range((cap * 100) * DEFAULT_BYTES_PER_TASK // 8)
    assert adaptive_partitions(huge) == cap


def test_healthy_input_untouched(spark):
    target = spark.sparkContext.defaultParallelism
    df = spark.range(1000).repartition(target + 4)
    out = ensure_parallelism(df)
    # No extra exchange inserted: same DataFrame object comes back.
    assert out is df


def test_rows_preserved_exactly(spark):
    # Tiny bytes_per_task forces the lift on a small input so the
    # row-preservation property is checked on the repartitioned path.
    df = spark.range(500).coalesce(1).select(F.col("id"))
    out = ensure_parallelism(df, bytes_per_task=64)
    # lifted past one partition unless the cluster has only one core
    cap = spark.sparkContext.defaultParallelism
    assert out.rdd.getNumPartitions() >= min(cap, 2)
    assert sorted(r.id for r in out.collect()) == list(range(500))


def test_aqe_splits_skewed_join_partition(spark):
    """AQE's runtime skew-join handling — the first line of defense the
    SCALE.md join notes claim before operators/skew.salted_join: a join
    whose left side puts ~95% of rows on one key gets its hot shuffle
    partition SPLIT at runtime (SortMergeJoin(skew=true) reading an
    'AQEShuffleRead skewed' child), with results identical to the
    unskewed logical answer. Thresholds are lowered so the 300k-row
    fixture crosses the size bar the way a hot key crosses it at TB
    scale."""
    from pyspark.sql import functions as F

    keep = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.shuffle.partitions",
        )
    }
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "8")

        # AQE splits a skewed reduce partition along map-output
        # boundaries, so the skewed side needs several map tasks. An
        # explicit split count keeps that true when defaultParallelism
        # is 1, where spark.range would otherwise yield one partition.
        big = spark.range(0, 300_000, numPartitions=8).select(
            F.when(F.col("id") % 20 != 0, 7)
            .otherwise(F.col("id") % 97)
            .alias("k"),
            F.concat(F.lit("payload-"), F.col("id")).alias("payload"),
        )
        right = spark.range(0, 97).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("dim")
        )
        j = big.join(right, "k")
        rows = j.collect()  # executes; the SAME DataFrame's plan is final
        assert len(rows) == 300_000  # one dim row per key: no fan-out

        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin(skew=true)" in plan, plan[:1500]
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in keep.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
