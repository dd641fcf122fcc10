"""Input-parallelism guard for CPU-heavy narrow stages.

A shingle explode / hash-projection / vector kernel does orders of
magnitude more CPU work per input byte than a scan, so its parallelism
should be the cluster's, not the file layout's. When the upstream scan
yields fewer partitions than ``defaultParallelism`` (one giant parquet
row group, a handful of gzip CSV slices, a coalesced upstream), the whole
kernel runs on a handful of cores while the rest of the cluster idles.

``ensure_parallelism`` repartitions **only in that case** — on a healthy
100 TB layout (thousands of splits) it is a no-op, so the fix for the
degenerate layout never costs a shuffle on the well-laid-out one. The
repartition input should be the *narrow* projection (id + text, not the
full row), so the shuffle moves the minimum bytes.

Size-adaptive targets (round 9, guide §2 "derive partitioning from input
size rather than a constant"): a fixed target of ``defaultParallelism``
is wrong at BOTH ends. On tiny inputs it shreds kilobytes across dozens
of tasks whose fixed cost dwarfs their work — measured on the sf0.1
MinHash signature build, the identical workload burned 9.8 s of executor
CPU split 32 ways vs 2.1 s split 8 ways (allocation-heavy interpreted
expressions contend once per-task data drops below the cache-friendly
size). ``adaptive_partitions`` therefore scales the target with the
plan's estimated input size and CAPS it at the cluster parallelism: at
100 TB the cap always binds (identical behavior to the old constant), at
fixture scale the task count follows the data. Driver-side plan
inspection only — no job is triggered.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# Estimated input bytes each rescued/pinned task should carry, by kernel
# CPU density (the guide's §1.2 point that bytes are a poor proxy for
# CPU: a fold over a float array, a shingle explode and a per-pixel image
# decode differ by orders of magnitude in work per input byte). Values
# chosen so the sf0.1 fixtures land near their measured per-stage sweet
# spots (single-digit task counts; 32-way splits of these inputs measured
# 3-4.6x MORE total executor CPU from per-task contention than 8-way for
# identical work) while any real dataset still saturates the parallelism
# cap.
DEFAULT_BYTES_PER_TASK = 256 * 1024
# Shingle/token/hash explodes: ~100x a scan's CPU per byte.
TEXT_KERNEL_BYTES_PER_TASK = 32 * 1024
# Per-pixel/per-sample Python decode (PNG defilter, ADPCM): ~1000x.
DECODE_KERNEL_BYTES_PER_TASK = 4 * 1024


def _estimated_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for the optimized plan (file-size based
    for scans, propagated through projections/filters). None when the
    plan cannot be sized (streaming, exotic sources)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = stats.sizeInBytes()  # py4j maps scala BigInt to Python int
        return int(size if isinstance(size, int) else str(size))
    except Exception:
        return None


def adaptive_partitions(
    df: DataFrame, bytes_per_task: int | None = None
) -> int:
    """Partition count proportional to ``df``'s estimated size, in
    [1, defaultParallelism]. The cap binds on any at-scale input (the
    old constant-target behavior); the floor stops kilobyte inputs from
    being shredded across the whole cluster, where per-task fixed costs
    exceed the work (guide §2: size-derived partitioning, not a constant
    tuned for one deployment)."""
    spark = df.sparkSession
    cap = spark.sparkContext.defaultParallelism
    bpt = bytes_per_task or DEFAULT_BYTES_PER_TASK
    est = _estimated_size_bytes(df)
    if est is None or est <= 0:
        return cap
    return max(1, min(cap, (est + bpt - 1) // bpt))


def ensure_parallelism(
    df: DataFrame,
    min_factor: float = 1.0,
    key: str | None = None,
    bytes_per_task: int | None = None,
) -> DataFrame:
    """Repartition ``df`` to the size-adaptive target iff its current
    partition count is below ``min_factor ×`` that. Driver-side plan
    inspection only — no job is triggered.

    ``bytes_per_task`` picks the kernel's CPU-density class (see the
    constants above); default is the vector-kernel density.

    ``key``: when the caller's downstream aggregation groups by this
    column, pass it so the rescue repartition HASH-keys on it instead of
    round-robin — the groupBy then reuses the exchange (hash partitioning
    satisfies the required child distribution) and the plan sheds one
    whole shuffle of the post-explode relation. Measured ~30% on the
    sf0.1 MinHash signature stage (round 8). Unique keys (doc ids) keep
    the keyed shuffle as uniform as round-robin; do NOT pass a key with
    heavy skew."""
    spark = df.sparkSession
    target = adaptive_partitions(df, bytes_per_task)
    try:
        nparts = df.rdd.getNumPartitions()
    except Exception:  # exotic plans (e.g. streaming) — leave untouched
        return df
    if nparts >= max(1, int(target * min_factor)):
        return df
    if key is not None:
        from pyspark.sql import functions as F

        return df.repartition(target, F.col(key))
    return df.repartition(target)
