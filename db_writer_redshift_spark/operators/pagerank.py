"""Integer-exact PageRank: BSP iterations with deterministic arithmetic.

Standard distributed PageRank sums floating contributions per node —
partition-order-dependent at the last ulp, so two runs (or two engines)
can disagree. This variant keeps every rank in integer micro-units and
every update in integer arithmetic (floor division for the out-degree
split, fixed-point damping), making each iteration a pure function of
the previous one: bit-identical under any partitioning AND reproducible
in plain SQL — the registered query unrolls the same iterations as
chained CTEs for a full value-hash oracle.

Update rule (micro-units, damping d=0.85):
    contrib(v)   = rank(v) // out_degree(v)           (floor)
    rank'(u)     = 150000 + (85 * Σ contrib(v→u)) // 100
Dangling mass is dropped (documented simplification — ranks are relative
ordering scores here, not a strict probability distribution).

Scale: one shuffle per iteration (groupBy destination, map-side
combined); the ranks relation is |nodes| rows; lineage is truncated per
round via localCheckpoint like dedup's connected components.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

INIT_RANK = 1_000_000  # micro-units
BASE = 150_000  # (1 - d) * 1e6 with d = 0.85


def pagerank_int(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iterations: int = 3,
    checkpoint_every: int = 2,
) -> DataFrame:
    """Integer PageRank over a directed edge list.

    Returns (node, rank_micro) for every node appearing as source or
    destination. Nodes with no in-edges settle at BASE; dangling nodes
    contribute nothing (mass dropped).
    """
    if iterations < 1:
        raise ValueError("iterations must be >= 1")
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    nodes = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    ).distinct()
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ranks = nodes.withColumn("rank_micro", F.lit(INIT_RANK).cast("long"))
    for i in range(iterations):
        contrib = (
            e.join(ranks, e.src == ranks.node)
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("rank_micro div deg").alias("c"),
            )
        )
        incoming = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(incoming, "node", "left")
            .select(
                "node",
                (
                    F.lit(BASE)
                    + F.expr("85 * coalesce(s, 0L) div 100")
                ).cast("long").alias("rank_micro"),
            )
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def hits_int(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iterations: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """Integer-exact HITS (Kleinberg, JACM 1999) over a directed edge
    list: hubs on the source side, authorities on the destination side,
    mutual reinforcement a(v) = Σ_{u→v} h(u), h(u) = Σ_{u→v} a(v). The
    float algorithm L2-normalizes per iteration — partition-order
    dependent; this variant keeps scores in integer ppm and
    re-normalizes by the SUM with a 128-bit-promoted floor division
    (score' = 1e6·raw div Σraw), so every iteration is a pure integer
    function of the previous one — bit-identical under any partitioning
    and reproducible as unrolled SQL CTEs (the pagerank_int
    discipline).

    Returns (hubs, auths): ``(node, score_ppm)`` DataFrames.

    Scale: the distinct edge relation is built ONCE and persisted
    pre-partitioned by each join key (ids-only, |E| rows — round 9,
    guide §2.4: every phase previously re-scanned and re-distincted the
    source and re-shuffled the edges, 2·iterations times in total; now
    each phase's join reuses the cached partitioning and only the
    bounded (node, score) relation moves). Per iteration that leaves
    two map-side-combined score shuffles plus one scalar-sum broadcast
    per side; lineage truncated per round via localCheckpoint."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    ).distinct()
    # Size-adaptive layout width (round 9, guide §2): every one of the
    # 6·iterations-ish stages downstream inherits this partition count,
    # so a constant cluster-width split of a small ids-only relation
    # multiplies per-task fixed costs across the whole round structure.
    # Capped at sparkContext.defaultParallelism (adaptive_partitions), NOT
    # at spark.sql.shuffle.partitions: where the shuffle width is set
    # larger than the core count, the edge layouts and every stage that
    # inherits them stay at the core count, narrower than the engine's
    # other exchanges.
    from db_writer_redshift_spark.operators.partitioning import adaptive_partitions

    nparts = adaptive_partitions(e)
    # Two persisted layouts of the same ids-only relation: the auth
    # phase joins on _s, the hub phase on _d — each join consumes the
    # matching cached partitioning, so no phase ever re-exchanges the
    # edge side. Hash partitioning (not broadcastable scores) keeps the
    # plan valid when |nodes| is cluster-scale. The scores side carries
    # a SHUFFLE_HASH hint: sort-merge would re-SORT the cached edge
    # partitions every round (caches preserve partitioning, not order —
    # 2·iterations full sorts of |E|); hashing the bounded (node, score)
    # side streams the edges unsorted (guide §3.1).
    e_s = e.repartition(nparts, "_s").persist()  # lazy-plan persist (persist_policy.py)
    # _d layout derives from the cached _s layout — one ids-only
    # re-shuffle instead of a second scan+distinct of the source.
    e_d = e_s.repartition(nparts, "_d").persist()  # lazy-plan persist (persist_policy.py)
    hubs = (
        e_s.select("_s").distinct()
        .select(F.col("_s").alias("node"), F.lit(INIT_RANK).cast("long").alias("score_ppm"))
    )
    auths = None
    for i in range(iterations):
        # raw feeds BOTH the scalar-total broadcast and the score build —
        # unpersisted, the join+aggregate subtree executed twice per
        # phase (the round-9 profile's duplicated heavy stage pairs);
        # |nodes| rows, bounded.
        raw_a = (
            e_s.join(hubs.withColumnRenamed("node", "_s").hint("shuffle_hash"), "_s")
            .groupBy("_d")
            .agg(F.sum("score_ppm").alias("raw"))
            .persist()  # lazy-plan persist (persist_policy.py)
        )
        tot_a = raw_a.agg(F.sum("raw").alias("tot"))
        auths = (
            raw_a.crossJoin(F.broadcast(tot_a))
            .select(
                F.col("_d").alias("node"),
                F.expr(
                    "CAST((CAST(1000000 AS DECIMAL(38,0)) * raw) div tot"
                    " AS BIGINT)"
                ).alias("score_ppm"),
            )
            .localCheckpoint(eager=False)
        )
        raw_h = (
            e_d.join(auths.withColumnRenamed("node", "_d").hint("shuffle_hash"), "_d")
            .groupBy("_s")
            .agg(F.sum("score_ppm").alias("raw"))
            .persist()  # lazy-plan persist (persist_policy.py)
        )
        tot_h = raw_h.agg(F.sum("raw").alias("tot"))
        hubs = (
            raw_h.crossJoin(F.broadcast(tot_h))
            .select(
                F.col("_s").alias("node"),
                F.expr(
                    "CAST((CAST(1000000 AS DECIMAL(38,0)) * raw) div tot"
                    " AS BIGINT)"
                ).alias("score_ppm"),
            )
            .localCheckpoint(eager=False)
        )
    return hubs, auths
