"""Approximate-nearest-neighbor search and near-duplicate pairs over an
embedding column.

  * Exact baselines — brute_force_topk / cosine_dup_pairs score every pair
    with the JVM-side fold cosine: linear scans, the correctness
    references and oracle-checkable paths.
  * Candidate generators — random-hyperplane LSH (H sign-bits per table ×
    L tables; candidates share a bucket in ≥1 table) and IVF (nearest-
    centroid cells, multi-probe). At 100 TB the bucket/cell equi-join
    replaces the all-pairs product; recall is tuned by (H, L) /
    (cells, probes) and validated in tests against the exact baselines.

Candidate generation and exact refinement are separate steps: candidate
joins carry ids only, vectors rejoin for survivors, and the re-rank is the
baselines' fold arithmetic, so every recalled pair scores bit-identically
to brute force. Every LSH algorithm is ONE plan parameterized by a bucket
KERNEL (a Column → array<bigint> of per-table bucket ids): _bands →
_lsh_candidates (band join, pair filter, pinned repartition, dedup) →
_refine (exact cosine rejoin) → _top_k for the k-NN forms. Margin mining
keeps the candidates but refines with exact integer dots. There is one
kernel, _int_bucket_udf: hyperplanes quantized to exact integers
(quantized_planes), one int64 einsum per Arrow batch. Its bucket ids
reproduce bit-identically in DuckDB SQL, so every LSH query carries a full
oracle.

Hyperplanes are generated from a fixed seed with numpy and shipped in the
kernel's closure (they are tiny: L×H×dim numbers) — deterministic, no RNG
at execution time.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import types as T
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from db_writer_redshift_spark.functions.vector import dot_double, norm_double
from db_writer_redshift_spark.operators.partitioning import (
    adaptive_partitions,
    ensure_parallelism,
)

# Vector column → array<bigint>: one bucket id per LSH table.
_BucketKernel = Callable[[Column], Column]


def _cosine_from_norms(a_vec: str, b_vec: str, a_norm: str, b_norm: str) -> Column:
    """Cosine from precomputed side norms, rounded to 6 places (the scale
    every consumer and oracle compares at). Same arithmetic as cosine_sim
    (norm·norm denominator, sequential-fold dot) — but each side's norm is
    evaluated once per ROW in a projection below the join instead of once
    per PAIR above it, which removes 2/3 of the higher-order-function work
    in a k-NN join. Bit-identical results, so oracle hashes are unchanged.

    All arguments are column NAMES. The dot is ALWAYS the
    sequential fold: the round-8 unrolled-chain experiment
    (dot_double_fixed) measured SLOWER in every real query context at
    sf0.1 — brute-force exec 0.73→1.12 s, portable IVF 1.09→1.79 s —
    because 300+-operation generated methods lose whole-stage-codegen/JIT
    compilation, while the isolated microbench (simple projection over
    persisted arrays) had shown 3×. Details in OPTIMIZATION_r08.md."""
    denom = F.col(a_norm) * F.col(b_norm)
    return F.round(F.when(denom > 0, dot_double(F.col(a_vec), F.col(b_vec)) / denom), 6)


def _side(df: DataFrame, id_col: str, vec_col: str, names: tuple[str, str, str]) -> DataFrame:
    """(id, vec, norm) projection of ``df`` under ``names`` — the per-row
    norm fold runs here, below any join (see _cosine_from_norms)."""
    id_name, vec_name, norm_name = names
    return df.select(
        F.col(id_col).alias(id_name),
        F.col(vec_col).alias(vec_name),
        norm_double(F.col(vec_col)).alias(norm_name),
    )


def _top_k(sims: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of scored (query_id, neighbor_id, cosine_sim) rows,
    rank ties broken by neighbor id (deterministic set)."""
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id"))
    return (
        sims.withColumn("nn_rank", F.row_number().over(w))
        .filter(F.col("nn_rank") <= k)
        .select("query_id", "neighbor_id", "cosine_sim", "nn_rank")
    )


def _bands(df: DataFrame, id_name: str, vec_name: str, kernel: _BucketKernel) -> DataFrame:
    """(id, t, bkt) rows, one per LSH table — NARROW: the band join must
    not drag the vectors through the shuffle; they rejoin only for
    candidates (_refine)."""
    return df.select(
        F.col(id_name), F.posexplode(kernel(F.col(vec_name))).alias("t", "bkt")
    )


def _lsh_candidates(
    a: DataFrame,
    b: DataFrame,
    ids: tuple[str, str],
    width_of: DataFrame,
    pair_filter: Column | None = None,
) -> DataFrame:
    """Distinct ``ids`` pairs of _bands rows ``a`` × ``b`` that share ≥1
    (table, bucket); callers wrap a benchmark-sized side in F.broadcast so
    candidate generation never shuffles the big side.

    Pinned repartition keyed on ``ids[0]`` BEFORE the dedup (guide §2.5;
    the ppjoin_exact_pairs discipline): candidate rows are BYTES-small
    (two ids) but each costs a 64-term fold in the refine — size-based AQE
    coalescing of the band join's output serialized the refine onto 1-2
    tasks (round-9 profile: the whole exact-cosine pass on one core, a
    0.5-4.5 s single-task tail in lsh_topk and the source of its
    run-to-run variance). Hash partitioning on a subset of the dedup keys
    satisfies the dedup aggregate's required distribution, so one pinned
    exchange feeds the dedup, the broadcast rejoins, the refine AND any
    ids[0]-keyed window or aggregate downstream. The width is size-
    adaptive over ``width_of`` (the raw id/vector input)."""
    pairs = a.join(b, ["t", "bkt"])
    if pair_filter is not None:
        pairs = pairs.filter(pair_filter)
    return (
        pairs.select(*ids)
        .repartition(adaptive_partitions(width_of), ids[0])
        .dropDuplicates(list(ids))
    )


def _refine(cand: DataFrame, a: DataFrame, b: DataFrame) -> DataFrame:
    """Exact re-rank of candidate id pairs: rejoin the (id, vec, norm)
    _side relations ``a`` and ``b`` (wrap a small one in F.broadcast) and
    score (a_id, b_id, cosine_sim) with the exact baselines' arithmetic."""
    (a_id, a_vec, a_norm), (b_id, b_vec, b_norm) = a.columns, b.columns
    return (
        cand.join(a, a_id)
        .join(b, b_id)
        .select(a_id, b_id, _cosine_from_norms(a_vec, b_vec, a_norm, b_norm).alias("cosine_sim"))
    )


def brute_force_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Output: (query_id, neighbor_id, cosine_sim, nn_rank), self-matches
    excluded, rank ties broken by neighbor id (deterministic set).
    """
    q = _side(queries_df, id_col, vec_col, ("query_id", "q_vec", "q_norm"))
    # The corpus side carries the per-pair dot-product work; lift it to
    # cluster parallelism when the scan under-partitions (one-row-group
    # fixture) — no-op on a many-split corpus.
    c = ensure_parallelism(_side(corpus_df, id_col, vec_col, ("neighbor_id", "c_vec", "c_norm")))
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_from_norms("q_vec", "c_vec", "q_norm", "c_norm").alias("cosine_sim"),
        )
    )
    return _top_k(sims, k)


def cosine_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine ≥ threshold, id_a < id_b.
    Exact all-pairs form (oracle-checkable); the LSH tier is the scale path.
    """
    # Left side drives output parallelism of the nested-loop pair scan.
    a = ensure_parallelism(_side(df, id_col, vec_col, ("id_a", "va", "na")))
    b = _side(df, id_col, vec_col, ("id_b", "vb", "nb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cosine_from_norms("va", "vb", "na", "nb").alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def quantized_planes(
    dim: int = 64,
    num_planes: int = 4,
    num_tables: int = 16,
    seed: int = 42,
    scale: int = 1000,
) -> list[list[list[int]]]:
    """The LSH hyperplanes — seeded standard-normal draws — quantized to
    exact integers (×scale, rounded): sign(Σ eᵢ·pᵢ) over INTEGER terms is
    accumulation-order-independent, so the bucket assignment reproduces
    bit-identically in any engine, DuckDB oracles included. Quantizing a
    random projection just yields a slightly different (equally random)
    plane."""
    planes = np.random.RandomState(seed).normal(size=(num_tables, num_planes, dim))
    q = np.round(planes * scale).astype(np.int64)
    return [[[int(v) for v in p] for p in tbl] for tbl in q]


def _int_bucket_udf(
    dim: int, num_planes: int, num_tables: int, seed: int, scale: int
) -> _BucketKernel:
    """The bucket kernel: per-table bucket ids via exact-integer
    plane dots (see quantized_planes) — the vector quantized ×scale,
    packed sign bits of its dots with the quantized planes.

    The dots run as ONE Arrow-batched int64 einsum per batch — the same
    numbers the fold-expression form produced (int64 matmul is exact;
    quantization replicates Spark ROUND's half-away-from-zero on the
    identical float64 product), but the fold form built a
    tables×planes×dim literal tree that Catalyst evaluated interpreted —
    measured 12.5s for 1k vectors at (16,4,64); the einsum is
    milliseconds. Bit-for-bit oracle parity is unchanged (re-certified
    at sf0.001/0.01/0.1)."""
    flat = np.asarray(
        quantized_planes(dim, num_planes, num_tables, seed, scale), dtype=np.int64
    )  # tables × planes × dim
    weights = (1 << np.arange(num_planes, dtype=np.int64))

    @F.pandas_udf("array<bigint>")
    def bucket_ids(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        # float32 embeddings widen to float64 here, exactly as a Spark
        # cast would, so only the narrow array crosses the Arrow boundary
        x = np.array(v.tolist(), dtype=np.float64) * scale
        # Spark/DuckDB ROUND = half away from zero evaluated on the exact
        # float64 value. floor(x+0.5) alone overshoots when x+0.5 rounds UP
        # in float (x=0.49999999999999994 -> x+0.5 == 1.0 -> 1, ROUND says
        # 0) or when x is a large odd integer (>= 2^52: x+0.5 ties to the
        # next even). Post-correct the boundary so every lane equals
        # ROUND(x) bit-exactly (ADVICE r6 #2); mirror for negatives.
        f = np.floor(x + 0.5)
        f = np.where(f - x > 0.5, f - 1.0, f)
        c = np.ceil(x - 0.5)
        c = np.where(x - c > 0.5, c + 1.0, c)
        q = np.where(x >= 0, f, c).astype(np.int64)
        dots = np.einsum("bd,tpd->btp", q, flat)  # exact int64
        ids = ((dots >= 0) * weights).sum(axis=2)  # batch × tables
        return pd.Series(list(ids))

    return bucket_ids


def _lsh_dup_pairs(
    df: DataFrame, id_col: str, vec_col: str, threshold: float, kernel: _BucketKernel
) -> DataFrame:
    """The LSH dup-pair plan for any bucket kernel: band self-join →
    exact cosine refine → ≥ threshold. Schema equals cosine_dup_pairs."""
    # The rejoin legs keep the parallelism rescue: their projection carries
    # the per-row norm fold, which otherwise serializes into a single-task
    # broadcast build when the planner broadcasts the side (round-9 A/B on
    # lsh_topk). The bucket leg below derives from the same relation with
    # the norm column pruned away.
    vecs = ensure_parallelism(_side(df, id_col, vec_col, ("vid", "vec", "vnorm")))
    # Persist + eager count: the self-join consumes the band relation from
    # BOTH legs, and without the cache each leg re-runs the Arrow bucket
    # kernel stage (ArrowEvalPython appeared twice in the executed plan).
    # ids-only rows, bands× row count — bounded, the same trade
    # minhash_lsh_pairs makes for its signature relation.
    buckets = _bands(vecs, "vid", "vec", kernel).persist()  # lazy-plan persist (persist_policy.py)
    buckets.count()
    cand = _lsh_candidates(
        buckets.withColumnRenamed("vid", "id_a"),
        buckets.withColumnRenamed("vid", "id_b"),
        ("id_a", "id_b"),
        df.select(id_col, vec_col),
        F.col("id_a") < F.col("id_b"),
    )
    return _refine(cand, vecs.toDF("id_a", "va", "na"), vecs.toDF("id_b", "vb", "nb")).filter(
        F.col("cosine_sim") >= threshold
    )


def _lsh_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    kernel: _BucketKernel,
) -> DataFrame:
    """The LSH top-k plan for any bucket kernel: the (small) query side's
    bands broadcast against the corpus bands → exact cosine re-rank →
    per-query top-k. Schema equals brute_force_topk."""
    q_vecs = _side(queries_df, id_col, vec_col, ("query_id", "q_vec", "q_norm"))
    # The rejoin leg KEEPS its parallelism rescue: its projection carries
    # the per-row norm fold, and when the planner broadcasts this side the
    # broadcast build otherwise runs that fold single-task (round-9 A/B:
    # dropping the rescue here moved ~0.6 s of norm folds onto one task
    # and regressed the bench 1.89→2.27 s; the exchange is NOT waste).
    c_vecs = ensure_parallelism(
        _side(corpus_df, id_col, vec_col, ("neighbor_id", "c_vec", "c_norm"))
    )
    q = _bands(queries_df, id_col, vec_col, kernel).withColumnRenamed(id_col, "query_id")
    c = _bands(c_vecs, "neighbor_id", "c_vec", kernel)
    cand = _lsh_candidates(
        F.broadcast(q),
        c,
        ("query_id", "neighbor_id"),
        corpus_df.select(id_col, vec_col),
        F.col("query_id") != F.col("neighbor_id"),
    )
    return _top_k(_refine(cand, F.broadcast(q_vecs), c_vecs), k)


def lsh_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    num_planes: int = 4,
    num_tables: int = 16,
    seed: int = 42,
    scale: int = 1000,
) -> DataFrame:
    """Embedding near-duplicate pairs via LSH blocking — the scale path for
    ``cosine_dup_pairs`` (which stays the exact all-pairs oracle baseline).

    Candidates are pairs sharing ≥1 (table, bucket) under seeded
    random-hyperplane LSH; survivors get the EXACT cosine (same fold
    arithmetic as the all-pairs form, so any pair the blocking recalls has
    a bit-identical score) and the ≥ threshold filter. Output schema equals
    cosine_dup_pairs: (id_a, id_b, cosine_sim).

    Bucketing is exact-integer: embeddings and hyperplanes quantize to
    ×scale integers, so every candidate and every refined cosine is
    reproducible in DuckDB SQL (query dedup_embedding_lsh).

    Plan shape at 100 TB: bucket assignment is one Arrow-batched int64
    einsum per batch (no shuffle); the self-join keys on (table, bucket)
    and carries ids only — ~N·L narrow rows through the shuffle instead of
    N² pairs; vectors rejoin for the candidate set only. Recall is the
    hyperplane collision bound 1−(1−p^b)^L with p = 1−θ/π, tuned by
    (num_planes, num_tables) and measured against the exact baseline in
    tests/test_similarity.py."""
    return _lsh_dup_pairs(
        df,
        id_col,
        vec_col,
        threshold,
        _int_bucket_udf(dim, num_planes, num_tables, seed, scale),
    )


def lsh_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    dim: int = 64,
    num_planes: int = 4,
    num_tables: int = 16,
    seed: int = 42,
    scale: int = 1000,
) -> DataFrame:
    """ANN top-k via random-hyperplane LSH + exact re-rank of candidates.

    Same output schema as brute_force_topk; approximate (recall checked in
    tests). The bucket join keys on (table, bucket) — at scale the shuffle
    moves only bucket-collided pairs. Buckets are exact-integer
    quantized-plane signs, bit-identical cross-engine, so the whole tier
    is oracle-checkable (query ann_lsh_topk).

    Defaults (4 bits × 16 tables → recall@5 ≈ 0.9 on the fixture corpus,
    whose top-5 neighbors sit at modest cosine ~0.4) trade candidate-set
    size for recall. On a billion-vector corpus raise num_planes (finer
    buckets, ~N/2^planes candidates per table) and re-measure recall —
    the (planes, tables) pair IS the cost/recall dial.
    """
    return _lsh_topk(
        queries_df,
        corpus_df,
        id_col,
        vec_col,
        k,
        _int_bucket_udf(dim, num_planes, num_tables, seed, scale),
    )


def semantic_contamination_portable(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    num_planes: int = 4,
    num_tables: int = 16,
    seed: int = 42,
    scale: int = 1000,
) -> DataFrame:
    """Semantic decontamination: flag training vectors whose cosine to ANY
    held-out eval vector reaches ``threshold`` — the embedding-space
    third tier of the decontamination suite (exact n-gram, fuzzy
    lexical MinHash, and this, which catches paraphrased benchmark
    copies that share no surface n-grams at all).

    Asymmetric like dedup.minhash_cross_contamination: the eval side is
    benchmark-sized, so its bucket bands AND vectors broadcast — the
    training corpus streams through broadcast-hash joins and is never
    self-joined. Buckets come from the exact-integer quantized planes
    (bit-identical cross-engine); the refine is the exact fold cosine,
    so the whole tier is value-hash-checkable.

    Returns (train_id, n_eval_hits, max_cosine, first_eval_id) per
    flagged training vector."""
    kernel = _int_bucket_udf(dim, num_planes, num_tables, seed, scale)
    # Rejoin leg keeps its rescue (it carries the per-row norm fold that
    # otherwise serializes into the broadcast build — see _lsh_topk).
    t_vecs = ensure_parallelism(_side(train_df, id_col, vec_col, ("train_id", "t_vec", "t_norm")))
    e_vecs = _side(eval_df, id_col, vec_col, ("eval_id", "e_vec", "e_norm"))
    # Candidates keyed on train_id: the pinned exchange also feeds the
    # final train_id groupBy.
    cand = _lsh_candidates(
        _bands(t_vecs, "train_id", "t_vec", kernel),
        F.broadcast(_bands(e_vecs, "eval_id", "e_vec", kernel)),
        ("train_id", "eval_id"),
        train_df.select(id_col, vec_col),
    )
    hits = _refine(cand, t_vecs, F.broadcast(e_vecs)).filter(F.col("cosine_sim") >= threshold)
    return hits.groupBy("train_id").agg(
        F.countDistinct("eval_id").alias("n_eval_hits"),
        F.max("cosine_sim").alias("max_cosine"),
        F.min("eval_id").alias("first_eval_id"),
    )


def margin_bitext_pairs_portable(
    x_df: DataFrame,
    y_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 4,
    ratio_num: int = 110,
    ratio_den: int = 100,
    dim: int = 64,
    num_planes: int = 4,
    num_tables: int = 16,
    seed: int = 42,
    scale: int = 1000,
) -> DataFrame:
    """Margin-based parallel-pair mining (Artetxe & Schwenk, "Margin-based
    Parallel Corpus Mining with Multilingual Sentence Embeddings", ACL
    2019 — the CCMatrix/LASER mining criterion): a cross-side candidate
    pair (x, y) is mined when its similarity clears the RATIO margin
    against the mean of each side's k-nearest-neighbor similarities,
    which cancels hubness (a vector globally similar to everything never
    clears its own neighborhood average).

    Portable determinism: similarities are exact integer dots of
    round(v*scale) quantized vectors, neighborhoods are the top-k
    candidate dots per side (lowest-id tie-break), and the margin test
    is the cross-multiplied INTEGER inequality

        ratio_den * 2 * kx * ky * dot >= ratio_num * (stk_x*ky + stk_y*kx)

    (i.e. dot >= ratio * (stk_x/kx + stk_y/ky)/2 without any float
    division) — every mined pair and every statistic is BIGINT and
    bit-identical cross-engine.

    Candidates come from the quantized-hyperplane sign buckets
    (_int_bucket_udf — the dedup_embedding_lsh kernel) joined
    ACROSS sides, so no all-pairs product ever forms. Scale: the x side
    is a mining batch (callers sample it; it broadcasts), the bucket join
    carries ids only, and both k-NN windows partition on a side id over
    candidate rows. At 100 TB the 4-bit bucket occupancy grows with the
    corpus — raise num_planes ~log2(n) (the standard LSH knob) to keep
    per-bucket work flat.

    Returns (x_id, y_id, dot_int, stk_x, kx, stk_y, ky) for mined pairs.
    """
    kernel = _int_bucket_udf(dim, num_planes, num_tables, seed, scale)
    qv = F.expr(
        f"transform({vec_col}, v -> cast(round(cast(v as double) * {scale}) as bigint))"
    )
    xs = x_df.select(F.col(id_col).cast("long").alias("x_id"), qv.alias("qv"))
    # The y rejoin leg keeps its rescue: it carries the per-row
    # quantization transform, which otherwise serializes into a broadcast
    # build (see _lsh_topk).
    ys = ensure_parallelism(
        y_df.select(F.col(id_col).cast("long").alias("y_id"), qv.alias("qv"))
    )
    # Candidates keyed on y_id: the pinned exchange fans out the integer
    # dot folds that build ``dots`` and also feeds the ys rejoin and the
    # y-side k-NN window.
    cand = _lsh_candidates(
        _bands(y_df.select(F.col(id_col).cast("long").alias("y_id"), vec_col), "y_id", vec_col, kernel),
        F.broadcast(
            _bands(x_df.select(F.col(id_col).cast("long").alias("x_id"), vec_col), "x_id", vec_col, kernel)
        ),
        ("y_id", "x_id"),
        y_df.select(id_col, vec_col),
    )
    dot = F.aggregate(
        F.zip_with(F.col("xqv"), F.col("yqv"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    # dots feeds BOTH k-NN statistic windows AND the final margin test —
    # persist so the candidate join + per-pair integer dot folds run
    # once, not three times (measured 13.3s -> ~6s at sf0.1)
    dots = (
        cand.join(F.broadcast(xs.select("x_id", F.col("qv").alias("xqv"))), "x_id")
        .join(ys.select("y_id", F.col("qv").alias("yqv")), "y_id")
        .select("x_id", "y_id", dot.alias("dot_int"))
        .persist()  # lazy-plan persist (persist_policy.py)
    )
    wx = Window.partitionBy("x_id").orderBy(F.col("dot_int").desc(), F.col("y_id"))
    wy = Window.partitionBy("y_id").orderBy(F.col("dot_int").desc(), F.col("x_id"))
    xstat = (
        dots.withColumn("rn", F.row_number().over(wx))
        .filter(F.col("rn") <= k)
        .groupBy("x_id")
        .agg(
            F.sum("dot_int").cast("long").alias("stk_x"),
            F.count("*").cast("long").alias("kx"),
        )
    )
    ystat = (
        dots.withColumn("rn", F.row_number().over(wy))
        .filter(F.col("rn") <= k)
        .groupBy("y_id")
        .agg(
            F.sum("dot_int").cast("long").alias("stk_y"),
            F.count("*").cast("long").alias("ky"),
        )
    )
    scored = dots.join(F.broadcast(xstat), "x_id").join(ystat, "y_id")
    passes = (
        F.lit(ratio_den).cast("long") * 2 * F.col("kx") * F.col("ky") * F.col("dot_int")
        >= F.lit(ratio_num).cast("long")
        * (F.col("stk_x") * F.col("ky") + F.col("stk_y") * F.col("kx"))
    )
    return scored.filter(passes).select(
        "x_id", "y_id", "dot_int", "stk_x", "kx", "stk_y", "ky"
    )


def _ivf_probe_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    num_probes: int,
    ranked_cells: Callable[[Column, Column], Column],
) -> DataFrame:
    """The IVF cell-probe plan for any cell ranker (``ranked_cells`` maps a
    (vector, norm) pair to the array of cell ids, best first): each corpus
    vector sits in its best cell, each query probes its ``num_probes``
    best, candidates equi-join on cell → exact cosine re-rank → per-query
    top-k."""
    c_assigned = ensure_parallelism(
        _side(corpus_df, id_col, vec_col, ("neighbor_id", "c_vec", "c_norm"))
    ).withColumn("cell", F.element_at(ranked_cells(F.col("c_vec"), F.col("c_norm")), 1))
    q_probed = _side(queries_df, id_col, vec_col, ("query_id", "q_vec", "q_norm")).withColumn(
        "cell", F.explode(F.slice(ranked_cells(F.col("q_vec"), F.col("q_norm")), 1, num_probes))
    )
    sims = (
        q_probed.join(c_assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_from_norms("q_vec", "c_vec", "q_norm", "c_norm").alias("cosine_sim"),
        )
    )
    return _top_k(sims, k)


def ivf_topk(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_centroids: int = 8,
    num_probes: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """ANN top-k via an IVF (inverted-file) index: partition the corpus by
    nearest centroid, probe only the ``num_probes`` closest cells per query.

    Default centroid selection is deterministic: an id-ordered stride
    sample of the corpus itself (at 100 TB you'd train centroids offline
    on a sample anyway; the cell-probe plan shape is identical). Pass
    ``centroids`` to use a trained set instead — e.g.
    ``operators.clustering.kmeans_fit(...).centroids`` — which tightens
    cells in proportion to the corpus's cluster structure.

    Plan shape: centroids are a tiny broadcast list → cell assignment is a
    shuffle-free projection on both sides → the candidate join is an
    equi-join on cell id (corpus side pre-partitioned by cell, queries
    fan out to num_probes rows each) → exact cosine re-rank within
    candidates. Corpus scanned once; per-query work ~ num_probes/num_centroids
    of brute force.

    Defaults (8 cells, 4 probes → recall@5 ≈ 0.76 on the fixture corpus)
    reflect that the fixture vectors are diffuse — IVF pays off in
    proportion to the corpus's cluster structure. On clustered production
    embeddings raise num_centroids (finer cells, ~N·probes/centroids
    candidates) and keep probes small.
    """
    # Deterministic centroid sample WITHOUT a global sort: hash-stride
    # filter (xxhash64 of the id — seedless, reproducible) thins the
    # corpus to ~2×num_centroids candidates map-side, then an
    # orderBy+limit picks the final K as a distributed TakeOrdered.
    # (A row_number window here would funnel the whole corpus through
    # one reducer just to choose 8 vectors.)
    if centroids is not None:
        cent_list = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
        num_probes = min(num_probes, len(cent_list))
    else:
        sample = corpus_df.select(
            F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")
        )
        n = sample.count()
        stride = max(1, n // (2 * num_centroids))
        cent_list = [
            (i, [float(x) for x in r.cvec])
            for i, r in enumerate(
                sample.filter(F.pmod(F.xxhash64("cid"), F.lit(stride)) == 0)
                .orderBy("cid")
                .limit(num_centroids)
                .collect()
            )
        ]

    ranked_cells = _ranked_cells_udf(cent_list)
    return _ivf_probe_topk(
        queries_df,
        corpus_df,
        id_col,
        vec_col,
        k,
        num_probes,
        lambda vec, vnorm: ranked_cells(vec),
    )


def ivf_topk_portable(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    num_centroids: int = 8,
    num_probes: int = 4,
) -> DataFrame:
    """IVF cell-probe ANN, fully oracle-checkable: the ``num_centroids``
    lowest-id corpus vectors act as fixed centroids (the kmeans_assign_stats
    seeding), cell ranking is cosine via SEQUENTIAL-fold arithmetic — the
    bit-identical twin of DuckDB's list_reduce — instead of the numpy GEMM
    the engine-internal ``ivf_topk`` uses. Same candidate plan: centroids
    fold into the row expression (no join), candidates equi-join on cell,
    exact cosine re-rank.

    The cost of portability: per-row centroid ranking is an interpreted
    higher-order-function tree (k cosine folds), ~2-3× the GEMM tier's
    bucketing cost. Registered as the correctness proof of the cell-probe
    algorithm; ``ivf_topk`` stays the fast default.
    """
    cents = sorted(
        (
            (int(r[0]), [float(x) for x in r[1]])
            for r in corpus_df.filter(F.col(id_col) < num_centroids)
            .select(id_col, vec_col)
            .collect()
        ),
        key=lambda t: t[0],
    )

    def ranked_cells(vec: Column, vnorm: Column) -> Column:
        """Array of cell ids ordered by (cosine desc, cid asc) — an
        array_sort over (−cos, cid) structs; ties and values match the
        oracle's ROW_NUMBER() OVER (ORDER BY cos DESC, cid). Plain
        division like the brute-force oracle (fixture has no zero-norm
        vectors); centroid norms are folds over literal arrays, which
        Catalyst constant-folds at plan time."""
        entries = []
        for cid, cv in cents:
            ce = F.array(*[F.lit(x) for x in cv])
            cos = dot_double(vec, ce) / (vnorm * norm_double(ce))
            entries.append(
                F.struct((-cos).alias("negcos"), F.lit(cid).alias("cid"))
            )
        return F.transform(F.array_sort(F.array(*entries)), lambda s: s["cid"])

    return _ivf_probe_topk(
        queries_df, corpus_df, id_col, vec_col, k, min(num_probes, len(cents)), ranked_cells
    )


def _ranked_cells_udf(centroids):
    """Cell ids ranked by cosine-to-centroid, descending, as ONE
    Arrow-batched matmul per batch (same rationale as ``_int_bucket_udf``
    — the per-centroid fold-expression formulation codegens k×dim-term
    trees per row). Zero-norm vectors rank all cells equal-last; ties
    break toward the lower cell id (stable argsort) — real-valued
    cosines make ties measure-zero in practice."""
    cmat = np.array([cv for _, cv in centroids], dtype=np.float64)  # k × dim
    cnorm = np.linalg.norm(cmat, axis=1)
    cnorm[cnorm == 0.0] = np.inf  # zero-norm centroid: sim 0 everywhere
    cell_ids = np.array([ci for ci, _ in centroids], dtype=np.int32)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def ranked(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mat = np.array(v.tolist(), dtype=np.float64)  # batch × dim
        vnorm = np.linalg.norm(mat, axis=1)
        vnorm[vnorm == 0.0] = np.inf
        sims = (mat @ cmat.T) / np.outer(vnorm, cnorm)
        order = np.argsort(-sims, axis=1, kind="stable")
        return pd.Series(list(cell_ids[order]))

    return ranked
