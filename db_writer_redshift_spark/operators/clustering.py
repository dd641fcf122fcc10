"""Distributed k-means (Lloyd's algorithm) over an embedding column.

No counterpart in the reference (keboola/db-writer-redshift has no
compute operators at all — SURVEY.md §2.4); this is the corpus-curation
clustering step a training-data pipeline runs for topic bucketing,
diversity sampling, and IVF index training (operators/similarity.ivf_topk
consumes exactly this kind of centroid set).

Spark shape per Lloyd iteration:
  1. assignment — centroids fold into the plan as an array-of-structs
     literal (k is small by definition), so it is pure map-side
     arithmetic on each row: transform + array_min, no join, no shuffle
     (the same kernel plans/llm_ops.kmeans_assign_stats proves
     oracle-exact against DuckDB);
  2. update — per-centroid mean vector via ONE aggregate with dim flat
     SUM columns (the same flat-aggregate trick minhash_signatures
     uses): partials combine map-side, so the shuffle carries
     ~(#map partitions × k) rows of dim doubles regardless of corpus
     size; the k-row result collects to the driver for the division.
The driver holds only k × dim floats per round. Iterations stop on
max_iters or when no vector changes assignment (exact integer
convergence test — one extra count per round, map-side combined).

Determinism: seeding is the k lowest-id vectors (no RNG), ties in
assignment break to the lowest centroid id, and the convergence test is
exact — the same inputs give the same clustering on any cluster size or
partitioning.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass(frozen=True)
class KMeansResult:
    assignments: DataFrame  # (id, centroid_id, sqdist)
    centroids: list[list[float]]  # k × dim, final
    iterations: int
    converged: bool


def _assign(df: DataFrame, id_col: str, vec_col: str, cents: list[list[float]]) -> DataFrame:
    cent_arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("cid"),
                F.array(*[F.lit(float(x)) for x in c]).alias("ce"),
            )
            for i, c in enumerate(cents)
        ]
    )
    sqdist = lambda ce: F.aggregate(  # noqa: E731
        F.zip_with(
            F.col(vec_col), ce, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = F.array_min(
        F.transform(
            cent_arr,
            lambda c: F.struct(sqdist(c["ce"]).alias("dist"), c["cid"].alias("cid")),
        )
    )
    return df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        best["cid"].alias("centroid_id"),
        best["dist"].alias("sqdist"),
    )


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    max_iters: int = 10,
) -> KMeansResult:
    """Lloyd's k-means with deterministic lowest-id seeding.

    Scale: per iteration, assignment is scan-stage arithmetic (no
    shuffle) and the centroid update is one k-group aggregate whose
    partial vector-sums combine map-side — the shuffle carries
    ~(#map partitions × k) rows of dim doubles, independent of corpus
    size. The convergence probe compares assignments to the previous
    round with an exact count, combined map-side too.
    """
    dim_row = df.select(F.size(vec_col).alias("d")).first()
    if dim_row is None:
        raise ValueError("kmeans_fit on an empty DataFrame")
    dim = dim_row.d
    # Ragged or NULL-holed vectors would surface mid-fit as an opaque
    # TypeError (a NULL SUM reaching the centroid division) — validate up
    # front with one map-side-combined aggregate and name the offender.
    bad = df.select(
        F.sum(
            F.when(
                F.col(vec_col).isNull()
                | (F.size(vec_col) != dim)
                | F.exists(vec_col, lambda x: x.isNull()),
                1,
            ).otherwise(0)
        ).alias("n_bad"),
        F.min(
            F.when(
                F.col(vec_col).isNull()
                | (F.size(vec_col) != dim)
                | F.exists(vec_col, lambda x: x.isNull()),
                F.col(id_col),
            )
        ).alias("first_bad"),
    ).first()
    if bad.n_bad:
        raise ValueError(
            f"kmeans_fit: {bad.n_bad} row(s) with NULL or ragged {vec_col} "
            f"(expected {dim} non-null elements; first bad {id_col}="
            f"{bad.first_bad})"
        )
    seeds = (
        df.orderBy(id_col)
        .limit(k)
        .select(vec_col)
        .collect()
    )
    cents = [[float(x) for x in r[0]] for r in seeds]
    if len(cents) < k:
        raise ValueError(f"need at least k={k} rows, got {len(cents)}")

    prev: DataFrame | None = None
    converged = False
    iterations = 0
    assigned = _assign(df, id_col, vec_col, cents)
    for it in range(1, max_iters + 1):
        iterations = it
        assigned = assigned.persist()
        # update step: dim flat SUM columns + count per centroid (all
        # map-side combined — never collect_list the member vectors),
        # mean computed at the driver on k rows
        stats = assigned.groupBy("centroid_id").agg(
            F.count("*").alias("n"),
            *[F.sum(F.col("vec")[i].cast("double")).alias(f"s{i}") for i in range(dim)],
        ).collect()
        new_cents = list(cents)  # empty clusters keep their centroid
        for r in stats:
            new_cents[r.centroid_id] = [r[f"s{i}"] / r.n for i in range(dim)]
        new_assigned = _assign(df, id_col, vec_col, new_cents)
        moved = (
            new_assigned.select("id", F.col("centroid_id").alias("new_cid"))
            .join(assigned.select("id", "centroid_id"), "id")
            .filter(F.col("new_cid") != F.col("centroid_id"))
            .limit(1)
            .count()
        )
        cents = new_cents
        if prev is not None:
            prev.unpersist()
        prev = assigned
        assigned = new_assigned
        if moved == 0:
            converged = True
            break
    if prev is not None:
        prev.unpersist()
    return KMeansResult(
        assignments=assigned.select("id", "centroid_id", "sqdist"),
        centroids=cents,
        iterations=iterations,
        converged=converged,
    )


def kmeans_fit_portable(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    iters: int = 2,
    scale: int = 1000,
) -> DataFrame:
    """Lloyd's k-means in EXACT INTEGER arithmetic — the oracle-checkable
    twin of kmeans_fit (same deterministic lowest-id seeding and
    lowest-cid tie-break), built so an ITERATIVE ML fit can carry a full
    cross-engine value proof (the pagerank_int discipline applied to
    clustering):

    * coordinates quantize to round(x·scale) BIGINTs before anything
      else — distances are exact integer sums of squared diffs;
    * centroid updates are floor(sum / count) with |sum/count| and count
      far below 2⁵², where IEEE division + floor is exact and identical
      in Spark, DuckDB, and Python — no accumulation-order dependence
      anywhere;
    * empty clusters keep their previous centroid.

    Returns the final assignment (id, centroid_id, sqdist_int). Per
    iteration: scan-stage assignment against centroid literals (no
    join/shuffle) + one (k×dim)-group integer aggregate; driver state is
    k×dim ints."""
    q = df.select(
        F.col(id_col).alias("id"),
        F.expr(
            f"transform({vec_col}, x -> cast(round(cast(x as double) * {scale}) as bigint))"
        ).alias("qv"),
    )
    seeds = q.orderBy("id").limit(k).select("qv").collect()
    cents = [[int(x) for x in r.qv] for r in seeds]
    if len(cents) < k:
        raise ValueError(f"need at least k={k} rows, got {len(cents)}")
    dim = len(cents[0])

    def assign(cur: list[list[int]]) -> DataFrame:
        cent_arr = F.array(
            *[
                F.struct(
                    F.lit(i).alias("cid"),
                    F.array(*[F.lit(int(x)).cast("long") for x in c]).alias("ce"),
                )
                for i, c in enumerate(cur)
            ]
        )
        sqdist = lambda ce: F.aggregate(  # noqa: E731
            F.zip_with(F.col("qv"), ce, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        best = F.array_min(
            F.transform(
                cent_arr,
                lambda c: F.struct(sqdist(c["ce"]).alias("dist"), c["cid"].alias("cid")),
            )
        )
        return q.select(
            "id",
            "qv",
            best["cid"].alias("centroid_id"),
            best["dist"].alias("sqdist_int"),
        )

    for _ in range(iters):
        assigned = assign(cents)
        stats = (
            assigned.select("centroid_id", F.posexplode("qv").alias("d", "v"))
            .groupBy("centroid_id", "d")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for r in stats:
            sums.setdefault(r.centroid_id, [0] * dim)[r.d] = int(r.s)
            counts[r.centroid_id] = int(r.n)
        cents = [
            [sums[c][i] // counts[c] for i in range(dim)] if c in counts else cents[c]
            for c in range(k)
        ]
    return assign(cents)


def kcenter_greedy_portable(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    scale: int = 1000,
) -> tuple[list[tuple[int, int, int]], DataFrame]:
    """k-Center greedy (farthest-point / Gonzalez) coreset selection in
    EXACT INTEGER arithmetic — the coreset construction of Sener &
    Savarese, "Active Learning for CNNs: A Core-Set Approach" (ICLR
    2018), the geometry-coverage complement of kmeans_fit_portable's
    density clustering: instead of minimizing mean distance it
    minimizes the COVERAGE RADIUS, a 2-approximation of the optimal
    k-center solution, so the selected subset provably spans the
    embedding space.

    Determinism (the pagerank_int / kmeans_fit_portable discipline):
    coordinates quantize to round(x*scale) BIGINTs up front, distances
    are exact integer sums of squared diffs, the seed is the lowest-id
    vector, and every argmax breaks ties to the lowest id — so the full
    selection TRAJECTORY (which center, in which order, at what radius)
    is bit-identical cross-engine and value-hash checkable.

    Returns (trajectory, assignment):
      * trajectory — [(round, center_id, radius_int)], where
        radius_int at round r>=1 is the max-min squared distance to
        centers 0..r-1 (the coverage radius that made this pick);
        round 0 is the seed with radius 0;
      * assignment — DataFrame (id, center_round, sqdist_int) mapping
        every vector to its nearest selected center (ties to the
        earliest round).

    Scale: each of the k-1 rounds is one scan-stage min-distance
    expression against center literals plus a SINGLE-ROW struct-max
    aggregate (partials combine map-side — the shuffle carries one row
    per map partition); the quantized input is persisted once and the
    driver holds only k ids + k quantized vectors. Total work
    O(k * n * dim) with k scans — at 100 TB you bound k or run the
    standard two-level variant (greedy over per-partition pre-coresets)
    with the same kernel.
    """
    q = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.expr(
            f"transform({vec_col}, x -> cast(round(cast(x as double) * {scale}) as bigint))"
        ).alias("qv"),
    ).persist()  # lazy-plan persist (persist_policy.py)
    try:
        seed = q.orderBy("id").limit(1).collect()
        if not seed:
            raise ValueError("kcenter_greedy: empty input")
        centers: list[list[int]] = [[int(x) for x in seed[0].qv]]
        trajectory: list[tuple[int, int, list[int]]] = [(0, int(seed[0].id), 0)]

        def dist_to(c: list[int]):
            ce = F.array(*[F.lit(int(x)).cast("long") for x in c])
            return F.aggregate(
                F.zip_with(F.col("qv"), ce, lambda x, y: (x - y) * (x - y)),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )

        for r in range(1, k):
            mind = F.least(*[dist_to(c) for c in centers]) if len(centers) > 1 else dist_to(centers[0])
            # argmax(mind), ties to the LOWEST id: struct-max on
            # (mind, -id, qv) — (mind, -id) is unique so qv never
            # participates in the comparison, it just rides along.
            far = q.select(
                F.max(
                    F.struct(
                        mind.alias("d"),
                        (-F.col("id")).alias("nid"),
                        F.col("qv").alias("qv"),
                    )
                ).alias("m")
            ).collect()[0].m
            centers.append([int(x) for x in far.qv])
            trajectory.append((r, int(-far.nid), int(far.d)))

        cent_arr = F.array(
            *[
                F.struct(
                    F.lit(i).alias("r"),
                    F.array(*[F.lit(int(x)).cast("long") for x in c]).alias("ce"),
                )
                for i, c in enumerate(centers)
            ]
        )
        sqd = lambda ce: F.aggregate(  # noqa: E731
            F.zip_with(F.col("qv"), ce, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        best = F.array_min(
            F.transform(
                cent_arr,
                lambda c: F.struct(sqd(c["ce"]).alias("dist"), c["r"].alias("r")),
            )
        )
        assignment = q.select(
            "id",
            best["r"].alias("center_round"),
            best["dist"].alias("sqdist_int"),
        )
        # materialize before unpersist: the caller's plan re-reads q
        assignment = assignment.localCheckpoint(eager=True)
        return trajectory, assignment
    finally:
        q.unpersist()
