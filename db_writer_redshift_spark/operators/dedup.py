"""Deduplication operators for large-scale corpus curation.

Five tiers, cheapest-first, the way a 100 TB pipeline stacks them:
  1. exact            — md5 fingerprint group-by (one shuffle on the hash)
  2. shingle-Jaccard  — inverted-index candidate join with a document-
                        frequency cap (the cap bounds bucket fan-out, which
                        is what keeps the self-join sub-quadratic at scale)
  3. MinHash + LSH    — fixed-size signatures, banded bucketing; candidate
                        pairs only within equal band buckets
  4. SimHash          — 64-bit near-dup fingerprint, hamming-distance pairs
  5. embedding cosine — semantic near-dup over the embeddings table
                        (delegates to operators/similarity.py)

Everything is DataFrame built-ins; the only "custom" math is hash mixing,
done with xxhash64 + integer arithmetic in column expressions (JVM codegen).
Nothing here collects to the driver.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from db_writer_redshift_spark.functions.text import ngrams, shingles
from db_writer_redshift_spark.operators.partitioning import (
    TEXT_KERNEL_BYTES_PER_TASK,
    ensure_parallelism,
)

# Mersenne prime 2^31-1 for the universal-hash family (a*h + b) mod p.
# 31-bit domain keeps a*h + b < 2^62 — no int64 overflow under ANSI mode.
_MERSENNE_P = (1 << 31) - 1


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact duplicate groups by content fingerprint. Returns one row per
    distinct content: (fingerprint, keep_id = min id, n_copies)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("keep_id"), F.count("*").alias("n_copies"))
    )


def shingle_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.05,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Near-duplicate pairs by word-n-gram Jaccard via an inverted index.

    Plan shape: explode distinct shingles → drop shingles appearing in more
    than ``max_doc_freq`` docs (stop-shingles; caps the quadratic bucket
    blow-up — at 1000 executors this cap is the difference between a join
    and a cross product) → self-join on shingle → count common shingles per
    pair → Jaccard over the *filtered* shingle sets.

    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥ threshold.
    """
    # The shingle kernel is CPU-bound: lift the narrow (id, text) projection
    # to full cluster parallelism when the scan layout under-partitions
    # (no-op on a healthy many-split layout).
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")),
        bytes_per_task=TEXT_KERNEL_BYTES_PER_TASK,
    )
    sh = base.select("doc_id", F.explode(shingles(F.col("__t"), n)).alias("sh"))
    # Document-frequency cap, persisted AND eagerly materialized: three
    # consumers read it inside one job (per-doc counts + both sides of the
    # inverted-index self-join), and a lazy persist would let their tasks
    # race to compute it concurrently; the count() forces one computation
    # now, while keeping the relation in the CacheManager so a repeated
    # invocation of the same plan reuses it (localCheckpoint would not).
    rare = (
        sh.join(
            sh.groupBy("sh")
            .agg(F.count("*").alias("df_count"))
            .filter(F.col("df_count") <= max_doc_freq),
            "sh",
        )
        .select("doc_id", "sh")
        .persist()  # lazy-plan persist (persist_policy.py)
    )
    rare.count()
    counts = rare.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = rare.alias("a")
    b = rare.alias("b")
    pairs = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(jac >= threshold)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )


def ngram_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark decontamination: distinct word-n-gram overlap of every
    training document against an evaluation corpus (the GPT-3/PaLM-style
    n-gram collision check).

    Plan shape: explode distinct n-grams on both sides → equi-join on the
    gram → per-train-doc rollup. The eval side is a benchmark suite —
    tiny relative to a 100 TB training corpus — so its exploded gram list
    broadcasts (``broadcast_eval``) and the training side never shuffles:
    the whole check is a scan-stage broadcast-hash-join plus one rollup
    aggregation keyed on train_id.

    Output: one row per CONTAMINATED train doc —
    (train_id, n_shared_grams, n_eval_docs, first_eval_id).
    """
    tg = ensure_parallelism(
        train.select(F.col(id_col).alias("train_id"), F.col(text_col).alias("__t")),
        bytes_per_task=TEXT_KERNEL_BYTES_PER_TASK,
    ).select("train_id", F.explode(shingles(F.col("__t"), n)).alias("g"))
    eg = eval_df.select(
        F.col(id_col).alias("eval_id"),
        F.explode(shingles(F.col(text_col), n)).alias("g"),
    )
    if broadcast_eval:
        eg = F.broadcast(eg)
    return (
        tg.join(eg, "g")
        .groupBy("train_id")
        .agg(
            F.count_distinct("g").alias("n_shared_grams"),
            F.count_distinct("eval_id").alias("n_eval_docs"),
            F.min("eval_id").alias("first_eval_id"),
        )
    )


def _hash_params(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) universal-hash parameters from the seed via a
    splitmix-style mix — no RNG state, reproducible anywhere."""
    params = []
    for i in range(num_hashes):
        x = (seed * 0x9E3779B97F4A7C15 + i * 0xBF58476D1CE4E5B9) & ((1 << 63) - 1)
        a = (x % (_MERSENNE_P - 1)) + 1  # in [1, p-1]
        b = ((x >> 17) + i * 0x632BE59B) % _MERSENNE_P
        params.append((a, b))
    return params


def _portable_base_hash(col: Column) -> Column:
    """32-bit base hash both engines can compute bit-identically: integer
    value of the first 8 hex chars of md5, mod the Mersenne prime.
    (DuckDB twin: list_reduce over strpos('0123456789abcdef', c) digits —
    see the dedup_minhash_portable oracle.)"""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint"),
        F.lit(_MERSENNE_P),
    )


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """(doc_id, signature: array<bigint>[num_hashes]) per document.

    Plan shape: explode distinct shingle hashes → num_hashes flat affine
    projections ((a_i*h+b_i) mod p; a,h < 2^31 so the products stay under
    2^62 — ANSI-overflow-safe) → one groupBy(doc_id) with num_hashes MIN
    aggregates → assemble the array. Partial aggregation runs map-side, so
    the shuffle carries one num_hashes-wide row per doc per map partition
    — NOT per shingle.

    (A previous formulation used num_hashes nested array_min/transform
    lambdas over the shingle array; the codegen'd expression tree was
    megabytes and dominated runtime. Flat projections + min aggs are the
    scale path.)

    The default tier never MATERIALIZES gram strings: each token is
    xxhash64'd once, and a shingle's base hash is xxhash64 over its n
    token hashes — a fixed-width bigint mix instead of concat_ws string
    building, with array_distinct running on bigints rather than strings.
    Measured 6× on the sf0.1 signature stage (round-7; the same
    hash-not-strings move as the portable-LSH einsum). Distinctness is
    per-HASH rather than per-gram — indistinguishable below ~2^32 shingles
    per doc, and MinHash is already a hash-level approximation. Engine-
    internal hashing, hence no SQL oracle; tests validate signature
    similarity against exact Jaccard. With ``portable=True`` the base
    hash stays the md5-derived 32-bit value over the literal gram string
    (_portable_base_hash) — pricier, but every signature value is
    reproducible in ANSI/DuckDB SQL, making that tier oracle-checkable
    (query ``dedup_minhash_portable``).
    """
    params = _hash_params(num_hashes, seed)
    # Shingle explode + 64 projections is the CPU-heavy stage — make sure it
    # runs at cluster parallelism even when the scan yields few partitions
    # (single-row-group parquet; a handful of gzip slices). 2.4× on the
    # one-row-group fixture; no-op on a many-split layout. Keyed on
    # doc_id so the 64-min groupBy reuses this exchange instead of
    # re-shuffling the exploded 64-column relation (~30% on the sf0.1
    # signature stage).
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")),
        key="doc_id",
        bytes_per_task=TEXT_KERNEL_BYTES_PER_TASK,
    )
    if portable:
        exploded = base.select(
            "doc_id",
            F.explode(F.array_distinct(shingles(F.col("__t"), n))).alias("sh"),
        )
        h = _portable_base_hash(F.col("sh"))
    else:
        # token-hash window mix; tokenization identical to shingles()
        # (split on single space, no case folding). sequence(1, size-n+1)
        # needs the short-doc guard (Spark's sequence(1, 0) == [1, 0]).
        mix = ", ".join(f"__th[i + {j} - 1]" for j in range(n))
        exploded = base.select(
            "doc_id",
            F.transform(
                F.split(F.col("__t"), " "), lambda tok: F.xxhash64(tok, F.lit(seed))
            ).alias("__th"),
        ).select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"CASE WHEN size(__th) >= {n} THEN"
                        f" transform(sequence(1, size(__th) - {n} + 1),"
                        f" i -> xxhash64({mix}))"
                        " ELSE cast(array() as array<bigint>) END"
                    )
                )
            ).alias("sh"),
        )
        h = F.pmod(F.col("sh"), F.lit(_MERSENNE_P))
    projected = exploded.select(
        "doc_id",
        *[
            ((F.lit(a) * h + F.lit(b)) % F.lit(_MERSENNE_P)).alias(f"h{i}")
            for i, (a, b) in enumerate(params)
        ],
    )
    agg = projected.groupBy("doc_id").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)]
    )
    return agg.select(
        "doc_id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("signature")
    )


def band_rows(
    sig: DataFrame, num_hashes: int, bands: int, portable: bool = False
) -> DataFrame:
    """(doc_id, band, bucket) LSH band rows from a (doc_id, signature)
    relation — the ONE banding definition, shared by the batch candidate
    join (minhash_lsh_pairs) and the streaming bucket store
    (streaming.near_dup_filter_sink), so stored streaming buckets
    interoperate with the batch tier. Band rows carry only (doc_id,
    band, bucket) — never the signature — so the bucket equi-join
    shuffles ``bands`` narrow rows per doc."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands

    def bucket_key(bi):
        joined = F.concat_ws(
            ",",
            F.transform(
                F.slice(F.col("signature"), bi * rows_per_band + 1, rows_per_band),
                lambda v: v.cast("string"),
            ),
        )
        return joined if portable else F.xxhash64(joined)

    return sig.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bi: F.struct(bi.alias("band"), bucket_key(bi).alias("bucket")),
            )
        ).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    portable: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs with estimated Jaccard.

    ``max_bucket_size`` drops band buckets holding more than that many
    docs BEFORE the self-join — the stop-shingle discipline coarse
    (few-rows-per-band) bandings need: a bucket of k docs emits C(k,2)
    candidates, so one hot bucket is quadratic. Deterministic (part of
    the algorithm, mirrored by oracles); None = uncapped, right for the
    4-row dedup banding whose collisions are already selective.

    num_hashes/bands rows-per-band tune the S-curve; candidates are pairs
    sharing ≥1 band bucket (equi-join on (band, band_hash) — shuffle keyed on
    the bucket, never all-pairs). Estimated Jaccard = fraction of agreeing
    signature positions; pairs below ``threshold`` are dropped.

    ``portable=True`` switches the base hash to the md5-derived family and
    keys band buckets on the plain concatenated signature slice (a string
    DuckDB reproduces verbatim) instead of xxhash64 of it — the fully
    oracle-checkable tier. Wider shuffle keys (~40 chars vs 8 bytes), same
    plan shape.
    """
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # The signature relation feeds THREE consumers (band explode + two
    # candidate rejoins) inside ONE job; persist + eager count() computes
    # it exactly once (a lazy persist lets the consumers' tasks race to
    # compute the whole shingle-explode-and-aggregate subtree
    # concurrently) while keeping it CacheManager-reusable across
    # invocations. num_hashes×8B per doc — orders of magnitude smaller
    # than the text, the right trade at any scale.
    sig = minhash_signatures(df, id_col, text_col, n, num_hashes, seed, portable).persist()  # lazy-plan persist (persist_policy.py)
    sig.count()

    banded = band_rows(sig, num_hashes, bands, portable)
    if max_bucket_size is not None:
        small = (
            banded.groupBy("band", "bucket")
            .agg(F.count("*").alias("__bs"))
            .filter(F.col("__bs") <= max_bucket_size)
            .select("band", "bucket")
        )
        banded = banded.join(small, ["band", "bucket"])
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    cand = cand.join(
        sig.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("sig_a")), "doc_a"
    ).join(sig.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sig_b")), "doc_b")
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m)).cast(
            "double"
        )
        / F.lit(float(num_hashes))
    )
    return cand.select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard")).filter(
        F.col("est_jaccard") >= threshold
    )


def minhash_cross_contamination(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Fuzzy benchmark decontamination: MinHash-LSH candidates BETWEEN two
    corpora (training vs held-out eval), rolled up per training document —
    the GPT-3-appendix-style contamination check upgraded from exact n-gram
    collision (ngram_overlap) to near-duplicate detection, so lightly
    edited benchmark copies are caught too.

    Asymmetric by design: the eval side is benchmark-sized, so its band
    rows broadcast — training band rows stream through a broadcast-hash
    join and the training corpus is NEVER joined to itself (contrast
    minhash_lsh_pairs, the within-corpus tier, whose candidate set is
    quadratic in bucket occupancy). Candidate (train_id, eval_id) pairs
    carry ids only; the training signatures rejoin on id (narrow
    shuffle), eval signatures broadcast again, and the per-train rollup
    combines map-side.

    Returns (train_id, n_eval_hits, max_est_jaccard, first_eval_id) for
    training docs with >=1 eval candidate at estimated Jaccard >=
    ``threshold``.
    """
    sig_t = minhash_signatures(
        train, id_col, text_col, n, num_hashes, seed, portable
    ).persist()  # lazy-plan persist (persist_policy.py)
    sig_t.count()
    sig_e = minhash_signatures(eval_df, id_col, text_col, n, num_hashes, seed, portable)

    bt = band_rows(sig_t, num_hashes, bands, portable)
    be = band_rows(sig_e, num_hashes, bands, portable).select(
        F.col("doc_id").alias("eval_id"), "band", "bucket"
    )
    cand = (
        bt.join(F.broadcast(be), ["band", "bucket"])
        .select(F.col("doc_id").alias("train_id"), "eval_id")
        .dropDuplicates(["train_id", "eval_id"])
    )
    paired = cand.join(
        sig_t.select(F.col("doc_id").alias("train_id"), F.col("signature").alias("sig_t")),
        "train_id",
    ).join(
        F.broadcast(
            sig_e.select(F.col("doc_id").alias("eval_id"), F.col("signature").alias("sig_e"))
        ),
        "eval_id",
    )
    est = (
        F.size(F.filter(F.zip_with("sig_t", "sig_e", lambda x, y: x == y), lambda m: m)).cast(
            "double"
        )
        / F.lit(float(num_hashes))
    )
    hits = paired.select(
        "train_id", "eval_id", F.round(est, 4).alias("est_jaccard")
    ).filter(F.col("est_jaccard") >= threshold)
    return hits.groupBy("train_id").agg(
        F.countDistinct("eval_id").alias("n_eval_hits"),
        F.max("est_jaccard").alias("max_est_jaccard"),
        F.min("eval_id").alias("first_eval_id"),
    )


def _simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    token_hash: Callable[[Column], Column],
    bits: int,
) -> DataFrame:
    """SimHash fingerprint builder: ``token_hash`` maps the token column to
    a BIGINT; each of the low ``bits`` bit positions sums ±1 per token
    occurrence, and the sign of each sum is the fingerprint bit.

    Implementation: explode tokens → one groupBy(doc) computing the bit-sums
    in a single shuffle (partial aggregation map-side), then assemble the
    fingerprint with shiftleft/bitwise-or. All JVM expressions.
    """
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")),
        key="doc_id",  # the bit-sum groupBy reuses this exchange
        bytes_per_task=TEXT_KERNEL_BYTES_PER_TASK,
    )
    tokens = base.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("__t")), " ")).alias("tok"),
    ).withColumn("h", token_hash(F.col("tok")))
    bit_sums = tokens.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{j}")
            for j in range(bits)
        ]
    )
    fp = F.lit(0).cast("bigint")
    for j in range(bits):
        fp = fp.bitwiseOR(
            F.when(F.col(f"b{j}") > 0, F.shiftleft(F.lit(1).cast("bigint"), j)).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    return bit_sums.select("doc_id", fp.alias("simhash"))


def _simhash_pairs(sh: DataFrame, chunk_bits: int, max_hamming: int) -> DataFrame:
    """Near-dup pairs of a (doc_id, simhash) relation by hamming distance
    ≤ max_hamming.

    Candidate generation (Manku-style multi-probe blocking): split the
    fingerprint into 4 × ``chunk_bits``-bit chunks. One side of the join
    emits each chunk's exact value; the other side also emits all
    ``chunk_bits`` one-bit flips of each chunk. The equi-join on
    (chunk_idx, value) therefore catches every pair whose chunk differs by
    ≤1 bit — and by pigeonhole, hamming ≤ 6 over 4 chunks forces some
    chunk to carry ≤1 flip (4×2 > 6), so candidate generation is COMPLETE
    for the default radius. Never an all-pairs product: buckets key on
    chunk values, probe fan-out is a fixed 4·(chunk_bits+1) rows/doc.
    """
    # Two consumers (exact chunks + probe fan-out) in one job — persist
    # and materialize eagerly so the bit-sum aggregation over exploded
    # tokens runs once, not twice (lazy persist would let them race).
    sh = sh.persist()  # lazy-plan persist (persist_policy.py)
    sh.count()
    mask = (1 << chunk_bits) - 1

    def chunk_val(i: int) -> F.Column:
        return F.shiftrightunsigned(F.col("simhash"), chunk_bits * i).bitwiseAND(F.lit(mask))

    exact = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("ci"), chunk_val(i).alias("cv")) for i in range(4)])
        ).alias("c"),
    ).select("doc_id", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    probes = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.flatten(
                F.array(
                    *[
                        F.array(
                            F.struct(F.lit(i).alias("ci"), chunk_val(i).alias("cv")),
                            *[
                                F.struct(
                                    F.lit(i).alias("ci"),
                                    chunk_val(i).bitwiseXOR(F.lit(1 << j)).alias("cv"),
                                )
                                for j in range(chunk_bits)
                            ],
                        )
                        for i in range(4)
                    ]
                )
            )
        ).alias("c"),
    ).select("doc_id", "simhash", F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv"))
    a, b = exact.alias("a"), probes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return cand.select("doc_a", "doc_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def simhash(df: DataFrame, id_col: str, text_col: str, seed: int = 42) -> DataFrame:
    """64-bit SimHash per document: per-token xxhash64, sum ±1 per bit
    position weighted by token count, sign → bit (see _simhash)."""
    return _simhash(df, id_col, text_col, lambda tok: F.xxhash64(tok, F.lit(seed)), 64)


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 6, seed: int = 42
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming: 4 × 16-bit
    Manku chunk blocking (exact + 16 one-bit probes per chunk — complete
    for hamming ≤ 6 by pigeonhole; see _simhash_pairs), hamming via
    bit_count(xor)."""
    return _simhash_pairs(simhash(df, id_col, text_col, seed), 16, max_hamming)


_SIMHASH_PORTABLE_BITS = 60  # 15 md5 hex chars — signed-BIGINT-safe in both engines
_SIMHASH_PORTABLE_CHUNK = 15  # 4 chunks × 15 bits; 4×2 > 6 keeps pigeonhole complete


def simhash_portable(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash with the engine-portable token hash (integer of the
    first 15 md5 hex chars): every bit-sum and fingerprint reproduces in
    DuckDB SQL. Same plan as simhash (explode → one 60-bit-sum aggregate
    → shift/or assembly); 60 bits instead of 64 so the value stays inside
    signed BIGINT range in both engines."""
    return _simhash(
        df,
        id_col,
        text_col,
        lambda tok: F.conv(F.substring(F.md5(tok), 1, 15), 16, 10).cast("bigint"),
        _SIMHASH_PORTABLE_BITS,
    )


def simhash_pairs_portable(
    df: DataFrame, id_col: str, text_col: str, max_hamming: int = 6
) -> DataFrame:
    """simhash_pairs over the portable 60-bit fingerprint: 4 × 15-bit
    Manku chunk blocking (exact + 15 one-bit probes per chunk — complete
    for hamming ≤ 6 by pigeonhole), hamming via bit_count(xor). Fully
    oracle-checkable (query dedup_simhash_portable)."""
    return _simhash_pairs(
        simhash_portable(df, id_col, text_col), _SIMHASH_PORTABLE_CHUNK, max_hamming
    )


def connected_components(
    pairs: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 30
) -> DataFrame:
    """Connected components over an undirected pair relation via hash-min
    label propagation (the BSP superstep pattern GraphX/GraphFrames use).
    Returns one row per node appearing in any pair: (node, cluster_root)
    with cluster_root = the component's minimum node id.

    Each superstep: every node takes the min of its own label and its
    neighbors' labels; fixpoint after ~diameter rounds (near-dup graphs
    are shallow). Scale: one shuffle per round over the 2|E| bidirected
    edge list plus a map-side-combined min per node; `localCheckpoint`
    truncates lineage each round so superstep N doesn't re-execute
    supersteps 1..N-1; the driver only ever sees a converged? boolean.
    """
    # Materialize the pair relation BEFORE the bidirecting union: the
    # union references it twice, and a lazy persist doesn't stop both
    # branches from racing to compute the (expensive) pair pipeline
    # concurrently — persist + eager count() runs it exactly once.
    p = pairs.select(F.col(src).alias("u"), F.col(dst).alias("v")).persist()
    p.count()
    edges = p.union(p.select(F.col("v"), F.col("u")))
    labels = (
        edges.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select("u", F.least("u", "mv").alias("label"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr = (
            edges.join(
                labels.select(F.col("u").alias("w"), "label"),
                F.col("v") == F.col("w"),
            )
            .groupBy("u")
            .agg(F.min("label").alias("nbr_min"))
        )
        new_labels = (
            labels.withColumnRenamed("label", "old_label")
            .join(nbr, "u", "left")
            .select(
                "u",
                "old_label",
                F.least(
                    "old_label", F.coalesce("nbr_min", F.col("old_label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        # Convergence probe on the already-checkpointed relation: isEmpty
        # is take(1) — it early-exits at the FIRST changed row, where a
        # count() would scan every label partition every round. Only the
        # final (converged) round pays a full scan, unavoidably.
        converged = new_labels.filter(F.col("label") < F.col("old_label")).isEmpty()
        labels = new_labels.select("u", "label")
        if converged:
            break
    p.unpersist()
    return labels.select(F.col("u").alias("node"), F.col("label").alias("cluster_root"))


def ppjoin_exact_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_num: int = 3,
    threshold_den: int = 10,
) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    SSJoin/PPJoin family — Chaudhuri et al. 2006, Xiao et al. 2008):
    all pairs with shingle-set Jaccard ≥ num/den, with ZERO false
    negatives — the deterministic complement to the probabilistic
    MinHash-LSH tier (which trades recall for fixed signatures) and to
    shingle_jaccard_pairs' df-cap (which silently drops high-frequency
    shingles).

    Prefix filter: order every document's shingles by ascending global
    document frequency (rarest first, shingle string as tie-break — a
    total order both engines agree on); if J(A,B) ≥ t, A and B MUST
    share a token within their first ``|S| − ⌈t·|S|⌉ + 1`` tokens under
    any common total order, so joining PREFIXES only — weighted toward
    the rarest shingles, hence the smallest buckets — finds every
    qualifying pair. A length filter (den·min(|A|,|B|) ≥
    num·max(|A|,|B|), since J ≤ min/max) prunes inside the join.
    Candidates then verify with the exact integer Jaccard.

    All arithmetic is integer (⌈t·s⌉ as ``(num·s + den − 1) div den``,
    final ratio as ppm floor-division), so the DuckDB twin is
    bit-identical.

    Scale: df is one map-side-combined aggregate; the prefix join's
    bucket sizes are the df of the RAREST ~(1−t) fraction of each doc's
    shingles — the filter is self-tuning toward small buckets. The
    verify join touches candidate pairs only.
    """
    # g feeds df-counts, sizes, the ranked prefix AND both verify legs —
    # persist so the shingle explode runs once (measured ~2x at sf0.1)
    g = (
        ensure_parallelism(
            df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")),
            bytes_per_task=TEXT_KERNEL_BYTES_PER_TASK,
        )
        .select("doc_id", F.explode(shingles(F.col("__t"), n)).alias("sh"))
        .persist()  # lazy-plan persist (persist_policy.py)
    )
    from pyspark.sql.window import Window

    sizes = g.groupBy("doc_id").agg(F.count("*").cast("long").alias("sz"))
    dfreq = g.groupBy("sh").agg(F.count("*").cast("long").alias("df"))
    ranked = (
        g.join(dfreq, "sh")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "sh")
            ),
        )
        .join(sizes, "doc_id")
    )
    prefix_len = (
        F.col("sz")
        - F.expr(f"({threshold_num} * sz + {threshold_den} - 1) div {threshold_den}")
        + 1
    )
    prefix = ranked.filter(F.col("rk") <= prefix_len).select("doc_id", "sh", "sz")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.lit(threshold_den)
                * F.least(F.col("a.sz"), F.col("b.sz"))
                >= F.lit(threshold_num) * F.greatest(F.col("a.sz"), F.col("b.sz"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )
    # Pin the verify stage's parallelism (guide §2.5/§1.2: knowledge the
    # optimizer lacks): candidate rows are BYTES-small (4 ints) but each
    # costs an array_intersect over two full shingle arrays — size-based
    # AQE coalescing of the upstream prefix exchange serialized the whole
    # verify onto ONE task (observed 16 s serial tail at sf0.1). The
    # explicit doc_a-keyed repartition with a pinned partition count is
    # exempt from AQE coalescing AND not removable as redundant (the
    # inherited partitioning is the sh-keyed join's), so the
    # array_intersect work always fans out. Keyed on doc_a ALONE
    # (ADVICE r8 #3): hash partitioning on (doc_a, doc_b) does NOT
    # satisfy the following doc_a-keyed join, so the pair key bought a
    # net extra exchange on the non-broadcast path; doc_a-only is still
    # near-uniform (prefix candidates spread over many doc_a values)
    # and lets the doc_a sort-merge/hash join reuse this exchange.
    cand = cand.repartition(
        int(df.sparkSession.conf.get("spark.sql.shuffle.partitions")),
        "doc_a",
    )
    # Verify via row-local set intersection of the two docs' shingle
    # arrays (exact — shingles() is array_distinct, so set semantics):
    # the per-occurrence join form shuffled |cand| x avg_doc_shingles
    # rows (measured 31M rows / 6.4s at sf0.1 vs 2 doc-keyed joins of
    # the 600k-pair candidate relation here). Arrays are bounded by
    # doc shingle counts, never corpus size.
    arr = g.groupBy("doc_id").agg(F.collect_list("sh").alias("ss"))
    inter = (
        cand.join(
            arr.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ss_a")),
            "doc_a",
        )
        .join(
            arr.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("ss_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "sz_a",
            "sz_b",
            F.size(F.array_intersect("ss_a", "ss_b")).cast("long").alias("inter"),
        )
    )
    un = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    return (
        inter.withColumn("un", un.cast("long"))
        .filter(
            F.lit(threshold_den) * F.col("inter")
            >= F.lit(threshold_num) * F.col("un")
        )
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "un",
            F.expr("(1000000 * inter) div un").cast("long").alias("jac_ppm"),
        )
    )


def span_coverage_stats(
    df: DataFrame, id_col: str, text_col: str, n: int = 8
) -> DataFrame:
    """EXACT duplicated-span coverage (the word-granular cousin of
    exact substring dedup, Lee et al. 2022 "Deduplicating Training
    Data Makes Language Models Better"): for every document that
    shares at least one word n-gram with ANOTHER document, how much of
    its text sits inside such shared spans.

    A position is covered when any cross-document-duplicated n-gram's
    window [start, start+n-1] contains it; overlapping windows are
    unioned by counting DISTINCT covered positions, so coverage never
    double-counts. Returns one row per affected doc:
    (doc_id, n_words, n_dup_grams, dup_positions, dup_ppm).

    Scale shape: positional grams shuffle once on the gram string with
    map-side MIN/MAX partials (min(doc)≠max(doc) decides cross-doc
    without a COUNT DISTINCT); the start set joins back on the gram
    key (AQE broadcasts the dup side when small); coverage is a
    bounded explode (n rows per dup start) followed by one
    (doc,pos)-keyed distinct. At 100 TB one would first map grams to
    64-bit hashes to shrink the shuffle payload — kept as full strings
    here because this is the zero-false-positive exact tier.
    """
    g = ensure_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")),
        bytes_per_task=TEXT_KERNEL_BYTES_PER_TASK,
    ).select(
        "doc_id", F.posexplode(ngrams(F.col("__t"), n)).alias("pos", "g")
    )
    dup = (
        g.groupBy("g")
        .agg(F.min("doc_id").alias("__mn"), F.max("doc_id").alias("__mx"))
        .filter(F.col("__mn") != F.col("__mx"))
        .select("g")
    )
    starts = g.join(dup, "g").select("doc_id", "pos")
    cov = (
        starts.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("cp"),
        )
        .distinct()
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("dup_positions"))
    )
    nstarts = starts.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_dup_grams")
    )
    n_words = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("n_words"),
    )
    return (
        n_words.join(nstarts, "doc_id")
        .join(cov, "doc_id")
        .select(
            "doc_id",
            "n_words",
            "n_dup_grams",
            "dup_positions",
            F.expr("(1000000 * dup_positions) div n_words")
            .cast("long")
            .alias("dup_ppm"),
        )
    )


def shingle_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold_permille: int = 500,
    max_doc_freq: int = 100,
) -> DataFrame:
    """Near-duplicate pairs by Broder CONTAINMENT C(A,B) = |A∩B| / |A|
    (Broder 1997, "On the resemblance and containment of documents") —
    the asymmetric companion to Jaccard resemblance: a short document
    quoted wholesale inside a long one scores near-1000-permille
    containment while its Jaccard stays low (the union is dominated by
    the long side), so subset-duplication that resemblance dedup misses
    is exactly what this catches.

    Same inverted-index plan as shingle_jaccard_pairs (explode distinct
    shingles → df-cap stop-shingle pruning → ids-only self-join →
    per-pair common counts): one extra broadcast-joined counts relation,
    zero new shuffles. Scores are exact integer permille by floor
    division; the keep test (1000 * n_common >= thr * min(n_a, n_b))
    is cross-multiplied BIGINT — no float anywhere.

    Output: (doc_a, doc_b, n_common, c_in_a_permille, c_in_b_permille)
    with doc_a < doc_b, kept when the max-direction containment (the
    smaller side's) clears ``threshold_permille``.
    """
    base = ensure_parallelism(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__t")),
        bytes_per_task=TEXT_KERNEL_BYTES_PER_TASK,
    )
    sh = base.select("doc_id", F.explode(shingles(F.col("__t"), n)).alias("sh"))
    rare = (
        sh.join(
            sh.groupBy("sh")
            .agg(F.count("*").alias("df_count"))
            .filter(F.col("df_count") <= max_doc_freq),
            "sh",
        )
        .select("doc_id", "sh")
        .persist()  # lazy-plan persist (persist_policy.py)
    )
    rare.count()
    counts = rare.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_sh"))
    a = rare.alias("a")
    b = rare.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    ca = counts.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cb = counts.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        pairs.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(
            F.lit(1000) * F.col("n_common")
            >= F.lit(threshold_permille) * F.least("n_a", "n_b")
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.expr("(1000 * n_common) div n_a").alias("c_in_a_permille"),
            F.expr("(1000 * n_common) div n_b").alias("c_in_b_permille"),
        )
    )


def near_dup_fold(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    batch_col: str,
    batch_values: list | None = None,
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    portable: bool = False,
) -> DataFrame:
    """Batch twin of streaming.near_dup_filter_sink: replay the
    accumulated-bucket-store admission fold over explicit micro-batch
    boundaries, as one deterministic relation.

    Semantics (identical to the sink, per micro-batch in ``batch_values``
    order): a doc is REJECTED iff any of its LSH band buckets collides
    with (a) the store of buckets accumulated from ADMITTED docs of
    earlier batches, or (b) a lower-id batchmate (first-seen wins —
    regardless of whether that batchmate itself survives, matching the
    sink's pre-filter self-join at streaming/jobs.py near_dup_filter_sink).
    Only admitted docs' buckets enter the store.

    Returns (doc_id, batch_id, admitted) for EVERY input doc — richer
    than the sink's survivor corpus (the rejected rows carry admitted=0),
    and value-hash oracle-able with ``portable=True`` (md5-affine hash
    family; see plans/llm_ops.py streaming_near_dup_batch_twin).

    Scale: signatures and band rows are computed ONCE over the whole
    input (one shuffle), then each fold step is a (band, bucket) ids-only
    equi-join of one batch against the accumulated store — the same
    per-batch cost profile as the sink. The fold is sequential in the
    NUMBER OF BATCHES only (bounded, driver-side loop over
    ``batch_values``); every step is fully distributed. ``batch_values``
    None ⇒ collected from the data — only safe when the batch domain is
    known-small (micro-batch replay windows), so callers at scale pass it
    explicitly.
    """
    d = docs.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("__t"),
        F.col(batch_col).cast("long").alias("batch_id"),
    )
    # Mirror the sink's per-micro-batch dropDuplicates(['doc_id']): without
    # this, duplicate-id batchmates would both be admitted (the o_doc <
    # doc_id pre-filter misses equal ids) and emit duplicate verdict rows,
    # diverging from the sink this twin replays (ADVICE r5).
    d = d.dropDuplicates(["batch_id", "doc_id"])
    if batch_values is None:
        batch_values = sorted(
            r["batch_id"] for r in d.select("batch_id").distinct().collect()
        )
    else:
        # A doc whose batch_id is outside batch_values would silently get
        # no verdict row and never enter the store (ADVICE r5) — a caller
        # mistake must fail loudly, not truncate the relation.
        stray = (
            d.filter(~F.col("batch_id").isin([int(b) for b in batch_values]))
            .select("batch_id")
            .limit(1)
            .collect()
        )
        if stray:
            raise ValueError(
                f"near_dup_fold: input contains batch_id {stray[0]['batch_id']} "
                f"not listed in batch_values={batch_values}"
            )
    sig = minhash_signatures(d, "doc_id", "__t", n, num_hashes, seed, portable)
    bb_all = (
        band_rows(sig, num_hashes, bands, portable)
        .join(d.select("doc_id", "batch_id"), "doc_id")
        .persist()
    )
    bb_all.count()
    store: DataFrame | None = None
    verdicts: list[DataFrame] = []
    for bv in batch_values:
        bb = bb_all.filter(F.col("batch_id") == bv)
        other = bb.select(
            F.col("band").alias("o_band"),
            F.col("bucket").alias("o_bucket"),
            F.col("doc_id").alias("o_doc"),
        )
        dups = bb.join(
            other,
            (F.col("band") == F.col("o_band"))
            & (F.col("bucket") == F.col("o_bucket"))
            & (F.col("o_doc") < F.col("doc_id")),
        ).select("doc_id")
        if store is not None:
            dups = dups.unionByName(
                bb.join(store, ["band", "bucket"], "left_semi").select("doc_id")
            )
        dups = dups.distinct()
        batch_docs = d.filter(F.col("batch_id") == bv).select("doc_id", "batch_id")
        verdict = batch_docs.join(
            dups.withColumn("__dup", F.lit(1)), "doc_id", "left"
        ).select(
            "doc_id",
            "batch_id",
            F.when(F.col("__dup").isNull(), F.lit(1)).otherwise(F.lit(0))
            .cast("int")
            .alias("admitted"),
        )
        # Materialize the per-batch verdict so each fold step runs once;
        # the store is a union of these bounded ids-only band relations.
        verdict = verdict.localCheckpoint(eager=True)
        verdicts.append(verdict)
        # Materialize each batch's admitted bands too: the store is a union
        # of these, so without this every batch-k dup probe would re-execute
        # all k-1 earlier semi-joins — O(B^2) join work vs the sink's
        # materialized parquet store (ADVICE r5). With it, probing the store
        # is a scan of k-1 checkpointed ids-only band relations.
        admitted_bands = (
            bb.join(
                verdict.filter(F.col("admitted") == 1).select("doc_id"),
                "doc_id",
                "left_semi",
            )
            .select("band", "bucket")
            .localCheckpoint(eager=True)
        )
        store = (
            admitted_bands
            if store is None
            else store.unionByName(admitted_bands)
        )
    bb_all.unpersist()
    out = verdicts[0]
    for v in verdicts[1:]:
        out = out.unionByName(v)
    return out
