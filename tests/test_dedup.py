"""Dedup-operator fidelity tests at sf0.001: the engine-internal tiers
(MinHash-LSH, SimHash) are validated against the exact baselines they
approximate — this is the accuracy contract the rows-only driver check
can't see.
"""

from __future__ import annotations

import os

import pytest

from db_writer_redshift_spark.operators import dedup
from db_writer_redshift_spark.plans.registry import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata missing: {SF_DIR}"
)


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


def test_exact_dedup_partitions_corpus(spark, docs):
    """Every doc lands in exactly one fingerprint group; group sizes sum to
    the corpus size."""
    groups = dedup.exact_dedup(docs, "doc_id", "text")
    total = groups.agg({"n_copies": "sum"}).collect()[0][0]
    assert total == docs.count()


def test_minhash_estimates_match_exact_jaccard(spark, docs):
    """For every exact-Jaccard pair ≥0.5, MinHash-64 must estimate within
    ±0.25 (Chernoff at 64 hashes) — and LSH(16 bands) must surface it."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.shingle_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert exact, "fixture should contain near-dup pairs at 0.5"
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.3).collect()
    }
    missed = [p for p in exact if p not in est]
    assert len(missed) <= max(1, len(exact) // 10), f"LSH missed {missed}"
    for p, j in exact.items():
        if p in est:
            assert abs(est[p] - j) <= 0.25, (p, est[p], j)


def test_minhash_identical_docs_estimate_1(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "alpha beta gamma delta epsilon zeta")],
        "doc_id int, text string",
    )
    rows = dedup.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5).collect()
    assert len(rows) == 1 and rows[0].est_jaccard == 1.0


def test_simhash_near_identical_low_hamming(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    df = spark.createDataFrame(
        [(1, base), (2, base + "tail"), (3, "completely different words entirely unrelated corpus")],
        "doc_id int, text string",
    )
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in dedup.simhash_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_blocking_never_drops_close_pairs(spark, docs):
    """Pigeonhole check: at the guaranteed radius (hamming ≤ 6 with 4
    chunks × 1-bit probes) the blocked join must equal the exact all-pairs
    hamming filter (on a sample)."""
    sample = docs.limit(120)
    import pyspark.sql.functions as F

    sh = dedup.simhash(sample, "doc_id", "text")
    a = sh.selectExpr("doc_id as doc_a", "simhash as h_a")
    b = sh.selectExpr("doc_id as doc_b", "simhash as h_b")
    exact = (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))).alias("hamming"))
        .filter(F.col("hamming") <= 6)
    )
    blocked = dedup.simhash_pairs(sample, "doc_id", "text", max_hamming=6)
    e = {(r.doc_a, r.doc_b, r.hamming) for r in exact.collect()}
    g = {(r.doc_a, r.doc_b, r.hamming) for r in blocked.collect()}
    assert e == g


def _cc(spark, pairs):
    df = spark.createDataFrame(pairs, ["doc_a", "doc_b"])
    rows = dedup.connected_components(df).collect()
    return {r.node: r.cluster_root for r in rows}


def test_connected_components_chain(spark):
    # 1-2-3-4-5 chain: min label must propagate the full diameter.
    got = _cc(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1}


def test_connected_components_multiple(spark):
    # Two components + reversed-order edges; roots are per-component minima.
    got = _cc(spark, [(7, 3), (3, 9), (20, 10), (30, 10)])
    assert got == {3: 3, 7: 3, 9: 3, 10: 10, 20: 10, 30: 10}


def test_connected_components_isolated_pair(spark):
    got = _cc(spark, [(42, 41)])
    assert got == {41: 41, 42: 41}


def test_ngram_overlap_decontamination(spark):
    from db_writer_redshift_spark.operators.dedup import ngram_overlap

    train = spark.createDataFrame(
        [
            (10, "q r s t u v w"),        # shares 5-grams with eval doc 1
            (11, "a b c d e f"),          # clean
            (12, "q r s t u x y"),        # shares exactly one 5-gram
        ],
        "id long, t string",
    )
    ev = spark.createDataFrame([(1, "q r s t u v w x")], "id long, t string")
    got = {r.train_id: r for r in ngram_overlap(train, ev, "id", "t", n=5).collect()}
    assert set(got) == {10, 12}  # doc 11 clean -> absent
    assert got[10].n_shared_grams == 3  # qrstu rstuv stuvw
    assert got[12].n_shared_grams == 1
    assert got[10].n_eval_docs == 1 and got[10].first_eval_id == 1


def test_ngram_overlap_broadcasts_eval_side(spark):
    from db_writer_redshift_spark.operators.dedup import ngram_overlap

    train = spark.createDataFrame([(10, "a b c d e f")], "id long, t string")
    ev = spark.createDataFrame([(1, "a b c d e")], "id long, t string")
    plan = ngram_overlap(train, ev, "id", "t", n=5)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_minhash_portable_same_fidelity_contract(spark, docs):
    """The md5-affine portable tier obeys the same Chernoff fidelity bound
    as the xxhash64 tier: every exact-Jaccard >=0.5 pair surfaced (<=10%
    misses) with estimate within +-0.25."""
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.shingle_jaccard_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    est = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.3, portable=True
        ).collect()
    }
    missed = [p for p in exact if p not in est]
    assert len(missed) <= max(1, len(exact) // 10), f"portable LSH missed {missed}"
    for p, j in exact.items():
        if p in est:
            assert abs(est[p] - j) <= 0.25, (p, est[p], j)


@pytest.mark.parametrize("portable", [False, True])
def test_minhash_signature_aggregate_matches_per_column_reference(spark, docs, portable):
    """The one-expression signature aggregate returns bit-identical rows to
    the per-hash formulation it replaced: num_hashes projected columns,
    num_hashes F.min aggregates, then F.array."""
    from pyspark.sql import functions as F

    num_hashes, n, seed = 64, 3, 42
    params = dedup._hash_params(num_hashes, seed)
    p = F.lit(dedup._MERSENNE_P)
    if portable:
        exploded = docs.select(
            "doc_id", F.explode(F.array_distinct(dedup.shingles(F.col("text"), n))).alias("sh")
        )
        h = dedup._portable_base_hash(F.col("sh"))
    else:
        mix = ", ".join(f"__th[i + {j} - 1]" for j in range(n))
        exploded = docs.select(
            "doc_id",
            F.transform(
                F.split(F.col("text"), " "), lambda tok: F.xxhash64(tok, F.lit(seed))
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
        h = F.pmod(F.col("sh"), p)
    reference = (
        exploded.select(
            "doc_id",
            *[((F.lit(a) * h + F.lit(b)) % p).alias(f"h{i}") for i, (a, b) in enumerate(params)],
        )
        .groupBy("doc_id")
        .agg(*[F.min(f"h{i}").alias(f"m{i}") for i in range(num_hashes)])
        .select("doc_id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("signature"))
    )
    got = dedup.minhash_signatures(docs, "doc_id", "text", n, num_hashes, seed, portable)
    assert got.schema == reference.schema
    want = sorted(reference.collect())
    assert len(want) > 0
    assert sorted(got.collect()) == want


def test_simhash_portable_same_contract(spark):
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    df = spark.createDataFrame(
        [(1, base), (2, base + "tail"), (3, "completely different words entirely unrelated corpus")],
        "doc_id int, text string",
    )
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_pairs_portable(df, "doc_id", "text").collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] <= 6
    assert (1, 3) not in pairs and (2, 3) not in pairs


@pytest.mark.slow
def test_connected_components_random_graphs_match_union_find(spark):
    """Property: BSP hash-min labels equal a plain-python union-find on
    deterministic pseudo-random graphs (varied density incl. long chains
    that force multi-round propagation)."""

    def union_find_roots(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        # min node id per component, matching connected_components' labels
        comp = {}
        for n in list(parent):
            comp.setdefault(find(n), []).append(n)
        return {n: root for root, ns in comp.items() for n in ns}

    seed = 0x5EED
    for n_nodes, n_edges in [(30, 12), (40, 45), (60, 30)]:
        edges = []
        s = seed
        for _ in range(n_edges):
            s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            u = s % n_nodes
            s = (s * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            v = s % n_nodes
            if u != v:
                edges.append((int(u), int(v)))
        edges.append((0, 1))  # guarantee non-empty
        # plus a 12-node chain on fresh ids to force >2 BSP rounds
        chain = [(100 + i, 100 + i + 1) for i in range(12)]
        all_edges = edges + chain
        got = _cc(spark, all_edges)
        assert got == union_find_roots(all_edges), (n_nodes, n_edges)
        seed += 1


def test_minhash_cross_contamination_flags_planted_copy(spark):
    """A lightly-edited eval copy of a train doc is flagged; unrelated
    train docs are not; the rollup reports the matching eval id."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu"
    train = spark.createDataFrame(
        [(1, base), (2, "one two three four five six seven eight nine ten")],
        "doc_id int, text string",
    )
    ev = spark.createDataFrame(
        [(100, base + " extra")], "doc_id int, text string"
    )
    out = dedup.minhash_cross_contamination(
        train, ev, "doc_id", "text", threshold=0.3
    ).collect()
    ids = {r.train_id for r in out}
    assert 1 in ids and 2 not in ids
    row = next(r for r in out if r.train_id == 1)
    assert row.first_eval_id == 100
    assert row.n_eval_hits == 1
    assert row.max_est_jaccard >= 0.3


def test_minhash_cross_contamination_no_train_train_pairs(spark):
    """Two identical TRAIN docs produce no output when the eval side is
    unrelated — the operator never self-joins the training corpus."""
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    train = spark.createDataFrame(
        [(1, dup), (2, dup)], "doc_id int, text string"
    )
    ev = spark.createDataFrame(
        [(100, "unrelated words entirely different content here now")],
        "doc_id int, text string",
    )
    out = dedup.minhash_cross_contamination(
        train, ev, "doc_id", "text", threshold=0.3
    ).collect()
    assert out == []


def test_minhash_bucket_cap_drops_hot_buckets(spark):
    """max_bucket_size prunes candidates from oversized buckets: with a
    cap of 1 every bucket is degenerate and NO pairs survive, while the
    uncapped run still finds the identical-doc pair."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),
        ],
        "doc_id int, text string",
    )
    uncapped = dedup.minhash_lsh_pairs(df, "doc_id", "text", threshold=0.5)
    assert uncapped.count() == 1
    capped = dedup.minhash_lsh_pairs(
        df, "doc_id", "text", threshold=0.5, max_bucket_size=1
    )
    assert capped.count() == 0


def test_span_coverage_unions_overlaps_and_ignores_within_doc_repeats(spark):
    """Two docs sharing a 9-word run contain two overlapping duplicated
    8-grams; coverage must union them (9 positions, not 16). A doc that
    repeats an 8-gram only WITHIN itself is not cross-doc duplicated and
    must not appear. Unique docs never appear."""
    shared = "w1 w2 w3 w4 w5 w6 w7 w8 w9"  # 9 words -> two 8-gram starts
    df = spark.createDataFrame(
        [
            (1, shared + " tail1 tail2 tail3"),        # 12 words
            (2, "head1 head2 " + shared),              # 11 words
            (3, "r1 r2 r3 r4 r5 r6 r7 r8 r1 r2 r3 r4 r5 r6 r7 r8"),
            (4, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),
        ],
        "doc_id int, text string",
    )
    rows = {
        r.doc_id: r
        for r in dedup.span_coverage_stats(df, "doc_id", "text", n=8).collect()
    }
    assert set(rows) == {1, 2}
    assert rows[1].n_dup_grams == 2 and rows[1].dup_positions == 9
    assert rows[2].n_dup_grams == 2 and rows[2].dup_positions == 9
    assert rows[1].n_words == 12 and rows[1].dup_ppm == 9 * 1_000_000 // 12
    assert rows[2].n_words == 11 and rows[2].dup_ppm == 9 * 1_000_000 // 11


def test_minhash_recall_audit_catches_exact_duplicates(spark):
    """The audit's top decile (exact duplicates, jac_ppm=1e6) must show
    perfect recall: identical docs agree on every signature position, so
    LSH banding cannot miss them."""
    from db_writer_redshift_spark.plans.curation_extra import (
        dedup_minhash_recall_audit,
    )
    import db_writer_redshift_spark.plans.registry as reg

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, text), (2, text), (3, "totally different words here now friend")],
        "doc_id long, text string",
    )
    orig = reg.load_table
    try:
        reg.load_table = lambda s, d, n: docs
        import db_writer_redshift_spark.plans.curation_extra as ce

        ce.load_table = reg.load_table
        rows = {r.jac_decile: r for r in dedup_minhash_recall_audit(spark, "x").collect()}
    finally:
        reg.load_table = orig
        import db_writer_redshift_spark.plans.curation_extra as ce

        ce.load_table = orig
    assert rows[10].n_true == 1 and rows[10].n_hit == 1
    assert rows[10].recall_ppm == 1_000_000


def test_savings_curve_identity_and_nonvacuity(spark):
    """Keep-one savings algebra: singleton clusters save nothing, every
    bucket saves exactly (docs - clusters)/docs of its copies in doc
    count terms, and the fixture has at least one multi-doc family (the
    prefix key is the proven non-vacuous grouping at every SF)."""
    import os

    import __spark_entry__ as entry_mod

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    if not os.path.isdir(sf):
        import pytest

        pytest.skip(f"testdata missing: {sf}")
    rows = {r.cluster_size: r for r in entry_mod.queries()["dedup_savings_curve"](spark, sf).collect()}
    assert any(s > 1 for s in rows), "prefix families must be non-vacuous"
    if 1 in rows:
        assert rows[1].chars_saved == 0 and rows[1].saved_permille == 0
    for s, r in rows.items():
        assert r.n_docs == s * r.n_clusters
        assert 0 <= r.chars_saved < r.chars_total or (s == 1 and r.chars_saved == 0)


def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A short doc quoted wholesale inside a long one: containment of
    the short side is 1000 permille while Jaccard stays under a 0.5
    threshold — the asymmetric-duplication class the operator exists
    for. Hand-computed on a 3-doc corpus."""
    from db_writer_redshift_spark.operators.dedup import (
        shingle_containment_pairs,
        shingle_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon"  # 3 trigrams
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, short), (2, short + " " + filler), (3, "zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    got = {
        (r.doc_a, r.doc_b): (r.c_in_a_permille, r.c_in_b_permille)
        for r in shingle_containment_pairs(
            docs, "doc_id", "text", n=3, threshold_permille=500
        ).collect()
    }
    assert (1, 2) in got
    assert got[(1, 2)][0] == 1000  # all 3 of doc 1's trigrams contained
    assert got[(1, 2)][1] < 500    # doc 2 is mostly filler
    # Jaccard at the same candidate set: 3 common / (3 + 39 - 3) well
    # under 0.5 — resemblance dedup would keep the duplicate.
    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in shingle_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.01
        ).collect()
    }
    assert jac[(1, 2)] < 0.5
