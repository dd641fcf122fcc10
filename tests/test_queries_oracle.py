"""Phase 5 gate: every registered query vs its DuckDB oracle at sf0.001.

Local replica of the driver's CORRECTNESS harness (value-exact,
order-insensitive, columns sorted by name). Queries without an oracle are
checked rows-only (must not raise; ≥0 rows with stable schema).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from oracle_check import compare_query, duck_connection  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason=f"testdata missing: {SF_DIR}"
)


# The default verify gate runs this curated per-family smoke subset —
# the verify skill's recommended flows plus one cheap oracle-bearing
# representative per operator family and every query whose internals
# round 9 touched (hits/kappa/gini/png/minhash/similarity). The FULL
# registry sweep (the phase-5 certification) is slow-marked: run it
# with -m "slow or not slow" before a round close.
FAST_SMOKE = {
    # verify-skill flows
    "q1_pricing_summary",
    "events_sessionization",
    "dedup_minhash_portable",
    "dedup_cc_clusters",
    # relational / temporal representatives
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "topk_expensive_orders",
    "window_rank_orders_per_customer",
    "merge_upsert_orders",
    "asof_join_purchase_attribution",
    "range_join_purchase_window",
    # LLM-ops / text / similarity
    "dedup_exact_docs",
    "text_quality_scores",
    # the same plans as ann_lsh_topk / dedup_embedding_lsh, whose names
    # test_embedding_lsh_headlines_are_oracle_checked checks strictly
    "ann_lsh_portable",
    "dedup_embedding_lsh_portable",
    # round-9 touched internals
    "graph_hits_part_supplier",
    "stats_cohens_kappa_value_weekend",
    "stats_gini_impurity_split",
    "multimodal_png_decode",
    "multimodal_png16_adam7_decode",
    "multimodal_png_subbyte_decode",
    "multimodal_png_palette_decode",
    "dedup_ppjoin_exact",
    # ingest / window families
    "ingest_jsonl_orders_roundtrip",
    "window_ntile_decile_stats",
    "stats_trimmed_winsorized_prices",
}


def _params():
    import __spark_entry__ as entry_mod

    return [
        n if n in FAST_SMOKE else pytest.param(n, marks=pytest.mark.slow)
        for n in entry_mod.queries()
    ]


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", _params())
def test_query_matches_oracle(spark, duck, name):
    r = compare_query(spark, name, SF_DIR, duck)
    assert r["status"] in ("ok", "rows_only"), r["detail"]


@pytest.mark.parametrize("name", ["ann_lsh_topk", "dedup_embedding_lsh"])
def test_embedding_lsh_headlines_are_oracle_checked(spark, duck, name):
    """The embedding-LSH headline queries run the exact-integer bucket
    kernel, so they are value-checked against DuckDB, not rows-only."""
    r = compare_query(spark, name, SF_DIR, duck)
    assert r["status"] == "ok", (r["status"], r["detail"])
    assert r["rows"] > 0


def test_bad_sf_dir_raises_cleanly(spark):
    """A wrong data directory must fail fast with Spark's path error
    (AnalysisException), not hang or return an empty frame."""
    from pyspark.errors import AnalysisException

    import __spark_entry__ as entry_mod

    q = entry_mod.queries()["q1_pricing_summary"]
    with pytest.raises(AnalysisException):
        q(spark, "/root/testdata/sf_does_not_exist").collect()
