"""Retired-query coverage: a query removed from the gate registry under
the N=150 saturation policy keeps its oracle compare HERE, so retirement
sheds a verdict slot, never the semantics."""

from __future__ import annotations

from amsterdam_map_data_wrangling_spark.plans.queries import (
    ILIKE_FILTER_ORACLE,
    ilike_filter_count,
)
from amsterdam_map_data_wrangling_spark.plans.similarity import (
    ANN_IVF_PROBE2_ORACLE,
    ann_ivf_probe2,
)
from amsterdam_map_data_wrangling_spark.plans.features import (
    UNIFORM_SAMPLE_ORACLE,
    uniform_sample_per_group,
)
from amsterdam_map_data_wrangling_spark.plans.sparse import (
    _SPARSE_TOPK_ORACLE,
    sparse_cosine_topk_gate,
)
from amsterdam_map_data_wrangling_spark.plans.r08_queue import (
    SPATIAL_RETIRED,
)
from amsterdam_map_data_wrangling_spark.plans.text import (
    TOKEN_BUDGET_PACK_ORACLE,
    token_budget_pack,
)

from .conftest import SF_ORACLE
from .oracle import compare, duckdb_con


def test_retired_ilike_filter_count_still_matches_oracle(spark):
    con = duckdb_con(SF_ORACLE)
    try:
        compare(ilike_filter_count(spark, SF_ORACLE), con, ILIKE_FILTER_ORACLE)
    finally:
        con.close()


def test_retired_ann_ivf_probe2_still_matches_oracle(spark):
    """Retired r11 (slot went to geo_haversine_radius): the nprobe=2
    dial's full output still matches the exact-integer IVF oracle."""
    con = duckdb_con(SF_ORACLE)
    try:
        compare(ann_ivf_probe2(spark, SF_ORACLE), con, ANN_IVF_PROBE2_ORACLE)
    finally:
        con.close()


def test_retired_sparse_cosine_topk_still_matches_oracle(spark):
    """Retired r11 (slot went to geo_nn_on_sphere): the per-doc top-3
    window over the shared TF-IDF pair relation still matches the
    rewrapped pair oracle."""
    con = duckdb_con(SF_ORACLE)
    try:
        compare(
            sparse_cosine_topk_gate(spark, SF_ORACLE), con, _SPARSE_TOPK_ORACLE
        )
    finally:
        con.close()


def test_retired_are_not_registered(spark):
    from amsterdam_map_data_wrangling_spark.plans.catalog import QUERIES

    for retired, occupant in [
        ("ilike_filter_count", "warc_roundtrip_stats"),
        ("ann_ivf_probe2", "geo_haversine_radius"),
        ("sparse_cosine_topk", "geo_nn_on_sphere"),
        ("uniform_sample_per_group", "dup_span_removal"),
        ("token_budget_pack", "leakage_free_split"),
        ("spatial_radius_pairs", "geo_way_lengths"),
        # r18 batch: five slots freed for the five r18 front entrants
        ("dedup_minhash_portable", "training_shuffle_order"),
        ("dedup_simhash_portable", "compaction_plan_ffd"),
        ("dedup_cluster_size_hist", "session_window_per_user"),
        ("neardup_degree_hist", "event_gap_stats"),
        ("quality_components", "funnel_conversion"),
        ("ann_rand_lsh", "bound_doc_width_roundtrip"),
    ]:
        assert retired not in QUERIES
        assert occupant in QUERIES  # the slot's new occupant


def test_retired_uniform_sample_still_matches_oracle(spark):
    """Retired r11 (slot went to dup_span_removal): the exact-k hash-rank
    sample still matches its oracle — the weight==const special case of
    the still-gated weighted_sample_per_group."""
    con = duckdb_con(SF_ORACLE)
    try:
        compare(
            uniform_sample_per_group(spark, SF_ORACLE),
            con,
            UNIFORM_SAMPLE_ORACLE,
        )
    finally:
        con.close()


def test_retired_token_budget_pack_still_matches_oracle(spark):
    """Retired r11 (slot went to leakage_free_split): the 1-level packing
    plan still matches the oracle that token_budget_pack_sharded gates
    byte-identically through the 2-level plan."""
    con = duckdb_con(SF_ORACLE)
    try:
        compare(
            token_budget_pack(spark, SF_ORACLE),
            con,
            TOKEN_BUDGET_PACK_ORACLE,
        )
    finally:
        con.close()


def test_retired_spatial_radius_pairs_still_matches_oracle(spark):
    """Retired r12 (slot went to geo_way_lengths): the integer-Euclidean
    grid pair join — the shape the r11 geo family gates twice over with
    trig on top — still matches its exact-integer oracle."""
    build, oracle = SPATIAL_RETIRED
    con = duckdb_con(SF_ORACLE)
    try:
        compare(build(spark, SF_ORACLE), con, oracle)
    finally:
        con.close()


def test_retired_ann_rand_lsh_still_matches_oracle(spark):
    """Retired r17 (slot went to bound_doc_width_roundtrip): the seeded
    random-hyperplane LSH — the closest twin of the still-gated
    ann_sign_lsh (identical bucket-join + exact-cosine plan shape, only
    the hash family differs) — still matches its inlined-plane
    exact-int oracle."""
    from amsterdam_map_data_wrangling_spark.plans.similarity import (
        ANN_RAND_LSH_ORACLE,
        ann_rand_lsh,
    )

    con = duckdb_con(SF_ORACLE)
    try:
        compare(ann_rand_lsh(spark, SF_ORACLE), con, ANN_RAND_LSH_ORACLE)
    finally:
        con.close()


def test_retired_dedup_minhash_portable_still_matches_oracle(spark):
    """Retired r18 (slot batch for the five r18 front entrants): the md5
    universal-hash MinHash signatures — a strict sub-computation of the
    still-gated dedup_minhash_portable_pairs — still match the oracle
    value-for-value."""
    from amsterdam_map_data_wrangling_spark.plans.dedup import (
        MINHASH_PORTABLE_ORACLE,
        dedup_minhash_portable,
    )

    con = duckdb_con(SF_ORACLE)
    try:
        compare(
            dedup_minhash_portable(spark, SF_ORACLE),
            con,
            MINHASH_PORTABLE_ORACLE,
        )
    finally:
        con.close()


def test_retired_dedup_simhash_portable_still_matches_oracle(spark):
    """Retired r18: the md5-anchored 16-bit SimHash construction (bit
    votes + sign threshold) — construction twin of the still-gated
    dedup_simhash_bands — still matches value-for-value."""
    from amsterdam_map_data_wrangling_spark.plans.dedup import (
        SIMHASH_PORTABLE_ORACLE,
        dedup_simhash_portable,
    )

    con = duckdb_con(SF_ORACLE)
    try:
        compare(
            dedup_simhash_portable(spark, SF_ORACLE),
            con,
            SIMHASH_PORTABLE_ORACLE,
        )
    finally:
        con.close()


def test_retired_quality_components_still_matches_oracle(spark):
    """Retired r18: punct/stopword/upper ratios per doc — the same
    component machinery the still-gated quality_filter_pipeline
    composes — still match value-for-value."""
    from amsterdam_map_data_wrangling_spark.plans.text import (
        QUALITY_COMPONENTS_ORACLE,
        quality_components,
    )

    con = duckdb_con(SF_ORACLE)
    try:
        compare(
            quality_components(spark, SF_ORACLE),
            con,
            QUALITY_COMPONENTS_ORACLE,
        )
    finally:
        con.close()


def test_retired_dedup_cluster_size_hist_still_matches_oracle(spark):
    """Retired r18: the cluster-size histogram over the session-shared
    component relation (labels hash-verified by the still-gated
    dedup_clusters) still matches its oracle."""
    from amsterdam_map_data_wrangling_spark.plans.r08_queue import (
        CLUSTER_HIST_RETIRED,
    )

    build, oracle = CLUSTER_HIST_RETIRED
    con = duckdb_con(SF_ORACLE)
    try:
        compare(build(spark, SF_ORACLE), con, oracle)
    finally:
        con.close()


def test_retired_neardup_degree_hist_still_matches_oracle(spark):
    """Retired r18: the degree histogram over the df-capped near-dup
    pair relation (pairs hash-verified by the still-gated
    near_dup_transitivity/pagerank) still matches its oracle."""
    from amsterdam_map_data_wrangling_spark.plans.r08_queue import (
        DEGREE_HIST_RETIRED,
    )

    build, oracle = DEGREE_HIST_RETIRED
    con = duckdb_con(SF_ORACLE)
    try:
        compare(build(spark, SF_ORACLE), con, oracle)
    finally:
        con.close()
