"""Pytest-level replica of the driver's correctness gate on a fast subset:
run the registered Spark query AND its DuckDB oracle at sf0.001, compare
row count + column names + order-insensitive values (tests/oracle_check.py
runs the full registry from the CLI)."""

from __future__ import annotations

import duckdb
import pytest

from mrsboraetl_spark.queries import REGISTRY, oracle_sql
from tests.oracle_check import TABLES, compare

# Cheap, shape-diverse subset — one per operator family.
SUBSET = [
    "q1_pricing_summary",
    "join_multi_dims",
    "anti_join_daykey",
    "obs_blob_pack",
    "dedup_cluster_keepers",
    "latest_order_per_customer",
    "topk_orders_per_customer",
    "union_all_pad",
    "scalar_expr_layer",
    "decode_case_ladder",
    "flat_events_blob",
    "incremental_upsert_equiv",
    "asof_join_latest_order",
    "grouping_sets_status_nation",
    "salted_skew_aggregate",
    "dedup_exact",
    "text_doc_metrics",
    "decontam_ngram_overlap",
    # r9 promotions (VERDICT r8 item 4): keep the fresh driver rows
    # pytest-covered too
    "curation_oov_fraction",
    "curation_unigram_logprob",
    # The Arrow kernels' only spelling: each pinned to its DuckDB oracle
    # (2.5-10 s each at sf0.001, under the 15 s slow cut)
    "dedup_minhash_lsh",
    "dedup_lsh_verified",
    "text_winnowing_fingerprints",
    "ann_ivf_topk",
]

# Operators kept out of the 50-entry driver registry still get the same
# oracle check here (see relational.UNREGISTERED_ORACLES).
UNREGISTERED = [
    "rollup_region_counts",
    "window_lag_events",
    "greatest_if_coalesce",
    "join_left_zero",
    "sort_limit_top100",
    "count_distinct_by_priority",
    # Demoted r5 to free slots for dedup_cluster_keepers + simhash_near_pairs
    "pivot_status_counts",
    "setop_intersect_except",
    # Demoted r5 session 2 to free a slot for decontam_ngram_overlap
    "anti_join_no_orders",
    # Demoted r6 to free slots for search_bm25_topk, dedup_repeated_spans,
    # curation_epoch_shuffle, fuzzy_join_docs (each demoted family keeps a
    # driver-green sibling)
    "json_props_extract",
    "dedup_embedding_cosine",
    "multimodal_decode_stub",
    # Curation layer (added r5): deterministic split/mix, chunking,
    # repetition quality
    "curation_split_assign",
    "curation_sample_mix",
    "curation_chunk_documents",
    "curation_repetition_metrics",
    "curation_quality_filter",
    # Round-5 session 2: lexical search, sketches, packing (decontamination
    # went straight into the driver registry)
    "curation_pack_sequences",
    # Round-5 session 4: sub-document boilerplate removal, PII redaction,
    # deterministic epoch shuffle
    "curation_oversample_mix",
    "decontam_attribution_pairs",
    # Demoted r7 (VERDICT r6 item 3 promotions + the U2 re-promotion);
    # every demoted family keeps driver-green siblings
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "dedup_exact_then_near",
    "dedup_embedding_lsh",
    "streaming_dedup_count",
    # Demoted r8 (VERDICT r7 item 5 promotions: curation_redact_pii,
    # profile_source_percentiles); J2 keeps driver evidence via
    # anti_join_daykey, I5 via the remaining streaming pair
    "join_composite_key",
    "streaming_session_window",
    # Demoted r9 (VERDICT r8 item 4 promotions: curation_oov_fraction,
    # curation_unigram_logprob); the text family keeps two driver rows,
    # U2's shape stays covered via filters_in_null_distinct +
    # union_all_pad
    "text_lang_id",
    "union_distinct_queue",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


@pytest.mark.parametrize("name", SUBSET)
def test_oracle_parity(spark, sf_dir, duck, name):
    sdf = REGISTRY[name].fn(spark, sf_dir)
    err = compare(name, sdf, oracle_sql()[name], duck)
    assert err is None, f"{name}: {err}"


def test_registry_fits_driver_cap():
    assert len(REGISTRY) <= 50, "driver evaluates at most 50 registry entries"


def test_every_entry_has_oracle():
    # The driver records a weaker rows-only check for oracle-less entries;
    # keep the registry fully hash-checked.
    missing = [n for n, e in REGISTRY.items() if not e.oracle]
    assert not missing, f"registry entries without an oracle: {missing}"


def test_no_nonscalar_output_columns(spark, sf_dir):
    # The driver canonicalizes results with pandas sort_values, which raises
    # "unhashable type: 'list'" on array/map/struct columns (round-2
    # text_winnowing_fingerprints failure). Keep every registered output scalar.
    bad = {}
    for name, entry in REGISTRY.items():
        df = entry.fn(spark, sf_dir)
        nonscalar = [
            f.name
            for f in df.schema.fields
            if f.dataType.typeName() in ("array", "map", "struct")
        ]
        if nonscalar:
            bad[name] = nonscalar
    assert not bad, f"non-scalar output columns break the driver canonicalizer: {bad}"


@pytest.mark.parametrize("name", UNREGISTERED)
def test_unregistered_queries(spark, sf_dir, duck, name):
    from mrsboraetl_spark.queries import llmdata, relational, streaming_q

    module = next(
        m for m in (relational, llmdata, streaming_q)
        if name in m.UNREGISTERED_ORACLES
    )
    sdf = getattr(module, name)(spark, sf_dir)
    err = compare(name, sdf, module.UNREGISTERED_ORACLES[name], duck)
    assert err is None, f"{name}: {err}"
