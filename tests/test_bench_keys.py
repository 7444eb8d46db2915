"""bench.py's key contract, checked without a Spark session: the suite emits
exactly the 16 headline keys, and each operator key times the registered
query it has always timed."""

import bench
from ezmsg_sigproc_spark import entry_queries

# key -> (registry, registered name) of the query the key times
QUERY_KEYS = {
    "rollup_1m_envelope": ("QUERIES", "rollup_1m_envelope"),
    "rollup_1h_from_1m": ("RAW_QUERIES", "rollup_1h_chain"),
    "binlaw_fractional": ("QUERIES", "binlaw_fractional"),
    "downsample_q3": ("QUERIES", "downsample_q3"),
    "window_rolling_stats": ("QUERIES", "window_rolling_stats"),
    "rolling_zscore_k20": ("QUERIES", "rolling_zscore_k20"),
    "ewma_alpha06": ("QUERIES", "ewma_alpha06"),
    "gapfill_linear_300s": ("QUERIES", "gapfill_linear_300s"),
    "butterworth_lowpass": ("RAW_QUERIES", "butterworth_lowpass"),
    "gorilla_compression": ("QUERIES", "gorilla_compression"),
    "dedup_minhash_lsh": ("QUERIES", "dedup_minhash_lsh"),
    "embedding_cosine_topk": ("QUERIES", "embedding_cosine_topk"),
    "tpch_q1_pricing": ("QUERIES", "tpch_q1_pricing"),
    "tpch_q3_topk": ("QUERIES", "tpch_q3_topk"),
}


def test_bench_emits_the_16_headline_keys():
    assert bench.KEYS == [*QUERY_KEYS, "ca_store_write", "ca_store_read"]
    assert len(set(bench.KEYS)) == 16


def test_bench_query_keys_resolve_to_their_registered_queries():
    for key, (registry, name) in QUERY_KEYS.items():
        assert bench.query_fn(key) is getattr(entry_queries, registry)[name], key
    # the registered rollup_1h_from_1m reads through the store, which the
    # ca_store_* keys time; the bench key times the in-memory chain
    assert bench.query_fn("rollup_1h_from_1m") is not \
        entry_queries.QUERIES["rollup_1h_from_1m"]
