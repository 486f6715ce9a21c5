"""Workload definitions: which ops each workload runs, over which inputs,
with which standing artifacts built in set-up."""

import json
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))

SETUPS = 3          # set-ups per run; setup_s is their median
SCALE_COPIES = 10   # ScaleGen factor of the scan corpus

# Excluded from every workload: queries that read or write fixed paths
# outside the checkout (sources.Fixtures writes under a hard-coded
# fixture root, text.Bpe trains from the gate corpus directory) and
# so cannot run in a self-contained checkout.
EXCLUDED = {
    "q_media", "q_media_frames", "q_video_frames", "q_media_stats", "q_audio_adpcm",
    "q_media_resize", "q_nestsel", "q_flatten_intent", "q_emb_dup", "q_emb_clusters",
    "q_media_dedup", "q_media_sim", "q_ingest_csv", "q_skew_join", "q_substring_dup",
    "q_knn_routed", "q_knn_routed_range", "q_bpe_encode", "q_chunk_bpe", "q_pack_bpe",
    "q_bpe_train",
}

# `suite_sf0.01`: a declared-query sample across every family, each query
# once and cold (first execution in the JVM), over the small corpus --
# construction, Catalyst, codegen and standing artifacts dominate.
SUITE = [
    "q1_pricing", "q_join_inner", "q_window_rank", "q_json", "q_tpch3", "q_cube",
    "q_bloom_join", "q_funnel", "q_tumble", "q_session", "q_text_quality", "q_bm25",
    "q_simhash_pairs", "q_knn_join", "q_sim_ivf", "q_snapshot_diff", "q_tfidf", "q_cms",
    "q_state_ttl", "q_sim_topk", "q_simhash", "q_percentile", "q_tpch18", "q_rollup",
    "q_asof", "q_retention", "q_corr", "q_ngram_pairs", "q_decontaminate", "q_kmeans",
]
# `scan_sf0.1`: read-only queries whose cost grows with the data, over
# the ScaleGen x10 corpus -- task execution, scans and shuffles dominate.
SCAN = [
    "q_tpch3", "q_topk_group", "q_not_exists", "q_tfidf", "q_cms", "q_decontaminate",
    "q_knn_join",
]
# Run once, untimed, before the set-ups of a query workload, so that the
# JIT has compiled the engine's common paths before anything is timed;
# none of them is in a workload's op list.
JIT_WARMUP = [
    "q_agg", "q_join_semi", "q_window_running", "q_date", "q_distinct", "q_text_stats",
    "q_tpch6", "q_math", "q_string_agg", "q_term_freq", "q_join_anti", "q_sort_limit",
    "q_topk_agg", "q_window_lag", "q_array", "q_slide", "q_dedup_first", "q_fingerprint",
    "q_repetition", "q_histogram",
]
# engine module of each query (family.<module>_s); unlisted queries are "ops"
FAMILY = {
    "q_tumble": "streaming", "q_session": "streaming", "q_state_ttl": "streaming",
    "q_text_quality": "text", "q_bm25": "text", "q_tfidf": "text", "q_cms": "text",
    "q_decontaminate": "text",
    "q_simhash_pairs": "dedup", "q_simhash": "dedup", "q_ngram_pairs": "dedup",
    "q_knn_join": "vector", "q_sim_ivf": "vector", "q_sim_topk": "vector", "q_kmeans": "vector",
    "q_snapshot_diff": "etl",
}

WORKLOADS = {
    "suite_sf0.01": {"mode": "queries", "corpus": "base", "ops": SUITE, "families": FAMILY,
                     "standing": ["ivf_centroids", "bm25_index", "orderkey_bloom", "knn_index"],
                     "op_ms": 500},
    "scan_sf0.1": {"mode": "queries", "corpus": f"x{SCALE_COPIES}", "ops": SCAN,
                   "families": FAMILY, "standing": ["knn_index"], "op_ms": 1400},
    "etl_commit": {"mode": "etl", "op_ms": 2500},
}


def get(name):
    if name not in WORKLOADS:
        raise KeyError(f"unknown workload {name!r}; one of {sorted(WORKLOADS)}")
    return WORKLOADS[name]


def passes(spec, seconds):
    """Whole passes over the op list sized from --seconds by the list's
    nominal cost: the same --seconds gives the same work on every commit."""
    return max(1, round(seconds * 1000 / (spec["op_ms"] * len(spec["ops"]))))


def op_order(spec, seed, seconds):
    """The op sequence of a run: each pass is a seeded permutation."""
    rng = random.Random(seed)
    order = []
    for _ in range(passes(spec, seconds)):
        p = list(spec["ops"])
        rng.shuffle(p)
        order += p
    return order


def etl_batches(seconds):
    return max(3, round(seconds * 1000 / WORKLOADS["etl_commit"]["op_ms"]))


def scaled_rows(base):
    return {t: n if t in ("region", "nation") else n * SCALE_COPIES for t, n in base.items()}


def oracle_failed(spec):
    """Queries of this workload whose output failed the DuckDB oracle when
    the expected checksums were recorded (expected/<corpus>.json)."""
    if spec["mode"] == "etl":
        return []
    with open(os.path.join(HERE, "expected", f"{spec['corpus']}.json")) as f:
        exp = json.load(f)["queries"]
    return sorted(q for q in spec["ops"] if exp.get(q, {}).get("oracle") != "pass")


def benchmark():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)
