"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in ``kafka_go_streamer_spark``; this module only
adapts it to the driver contract.

Ordering matters: the driver verifies the FIRST 50 entries of
``queries()`` in insertion order, so ``ROTATE_FRONT`` (queries whose
code changed since their newest green verdict) leads, then every query
without a fully-green driver verdict, then the rest. The verdicts are
read from the ``CORRECTNESS_r*.json`` records the driver leaves in the
repo root (a row is green when rows, schema and hash all match); a
query with no such row counts as unverified.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)

from kafka_go_streamer_spark.plans import ORACLES, QUERIES


def newest_green_round() -> dict[str, int]:
    """query name -> highest round ``N`` whose ``CORRECTNESS_r<N>.json``
    records a fully-green driver row for it (rows, schema and hash all
    match). The window ordering here and the staleness audit in
    ``tests/test_rotation_staleness.py`` both read verdicts through it."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(_REPO, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            rows = json.load(open(path))
        except (OSError, ValueError):
            continue
        for name, r in rows.items():
            if (
                isinstance(r, dict)
                and r.get("rows_match")
                and r.get("schema_match")
                and r.get("hash_match")
            ):
                newest[name] = max(newest.get(name, 0), int(m.group(1)))
    return newest


#: Every name with a fully-green driver verdict in any recorded round, so
#: the 50-query window auto-rotates to whatever has not been proven yet.
DRIVER_VERIFIED = frozenset(newest_green_round())

# Queries whose CODE changed since their newest green driver verdict:
# forced to the front of the window so the verdict can't go stale.
# tests/test_rotation_staleness.py derives the must-refront set
# mechanically (ast fingerprint of each query's decorator+body, plus
# every same-module function it names, transitively, at its green
# round's record commit vs now) and FAILS if any stale name is missing
# here. Empty while that set is empty.
ROTATE_FRONT: tuple[str, ...] = (
    "quality_calibration_bins",
    "privacy_k_anonymity",
    "sample_language_budget",
    "storage_shard_plan",
    "pii_density_by_source",
    "sketch_hll_distinct",
    "sketch_hll_intersection",
    "sketch_hll_hourly_rollup",
    "sketch_hll_error_curve",
    "sketch_countmin_heavy_users",
    "ann_ivf_store_probe",
    "ann_ivf_store_append_probe",
    "sim_hard_negatives",
    "multimodal_phash_hamming_hist",
    "storage_bucket_pruning_audit",
    "dedup_shingle_selectivity",
    "stats_join_sample_estimators",
    "storage_layout_chooser",
    "events_watermark_dedup_audit",
    "multimodal_decode_meta",
    "multimodal_binary_stats",
    "multimodal_frame_sample",
    "multimodal_audio_meta",
    "multimodal_resize",
    "multimodal_byte_histogram",
    "multimodal_dedup_blobs",
    "multimodal_phash_bands",
    "multimodal_format_mix",
    "multimodal_aspect_ratio_buckets",
    "multimodal_decode_quarantine",
    "graph_triangle_count",
    "graph_clustering_coefficient",
    "graph_degree_assortativity",
    "graph_kcore_decomposition",
    "graph_label_propagation",
    "graph_modularity_lpa",
    "graph_adamic_adar",
    "graph_jaccard_neighbors",
    "graph_rich_club",
    "graph_pagerank_transitions",
    "text_textrank_keywords",
    "graph_doc_centrality",
    "graph_bipartite_projection",
    "graph_reciprocity",
    "events_lateness_watermark_grid",
    "events_arrival_delay_profile",
    "events_lateness_trigger_matrix",
    "dedup_embedding_drop_rule",
)


def _ordered_names() -> list[str]:
    names = list(QUERIES)
    front = [n for n in ROTATE_FRONT if n in names]
    rest = [n for n in names if n not in front]
    unverified = [n for n in rest if n not in DRIVER_VERIFIED]
    verified = [n for n in rest if n in DRIVER_VERIFIED]
    return front + unverified + verified


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the content-based router
    (the reference's core operator) over the documents table."""
    return QUERIES["route_documents"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, ordered so
    the driver's 50-query correctness window covers the queries with no
    prior driver verdict first (see module docstring)."""
    return {n: QUERIES[n] for n in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twins; queries absent here get the weaker rows-only check."""
    return {n: ORACLES[n] for n in _ordered_names() if n in ORACLES}
