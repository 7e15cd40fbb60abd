"""Named query registry: every operator from SURVEY.md §2 is exposed as a
``(spark, sf_dir) -> DataFrame`` callable plus (where SQL-expressible) a
DuckDB oracle twin. Importing this package populates the registry."""

from kafka_go_streamer_spark.plans.registry import ORACLES, QUERIES, query

# populate the registry
from kafka_go_streamer_spark.plans import (  # noqa: E402,F401
    analytics_ext,
    audit_ops,
    corpus_health,
    corpus_ops,
    curation,
    dedup,
    fidelity,
    frontier,
    graph,
    insights,
    lateness,
    multimodal_queries,
    ops_analytics,
    pipeline_econ,
    relational,
    reliability,
    routing_queries,
    scale_ops,
    semdedup,
    similarity,
    sketches,
    sql_api,
    text,
    timeseries,
    tpch_classics,
    tpch_extended,
    tpch_final,
    training_ops,
    udtf_queries,
    windows,
)

__all__ = ["QUERIES", "ORACLES", "query"]
