"""Each query list has one owner.

The bench headline is the key set of ``FLOORS.json["floors"]`` (in file
order), and the driver ordering in ``__spark_entry__`` is a permutation
of the registry. Neither may name a query the registry does not hold.
Family membership is read from the registry too: a family's module is
where its queries are defined.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADLINE_SIZE = 231
REGISTRY_SIZE = 418


def test_headline_is_the_floor_keys_and_every_name_is_registered():
    import __spark_entry__ as entry
    import bench
    from kafka_go_streamer_spark.plans import ORACLES, QUERIES

    with open(os.path.join(REPO, "FLOORS.json")) as f:
        floors = json.load(f)["floors"]
    unknown = sorted(set(floors) - set(QUERIES))
    assert not unknown, f"FLOORS.json floors for unregistered queries: {unknown}"
    assert bench.HEADLINE == list(floors)
    assert len(bench.HEADLINE) == HEADLINE_SIZE

    names = list(entry.queries())
    assert len(QUERIES) == REGISTRY_SIZE
    assert sorted(names) == sorted(QUERIES)
    assert list(entry.oracle_sql()) == [n for n in names if n in ORACLES]


def test_graph_family_is_defined_in_one_module():
    """Every registered ``graph_*`` query is defined in ``plans/graph.py``,
    and that module registers nothing else."""
    from kafka_go_streamer_spark.plans import QUERIES

    module = "kafka_go_streamer_spark.plans.graph"
    family = {n for n in QUERIES if n.startswith("graph_")}
    assert family  # a vacuous pass would prove nothing
    elsewhere = {
        n: QUERIES[n].__module__
        for n in family
        if QUERIES[n].__module__ != module
    }
    assert not elsewhere, f"graph_* queries outside {module}: {elsewhere}"
    others = sorted(
        n
        for n, fn in QUERIES.items()
        if fn.__module__ == module and n not in family
    )
    assert not others, f"non-graph queries in {module}: {others}"
