"""Each query list has one owner.

The bench headline is the key set of ``FLOORS.json["floors"]`` (in file
order), and the driver ordering in ``__spark_entry__`` is a permutation
of the registry. Neither may name a query the registry does not hold.
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
