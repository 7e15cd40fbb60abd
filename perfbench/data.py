"""Seeded inputs for every workload: the star-schema tables, the
documents corpus, the router's message log and its routing program.

Everything here is a pure function of the seed. The tables mimic the
shapes of the repository's test fixtures (TPC-H-like keys and value
ranges, a 31-word document vocabulary with 5% near-duplicates, a Poisson
event stream) so every registry query in the analytics suite runs on
them.
"""

from __future__ import annotations

import base64
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table at scale factor 1 (region and nation are fixed-size).
ROWS_AT_SF1 = {
    "supplier": 10_000,
    "customer": 150_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _rows(name: str, sf: float) -> int:
    return max(1, int(round(ROWS_AT_SF1[name] * sf)))


def documents_text(rng: np.random.Generator, n: int) -> list[str]:
    """Random sentences over a small vocabulary; every 20th document
    (after the first 20) repeats an earlier one plus a ``dup`` token,
    so the dedup family finds real near-duplicate pairs."""
    lengths = rng.integers(10, 101, n)
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        if i >= 20 and i % 20 == 11:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), lengths[i])]))
    return texts


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = {t: _rows(t, sf) for t in ROWS_AT_SF1}
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"],
            n["customer"],
        ),
    })
    adjectives = "red new hot small cold large blue old".split()
    nouns = "bolt anvil ring rod plate gear nut pipe".split()
    tables["part"] = pa.table({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [
            f"{adjectives[a]} {nouns[b]}"
            for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(
            ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"], n["part"]
        ),
        "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n["part"]) % 1000) * 0.1, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": rng.choice(["O", "F", "P"], n["orders"]),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n["orders"]), 2),
        "o_orderdate": EPOCH_1995
        + rng.integers(0, 2405, n["orders"]) * np.timedelta64(DAY_US, "us"),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n["orders"],
        ),
    })
    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], nl),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["N", "R", "A"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": EPOCH_1995
        + rng.integers(1, 2500, nl) * np.timedelta64(DAY_US, "us"),
    })
    ne = n["events"]
    gaps = rng.exponential(26.0, ne) * 1e6
    tables["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us")
        + np.cumsum(gaps).astype(np.int64) * np.timedelta64(1, "us"),
        "user_id": rng.integers(0, max(1, ne // 66), ne),
        "event_type": rng.choice(["signup", "purchase", "view", "click", "error"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = n["documents"]
    text = documents_text(rng, nd)
    tables["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": text,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    })
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    })
    return tables


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# The router's routing program, in the reference's YAML shape: shared
# extractors, CIDR and kernel-log regexes, substring arms, an action
# indirection, a matched-but-dropped arm and a dead-letter topic.
SPLIT_CONF_YAML = r"""
extractors:
  office_net: &office_net
    pattern: '"source":"10\.220\.(6[4-9]|7[0-1])\.'
    use_regex: true
  syslog: &syslog
    pattern: 'source":"/var/log/syslog'
  ceph_mon: &ceph_mon
    pattern: 'source":"/var/log/ceph/ceph-mon'
  ceph_log: &ceph_log
    pattern: 'source":"/var/log/ceph/ceph.log'
  ceph_osd: &ceph_osd
    pattern: 'source":"/var/log/ceph/ceph-osd'
  kernel: &kernel
    pattern: 'kernel: \[[0-9]+\.[0-9]+\] (oom|segfault)'
    use_regex: true
spliters_templates:
  - input_topic: 'bench-in'
    actions:
      matched: 'bench-matched'
      unmatched: 'bench-unmatched'
      debug: 'bench-debug'
    splits:
      - extractor: *office_net
        output_topic: 'bench-office'
      - extractor: *syslog
        output_topic: 'bench-syslog'
      - extractor: *ceph_mon
        action: debug
      - extractor: *ceph_log
      - extractor: *ceph_osd
        action: archive
      - extractor: *kernel
        output_topic: 'bench-kernel'
"""

SPLIT_CONF_B64 = base64.b64encode(SPLIT_CONF_YAML.encode()).decode()

# ``plans.routing_queries.DOCS_SPLITER`` as a routing program: its arms
# hit early on most documents (``window`` and ``hash`` are common words).
DOCS_CONF_YAML = r"""
spliters_templates:
  - input_topic: 'documents-in'
    actions:
      matched: 'docs-matched'
      unmatched: 'docs-unmatched'
      debug: 'docs-debug'
    splits:
      - extractor: {pattern: 'spark .*join', use_regex: true}
        output_topic: 'docs-spark-join'
      - extractor: {pattern: 'window'}
        action: debug
      - extractor: {pattern: 'hash'}
      - extractor: {pattern: 'vector'}
        action: archive
"""

DOCS_CONF_B64 = base64.b64encode(DOCS_CONF_YAML.encode()).decode()

# Fragments planted in about 1% of messages; each hits one arm above.
PLANTS = [
    '"source":"10.220.66.17"',
    '"source":"/var/log/syslog"',
    '"source":"/var/log/ceph/ceph-mon.a"',
    '"source":"/var/log/ceph/ceph.log"',
    '"source":"/var/log/ceph/ceph-osd.3"',
    "kernel: [1234.5678] oom",
]
PLANT_SHARE = 0.01


def message_log(seed: int, corpus: list[str], n: int) -> pa.Table:
    """``n`` messages replayed from ``corpus``; the key carries the
    document id and the replica number. About 1% of values get one
    routing fragment planted at a random offset."""
    rng = np.random.default_rng(seed + 1)
    doc = rng.integers(0, len(corpus), n)
    values = np.array(corpus, dtype=object)[doc]
    planted = np.flatnonzero(rng.random(n) < PLANT_SHARE)
    which = rng.integers(0, len(PLANTS), len(planted))
    for i, p in zip(planted, which):
        v = values[i]
        cut = int(rng.integers(0, len(v) + 1))
        values[i] = v[:cut] + PLANTS[p] + v[cut:]
    keys = [f"{d}-{i}" for i, d in enumerate(doc.tolist())]
    return pa.table({"key": keys, "value": pa.array(values, pa.string())})
