"""Golden routing tests: the reference's end-to-end routing contract
(reference main_test.go:40-153) expressed as pure batch assertions.

The 7 golden (message, expected_topic) pairs are taken verbatim from the
reference's embedded test_messages (reference topic.yaml:25-29, 45-55),
plus the extra semantic pins from SURVEY.md §2.1: first-match-wins,
matched-but-dropped vs unmatched, and key preservation.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_go_streamer_spark.config import Extractor, Split, Spliter
from kafka_go_streamer_spark.routing import (
    route,
    route_and_filter,
    routing_case_sql,
)

CIDR_PATTERN = (
    '.*"source":"10\\.220\\.(6[4-9]|7[0-1])\\.'
    '(25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])".*'
)

SPLITER_RSYSLOG = Spliter(
    input_topic="sc-hrzagt1-rsyslog-proxy",
    actions={
        "unmatched": "sc-hrzagt1-rsyslog-proxy-unmatched",
        "debug": "sc-hrzagt1-rsyslog-proxy-debug",
    },
    splits=[
        Split(Extractor(CIDR_PATTERN, use_regex=True), output_topic="all-office-infra-match"),
    ],
)

SPLITER_OPENSTACK = Spliter(
    input_topic="zagr-ic-openstack",
    actions={
        "matched": "ic-hrzagt1-openstack-match",
        "unmatched": "ic-hrzagt1-openstack-unmatched",
        "drop": "ic-hrzagt1-openstack-drop",
        "debug": "ic-hrzagt1-openstack-debug",
    },
    splits=[
        Split(Extractor('source":"/var/log/syslog'), output_topic="sc-hubudb1-forti-match"),
        Split(Extractor('source":"/var/log/ceph/ceph-mon'), action="debug"),
        Split(Extractor('source":"/var/log/ceph/ceph.log')),
        Split(Extractor('source":"/var/log/ceph/ceph-osd'), action="drop"),
    ],
)

# (key, value, expected_topic); expected None = dropped / not produced
GOLDEN = [
    # spliter 1: regex CIDR match -> explicit topic (topic.yaml:26-27)
    ("k1", 'sasdjioa"source":"10.220.64.10"saskld;jas', "all-office-infra-match"),
    # spliter 1: unmatched dead-letter (topic.yaml:28-29)
    ("k2", "sadjasdasd", "sc-hrzagt1-rsyslog-proxy-unmatched"),
]

GOLDEN_OPENSTACK = [
    # substring -> explicit topic (topic.yaml:46-47)
    ("k3", 'ewewerewrewrsource":"/var/log/syslogeee', "sc-hubudb1-forti-match"),
    # action: debug indirection (topic.yaml:48-49)
    ("k4", 'uuuuwwwwsource":"/var/log/ceph/ceph-monowowowowo', "ic-hrzagt1-openstack-debug"),
    # default 'matched' fallback (topic.yaml:50-51)
    ("k5", 'KavaklWsource":"/var/log/ceph/ceph.logweWIx', "ic-hrzagt1-openstack-match"),
    # unmatched dead-letter (topic.yaml:52-53)
    ("k6", "sadjasdasd", "ic-hrzagt1-openstack-unmatched"),
    # action: drop -> a real topic in this config ('drop' is not special)
    ("k7", 'source":"/var/log/ceph/ceph-osd', "ic-hrzagt1-openstack-drop"),
]


def _routed(spark, spliter, rows):
    df = spark.createDataFrame(rows, "key string, value string")
    return {
        r["key"]: r["topic"]
        for r in route(df, spliter).select("key", "topic").collect()
    }


def test_golden_rsyslog(spark):
    got = _routed(spark, SPLITER_RSYSLOG, [(k, v) for k, v, _ in GOLDEN])
    assert got == {k: t for k, _, t in GOLDEN}


def test_golden_openstack(spark):
    got = _routed(spark, SPLITER_OPENSTACK, [(k, v) for k, v, _ in GOLDEN_OPENSTACK])
    assert got == {k: t for k, _, t in GOLDEN_OPENSTACK}


def test_cidr_regex_boundaries(spark):
    """The CIDR regex must match 10.220.64.0-10.220.71.255 only."""
    cases = [
        ('a"source":"10.220.64.0"b', True),
        ('a"source":"10.220.71.255"b', True),
        ('a"source":"10.220.72.0"b', False),
        ('a"source":"10.220.63.255"b', False),
        ('a"source":"10.220.70.256"b', False),
    ]
    rows = [(str(i), v) for i, (v, _) in enumerate(cases)]
    got = _routed(spark, SPLITER_RSYSLOG, rows)
    for i, (v, should_match) in enumerate(cases):
        expected = (
            "all-office-infra-match"
            if should_match
            else "sc-hrzagt1-rsyslog-proxy-unmatched"
        )
        assert got[str(i)] == expected, v


def test_first_match_wins(spark):
    """A value matching splits 1 AND 2 routes to split 1 only
    (reference main.go:595-597)."""
    v = 'xsource":"/var/log/syslog and also source":"/var/log/ceph/ceph-mon'
    got = _routed(spark, SPLITER_OPENSTACK, [("k", v)])
    assert got["k"] == "sc-hubudb1-forti-match"
    # and the reverse order of patterns in the value doesn't change priority
    v2 = 'source":"/var/log/ceph/ceph-mon then source":"/var/log/syslog'
    got2 = _routed(spark, SPLITER_OPENSTACK, [("k", v2)])
    assert got2["k"] == "sc-hubudb1-forti-match"


def test_matched_but_dropped_is_not_unmatched(spark):
    """A split whose action is missing from the actions map drops the
    message — it must NOT go to the dead-letter (reference
    main.go:409-417, 595-601)."""
    spliter = Spliter(
        input_topic="t",
        actions={"unmatched": "dead"},
        splits=[
            Split(Extractor("AAA"), action="ghost-action"),
            Split(Extractor("BBB"), output_topic="out-b"),
        ],
    )
    rows = [("m1", "xxAAAxx"), ("m2", "xxBBBxx"), ("m3", "zzzzz"), ("m4", "AAA BBB")]
    got = _routed(spark, spliter, rows)
    assert got == {"m1": None, "m2": "out-b", "m3": "dead", "m4": None}
    # and route_and_filter removes exactly the non-produced rows
    df = spark.createDataFrame(rows, "key string, value string")
    kept = {r["key"] for r in route_and_filter(df, spliter).collect()}
    assert kept == {"m2", "m3"}


def test_key_and_value_preserved(spark):
    df = spark.createDataFrame(
        [("kk", 'source":"/var/log/syslog')], "key string, value string"
    )
    out = route_and_filter(df, SPLITER_OPENSTACK).collect()[0]
    assert out["key"] == "kk" and out["value"] == 'source":"/var/log/syslog'


def test_substring_is_literal_not_regex(spark):
    """'ceph.log' must not match 'cephXlog' — substring predicates bypass
    the regex engine entirely."""
    spliter = Spliter(
        input_topic="t",
        actions={"matched": "m", "unmatched": "u"},
        splits=[Split(Extractor("ceph.log"))],
    )
    got = _routed(spark, spliter, [("a", "xx ceph.log xx"), ("b", "xx cephXlog xx")])
    assert got == {"a": "m", "b": "u"}


def test_binary_value_column(spark):
    df = spark.createDataFrame(
        [("a", bytearray(b'z source":"/var/log/syslog z'))],
        "key string, value binary",
    )
    out = route(df, SPLITER_OPENSTACK).collect()[0]
    assert out["topic"] == "sc-hubudb1-forti-match"


def test_routing_case_sql_twin_matches_dataframe_path(spark):
    """The SQL twin (used by the DuckDB oracle) and the DataFrame path
    must agree on every golden row."""
    rows = (
        [(k, v) for k, v, _ in GOLDEN_OPENSTACK]
        + [("fm", 'xsource":"/var/log/syslog source":"/var/log/ceph/ceph-mon')]
    )
    df = spark.createDataFrame(rows, "key string, value string")
    df.createOrReplaceTempView("msgs_twin_test")
    case = routing_case_sql(SPLITER_OPENSTACK, "value")
    via_sql = {
        r["key"]: r["topic"]
        for r in spark.sql(
            f"SELECT key, {case} AS topic FROM msgs_twin_test"
        ).collect()
    }
    via_df = _routed(spark, SPLITER_OPENSTACK, rows)
    assert via_sql == via_df


def test_no_shuffle_in_routing_plan(spark):
    """The routing hot path must stay narrow: no Exchange in the plan."""
    df = spark.createDataFrame([("k", "v")], "key string, value string")
    plan = route_and_filter(df, SPLITER_OPENSTACK)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_route_and_filter_evaluates_case_once(spark):
    """The produce filter must not be pushed below the routing
    projection with the CASE inlined into it: the optimized plan holds
    exactly one CASE, even when a drop arm makes topic nullable."""
    spliter = Spliter(
        input_topic="t",
        actions={"unmatched": "dead"},
        splits=[
            Split(Extractor("AAA"), action="ghost-action"),
            Split(Extractor("B+B", use_regex=True), output_topic="out-b"),
        ],
    )
    rows = [("m1", "AAA"), ("m2", "BBB"), ("m3", "z")]
    out = route_and_filter(spark.createDataFrame(rows, "key string, value string"), spliter)
    assert out._jdf.queryExecution().optimizedPlan().toString().count("CASE WHEN") == 1
    assert out.columns == ["key", "value", "topic"]
    assert sorted(map(tuple, out.collect())) == [("m2", "BBB", "out-b"), ("m3", "z", "dead")]


def test_quote_bearing_pattern_and_topic_escape_in_sql_twin(spark):
    """A spliter whose PATTERN and topic both contain single quotes must
    route identically through the DataFrame path, the Spark-SQL twin,
    and the DuckDB oracle — the injection class ADVICE.md flagged for
    the pattern literal (the topic literal was already escaped)."""
    import duckdb

    spliter = Spliter(
        input_topic="in",
        actions={"unmatched": "un'matched"},
        splits=[
            Split(
                Extractor("o'reilly", use_regex=False),
                output_topic="books'n'logs",
            ),
            Split(
                Extractor(r"err'?or", use_regex=True),
                output_topic="errors",
            ),
        ],
    )
    rows = [
        ("a", "read o'reilly every day"),
        ("b", "an err'or occurred"),
        ("c", "an error occurred"),
        ("d", "nothing to see"),
    ]
    expected = {
        "a": "books'n'logs",
        "b": "errors",
        "c": "errors",
        "d": "un'matched",
    }
    via_df = _routed(spark, spliter, rows)
    assert via_df == expected
    case = routing_case_sql(spliter, "value")
    con = duckdb.connect()
    con.execute("CREATE TABLE msgs (key VARCHAR, value VARCHAR)")
    con.executemany("INSERT INTO msgs VALUES (?, ?)", rows)
    via_duck = dict(
        con.execute(f"SELECT key, {case} AS topic FROM msgs").fetchall()
    )
    assert via_duck == expected


# ---------------------------------------------- non-UTF-8 payloads
# The reference matches raw bytes (main.go:515-521); these pin what our
# binary->string cast commits to for malformed payloads (see route()).


def test_invalid_utf8_substring_matches_bytewise(spark):
    """An ASCII substring pattern must still hit a payload whose tail is
    invalid UTF-8 — Spark's contains() searches the unvalidated bytes,
    byte-for-byte like the reference's strings.Contains."""
    rows = [
        ("m1", bytearray(b'x "source":"/var/log/syslog" y\xff\xfe\x80')),
        ("m2", bytearray(b"\x80\xffnothing matches here\xc3")),
        # pattern bytes split by a stray continuation byte must NOT match
        ("m3", bytearray(b'"source":"/var/log/sys\x80log"')),
    ]
    df = spark.createDataFrame(rows, "key string, value binary")
    got = {r["key"]: r["topic"] for r in route(df, SPLITER_OPENSTACK).collect()}
    assert got["m1"] == "sc-hubudb1-forti-match"
    assert got["m2"] == "ic-hrzagt1-openstack-unmatched"
    assert got["m3"] == "ic-hrzagt1-openstack-unmatched"


def test_invalid_utf8_regex_matches_valid_region(spark):
    """A regex split still matches the intact ASCII region when invalid
    bytes sit elsewhere in the payload (they decode as U+FFFD, which
    `.*` spans); an all-garbage payload dead-letters."""
    rows = [
        ("r1", bytearray(b'\xfe\xfd junk "source":"10.220.64.10" tail \x80')),
        ("r2", bytearray(b"\x80\x81\x82")),
    ]
    df = spark.createDataFrame(rows, "key string, value binary")
    got = {r["key"]: r["topic"] for r in route(df, SPLITER_RSYSLOG).collect()}
    assert got["r1"] == "all-office-infra-match"
    assert got["r2"] == "sc-hrzagt1-rsyslog-proxy-unmatched"


def test_invalid_utf8_key_bytes_preserved_through_routing(spark):
    """Keys are opaque bytes end-to-end (reference main.go:496-499): a
    non-UTF-8 key must survive route_and_filter bit-exact."""
    key = bytes(b"\x00\xff\xfe-binary-key")
    df = spark.createDataFrame(
        [(bytearray(key), bytearray(b'"source":"/var/log/syslog"'))],
        "key binary, value binary",
    )
    out = route_and_filter(df, SPLITER_OPENSTACK).collect()
    assert len(out) == 1
    assert bytes(out[0]["key"]) == key
