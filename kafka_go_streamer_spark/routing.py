"""Content-based routing core: the reference's hot path as a pure,
source-agnostic DataFrame transform.

The reference scans a message's splits in YAML order and routes it to the
first predicate hit, falling through to the unmatched dead-letter
(reference main.go:507-542, 595-606). Here that whole loop compiles to a
single chained ``CASE WHEN`` expression — Catalyst's ``CaseWhen``
evaluates arms in order and short-circuits on the first true arm, so the
priority semantics and the per-message single-pass cost are identical,
but vectorized inside whole-stage codegen instead of one Go iteration per
message.

Scale notes: the produced plan is narrow (scan -> case-when project ->
one-row explode -> filter) with **zero shuffles**, so it parallelizes
linearly with input partitions on any cluster size; predicates are
JVM-side (``rlike`` / ``contains``), regex literals are compiled once per
task by the codegen'd ``RLike`` expression, not per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafka_go_streamer_spark.config import ResolvedSplit, Spliter


def split_predicate(split: ResolvedSplit, value: Column) -> Column:
    """Predicate for one split: regex partial match (reference
    main.go:510-515) or literal substring containment (reference
    main.go:516-522). Substring MUST NOT go through the regex path —
    patterns like ``ceph.log`` contain regex metacharacters that the
    reference matches literally."""
    if split.use_regex:
        return value.rlike(split.pattern)
    return value.contains(F.lit(split.pattern))


def routing_expr(spliter: Spliter, value: Column) -> Column:
    """The ordered first-match-wins routing expression.

    Returns a ``topic`` column where NULL means "produce nowhere": either
    a matched split that resolves to no writer (drop, reference
    main.go:409-417) or an unmatched message with no unmatched topic
    configured (reference main.go:460-463).
    """
    expr: Column | None = None
    for rs in spliter.resolved_splits():
        target = F.lit(rs.topic) if rs.topic is not None else F.lit(None).cast(
            "string"
        )
        pred = split_predicate(rs, value)
        expr = F.when(pred, target) if expr is None else expr.when(pred, target)
    unmatched = (
        F.lit(spliter.unmatched_topic)
        if spliter.unmatched_topic is not None
        else F.lit(None).cast("string")
    )
    return unmatched if expr is None else expr.otherwise(unmatched)


def route(
    df: DataFrame,
    spliter: Spliter,
    value_col: str = "value",
    topic_col: str = "topic",
) -> DataFrame:
    """Add a ``topic`` routing column; keeps every input row (NULL topic =
    message the reference would not produce anywhere).

    The value column is matched as a string; binary columns are cast.
    The reference matches raw bytes (main.go:515-521). Spark's
    binary->string cast wraps the bytes UNVALIDATED (UTF8String), so
    the committed semantics for non-UTF-8 payloads are:

    * substring splits (``contains``) search byte-wise on the raw
      bytes — identical to the reference's ``strings.Contains`` for
      ANY payload, valid UTF-8 or not;
    * regex splits (``rlike``) evaluate over the JVM string view,
      where each invalid sequence decodes as U+FFFD. For the ASCII
      patterns configs actually ship (SURVEY.md §7 watch-list), a
      match against the valid region of the payload is unaffected;
      only a pattern that must match the malformed bytes THEMSELVES
      can diverge from RE2-on-bytes (RE2 sees one byte where Java
      sees one replacement char).

    Both are pinned by tests/test_routing.py's invalid-UTF-8 cases.
    """
    value = F.col(value_col)
    if dict(df.dtypes).get(value_col) == "binary":
        value = value.cast("string")
    return df.withColumn(topic_col, routing_expr(spliter, value))


def route_and_filter(
    df: DataFrame,
    spliter: Spliter,
    value_col: str = "value",
    topic_col: str = "topic",
) -> DataFrame:
    """Route then keep only rows that actually produce: the reference's
    observable output (dropped + unroutable-unmatched rows removed).

    A plain ``filter(topic IS NOT NULL)`` would be pushed below the
    projection with the whole ``CASE`` inlined into it, so every row
    would run the routing predicates twice. Exploding the one-element
    ``array(topic)`` puts the filter on the generator's output, which
    Catalyst cannot push further down: the ``CASE`` runs once, still in
    the one codegen span."""
    routed = route(df, spliter, value_col, topic_col)
    return routed.withColumn(topic_col, F.explode(F.array(topic_col))).filter(
        F.col(topic_col).isNotNull()
    )


def split_condition_sql(split: ResolvedSplit, value_expr: str) -> str:
    """SQL twin of :func:`split_predicate` for ONE split — shared by
    :func:`routing_case_sql` and the per-rule audits (rule coverage /
    shadowing), so a rule's SQL condition has a single source of
    truth. Substring splits compare with ``position(... in ...) > 0``
    to stay literal; regex splits use ``regexp_matches`` (DuckDB)
    which is a partial match like Spark ``rlike``."""
    pat = split.pattern.replace("'", "''")
    if split.use_regex:
        return f"regexp_matches({value_expr}, '{pat}')"
    return f"position('{pat}' in {value_expr}) > 0"


def routing_case_sql(spliter: Spliter, value_expr: str) -> str:
    """The exact SQL twin of :func:`routing_expr` — an ANSI ``CASE WHEN``
    usable by any SQL engine (used by the DuckDB correctness oracle)."""
    arms = []
    for rs in spliter.resolved_splits():
        cond = split_condition_sql(rs, value_expr)
        target = (
            "'" + rs.topic.replace("'", "''") + "'"
            if rs.topic is not None
            else "NULL"
        )
        arms.append(f"WHEN {cond} THEN {target}")
    unmatched = (
        "'" + spliter.unmatched_topic.replace("'", "''") + "'"
        if spliter.unmatched_topic
        else "NULL"
    )
    return "CASE " + " ".join(arms) + f" ELSE {unmatched} END"
