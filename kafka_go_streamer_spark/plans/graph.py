"""Graph family: every ``graph_*`` query, over two kinds of graph.

* The behavioral transition graph: event types linked by lead()-derived
  next-event transitions (``graph_pagerank_transitions``,
  ``graph_reciprocity``) or by shared users
  (``graph_bipartite_projection``).
* The winnowing near-duplicate document graph: its edges are the
  registered ``dedup_winnowing_pairs``. Every other query here runs on
  it.

The document graph's shared pieces are each written once, as a Spark
builder and as its DuckDB CTE twin:

* edge frame ``e(a, b)`` — :func:`edge_frame` / :func:`edges_sql`.
  ``dedup_winnowing_pairs`` groups on ``a.doc_id < b.doc_id``, so every
  unordered pair already comes out once with ``id_a < id_b``: the frame
  is a plain projection (no ``least``/``greatest``, no ``DISTINCT``),
  pinned once;
* symmetric adjacency ``adj(x, y)`` — :func:`adjacency` / ``ADJ_SQL``;
* degree table ``(node, d)`` — :func:`degrees` / :func:`deg_sql`;
* node-ordered triangle triple-join ``tri(a, b, c)`` —
  :func:`triangles` / ``TRI_SQL``;
* wedge candidate join for link prediction — :func:`predicted_links` /
  :func:`links_sql`;
* damped PageRank step — :func:`pagerank` / :func:`pagerank_sql`, also
  used by ``text_textrank_keywords``.

``graph_doc_centrality`` keeps its own loop: its document-cardinality
rank table joins by partition, never by broadcast.

Scale: edge lists inherit winnowing's capped blocking (sparse by
construction); every join is an equi-join on the node key or a
broadcast of a node- or type-cardinality frame.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_go_streamer_spark.functions.rounding import stable_round
from kafka_go_streamer_spark.operators.iterate import pinned, pinned_counted
from kafka_go_streamer_spark.plans.registry import ORACLES, QUERIES, query
from kafka_go_streamer_spark.sources.tables import load_table

#: PageRank damping factor (event-type PageRank, document centrality
#: and TextRank) and the event-type graph's fixed iteration count.
#: Three iterations over a 5-node graph converge to ~1e-3; the point is
#: the RELATIONAL iteration shape (edge extraction at data scale, rank
#: refinement on the node-cardinality table), not numerical
#: convergence.
PR_DAMPING = 0.85
PR_ITERS = 3
#: Document-graph PageRank iterations (unrolled in the oracle).
DOC_PR_ITERS = 2
#: k-core threshold and bounded peeling rounds (production runs the
#: same loop to a fixpoint; bounded rounds keep the oracle unrollable
#: and the per-round report is the deterministic contract either way).
KCORE_K = 2
KCORE_ROUNDS = 3
#: Synchronous min-label propagation rounds.
LPA_ROUNDS = 2
#: Communities reported (largest first).
LPA_TOP = 10
#: Link prediction (Adamic-Adar, Jaccard): how many predicted links to
#: report.
AA_TOP = 20
#: Rich-club degree thresholds.
RICH_KS = (2, 4, 8)


# ------------------------------------------------ shared graph pieces


def edge_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(a, b)``, ``a < b``: the undirected edge list of the winnowing
    document graph, each edge once, pinned (the one barrier every
    query on this graph starts from)."""
    pairs = QUERIES["dedup_winnowing_pairs"](spark, sf_dir)
    return pinned(
        pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )


def edges_sql() -> str:
    """CTE twin of :func:`edge_frame`: ``wpairs`` (the registered
    winnowing-pairs oracle, MATERIALIZED so DuckDB's CTE inlining does
    not re-derive the shingle chain per reference) and ``e(a, b)``."""
    return f"""
    wpairs AS MATERIALIZED ({ORACLES["dedup_winnowing_pairs"]}),
    e AS (SELECT id_a AS a, id_b AS b FROM wpairs)"""


def adjacency(e: DataFrame) -> DataFrame:
    """``(x, y)``: both orientations of every edge of ``e(a, b)``."""
    return e.select(F.col("a").alias("x"), F.col("b").alias("y")).unionByName(
        e.select(F.col("b").alias("x"), F.col("a").alias("y"))
    )


#: CTE twin of :func:`adjacency` over ``e``.
ADJ_SQL = """
    adj AS MATERIALIZED (
      SELECT a AS x, b AS y FROM e UNION ALL SELECT b AS x, a AS y FROM e
    )"""


def degrees(e: DataFrame) -> DataFrame:
    """``(node, d)``: the degree table of the edge frame ``e(a, b)``."""
    return (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )


def deg_sql(name: str = "deg", e: str = "e") -> str:
    """CTE twin of :func:`degrees`: ``name(node, d)`` over the edge CTE
    ``e``."""
    return f"""
    {name} AS MATERIALIZED (
      SELECT node, count(*)::BIGINT AS d FROM (
        SELECT a AS node FROM {e} UNION ALL SELECT b AS node FROM {e}
      ) GROUP BY 1
    )"""


def triangles(e: DataFrame) -> DataFrame:
    """``(a, b, c)``, ``a < b < c``: every triangle of ``e`` exactly
    once — the node-ordered triple join: one equi-join on the shared
    endpoint, one equi-join closing the wedge (never a wedge
    materialization)."""
    bc = e.select(F.col("a").alias("b"), F.col("b").alias("c"))
    ac = e.select("a", F.col("b").alias("c"))
    return e.join(bc, "b").join(ac, ["a", "c"])


#: CTE twin of :func:`triangles` over ``e``.
TRI_SQL = """
    tri AS MATERIALIZED (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1 JOIN e e2 ON e2.a = e1.b
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )"""


def predicted_links(
    e: DataFrame,
    score: str,
    scored: Callable[[DataFrame, DataFrame], DataFrame],
) -> DataFrame:
    """The top ``AA_TOP`` non-adjacent pairs ``(id_a, id_b, n_common,
    <score>)`` by ``score`` (id tie-break). Candidates come from the
    wedge join ``(u, v, c)``: two adjacency rows sharing the neighbor
    ``c``, ``u < v``. ``scored(wedges, degrees)`` groups them to one
    ``(u, v, n_common, <score>)`` row per pair; existing edges drop by
    an anti-join against ``e``."""
    adj = adjacency(e)
    a1 = adj.select(F.col("x").alias("u"), F.col("y").alias("c"))
    a2 = adj.select(F.col("x").alias("v"), F.col("y").alias("c"))
    wedges = a1.join(a2, "c").filter(F.col("u") < F.col("v"))
    cand = scored(wedges, degrees(e))
    new = cand.join(
        e, (cand["u"] == e["a"]) & (cand["v"] == e["b"]), "left_anti"
    )
    return (
        new.select(
            F.col("u").alias("id_a"), F.col("v").alias("id_b"), "n_common", score
        )
        .orderBy(F.col(score).desc(), "id_a", "id_b")
        .limit(AA_TOP)
    )


def links_sql(score: str, scored: str) -> str:
    """CTE twin of :func:`predicted_links` (after :func:`edges_sql`):
    ``adj``, ``deg`` and the wedge CTE ``w(u, v, c)``; ``scored``
    defines ``sc(u, v, n_common, <score>)`` from them."""
    return f"""{ADJ_SQL},
    {deg_sql()},
    w AS (
      SELECT a1.x AS u, a2.x AS v, a1.y AS c
      FROM adj a1 JOIN adj a2 ON a1.y = a2.y AND a1.x < a2.x
    ),
    {scored}
    SELECT s.u AS id_a, s.v AS id_b, s.n_common, s.{score}
    FROM sc s LEFT JOIN e ON e.a = s.u AND e.b = s.v
    WHERE e.a IS NULL
    ORDER BY s.{score} DESC, s.u, s.v LIMIT {AA_TOP}
    """


def pagerank(ew: DataFrame, nodes: DataFrame, iters: int) -> DataFrame:
    """``(node, r, nn)`` after ``iters`` damped steps from the uniform
    ``r0 = 1/n``: ``r <- (1-d)/n + d * sum(r[f] * p)`` over the weighted
    edges ``ew(f, t, p)``. Every step is a broadcast join of the
    node-cardinality rank table plus a tiny aggregate; a node with no
    in-edge keeps only the teleport term, and dangling mass is dropped
    (no out-edge, no contribution) on both engines."""
    ns = nodes.agg(F.count(F.lit(1)).alias("nn"))
    ranks = nodes.crossJoin(F.broadcast(ns)).select(
        "node", (F.lit(1.0) / F.col("nn")).alias("r"), "nn"
    )
    for _ in range(iters):
        contrib = (
            ew.join(
                F.broadcast(ranks.select(F.col("node").alias("f"), "r")), "f"
            )
            .groupBy("t")
            .agg(F.sum(F.col("r") * F.col("p")).alias("c"))
        )
        ranks = (
            ranks.drop("r")
            .join(
                F.broadcast(contrib.withColumnRenamed("t", "node")),
                "node",
                "left",
            )
            .select(
                "node",
                (
                    F.lit(1.0 - PR_DAMPING) / F.col("nn")
                    + PR_DAMPING * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("r"),
                "nn",
            )
        )
    return ranks


def pagerank_sql(iters: int) -> str:
    """CTE twin of :func:`pagerank`: ``ns``, ``r0`` .. ``r{iters}``
    over the CTEs ``ew(f, t, p)`` and ``nodes(node)``."""
    steps = [
        f"""
    r{k} AS (
      SELECT n.node,
             {1.0 - PR_DAMPING} / (SELECT nn FROM ns)
             + {PR_DAMPING} * coalesce((
                 SELECT sum(prev.r * ew.p)
                 FROM ew JOIN r{k - 1} prev ON prev.node = ew.f
                 WHERE ew.t = n.node), 0) AS r
      FROM nodes n
    )"""
        for k in range(1, iters + 1)
    ]
    return (
        """
    ns AS (SELECT count(*) AS nn FROM nodes),
    r0 AS (SELECT node, 1.0 / (SELECT nn FROM ns) AS r FROM nodes),"""
        + ",".join(steps)
    )


# ---------------------------------------------- behavioral graphs


def _pagerank_oracle() -> str:
    return f"""
    WITH
    seq AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    ),
    e AS (
      SELECT event_type AS f, next_type AS t, count(*) AS n
      FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2
    ),
    ew AS (
      SELECT f, t, n / sum(n) OVER (PARTITION BY f) AS p FROM e
    ),
    nodes AS (
      SELECT f AS node FROM e UNION SELECT t FROM e
    ),{pagerank_sql(PR_ITERS)}
    SELECT node AS event_type, round(r, 6) AS pagerank
    FROM r{PR_ITERS}"""


@query("graph_pagerank_transitions", oracle=_pagerank_oracle())
def graph_pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the behavioral transition graph: nodes are event
    types, edges the lead()-derived next-event transitions weighted by
    conditional probability, ranks refined through three damped
    iterations (:func:`pagerank`) — 'which state does user behavior
    concentrate in'.

    Scale: the data-sized work is the ONE window shuffle extracting
    bigram edges (same plan as events_transition_matrix); the
    iteration then runs entirely on node/edge-cardinality frames (the
    5x5 matrix), each step a broadcast join + tiny aggregate, so
    iteration cost is independent of event volume. At web-graph node
    counts the same loop holds with the rank table partitioned instead
    of broadcast (``graph_doc_centrality``)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    ).filter(F.col("next_type").isNotNull())
    # Pin the edge table ONCE: without the barrier every iteration's
    # reference to ew/nodes re-derives the whole lineage from the
    # events scan (measured: 19 scans in the 3-iteration plan) — the
    # classic iterative-lineage trap. Pinned, the corpus is scanned
    # exactly once and the loop runs on the materialized 5x5 frame.
    e = pinned(
        seq.groupBy(
            F.col("event_type").alias("f"), F.col("next_type").alias("t")
        ).agg(F.count(F.lit(1)).alias("n"))
    )
    wf = Window.partitionBy("f")
    ew = e.select("f", "t", (F.col("n") / F.sum("n").over(wf)).alias("p"))
    nodes = (
        e.select(F.col("f").alias("node"))
        .union(e.select(F.col("t").alias("node")))
        .distinct()
    )
    return pagerank(ew, nodes, PR_ITERS).select(
        F.col("node").alias("event_type"),
        stable_round(F.col("r"), 6).alias("pagerank"),
    )


@query(
    "graph_bipartite_projection",
    oracle="""
    WITH ut AS MATERIALIZED (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    nt AS (
      SELECT event_type, count(*)::BIGINT AS nu FROM ut GROUP BY 1
    ),
    co AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             count(*)::BIGINT AS n_both
      FROM ut a JOIN ut b
        ON b.user_id = a.user_id AND b.event_type > a.event_type
      GROUP BY 1, 2
    )
    SELECT co.type_a, co.type_b, co.n_both,
           round(co.n_both / sqrt(na.nu * 1.0 * nb.nu), 6)
             AS cosine_affinity
    FROM co JOIN nt na ON na.event_type = co.type_a
            JOIN nt nb ON nb.event_type = co.type_b
    """,
)
def graph_bipartite_projection(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bipartite projection of the user×event-type graph onto event
    types: co-engagement counts (users doing BOTH types) normalized
    to cosine affinity n_ab/√(n_a·n_b) — the item-item similarity
    backbone of co-occurrence recommenders, and the behavioral
    companion to text PMI (``text_pmi_cooccurrence``) one level up.

    Scale: the fact collapses to the DISTINCT (user, type) frame
    first (user-cardinality, the stickiness query's first shuffle);
    the self-join is per-user with fanout bounded by the type
    vocabulary (≤ k types per user → ≤ k² pairs per user, k tiny),
    never a type-blind cross join; the projection output is
    k²-sized. Counts are exact integers; the affinity is one
    rounded division."""
    ev = load_table(spark, sf_dir, "events")
    ut = pinned(ev.select("user_id", "event_type").distinct())
    nt = ut.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("nu")
    )
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    co = (
        a.join(b, "user_id")
        .filter(F.col("type_b") > F.col("type_a"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_both"))
    )
    na = nt.select(
        F.col("event_type").alias("type_a"), F.col("nu").alias("na")
    )
    nb = nt.select(
        F.col("event_type").alias("type_b"), F.col("nu").alias("nb")
    )
    return (
        co.join(F.broadcast(na), "type_a")
        .join(F.broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            stable_round(
                F.col("n_both")
                / F.sqrt(F.col("na") * 1.0 * F.col("nb")),
                6,
            ).alias("cosine_affinity"),
        )
    )


@query(
    "graph_reciprocity",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS to_type
      FROM events
    ),
    f AS MATERIALIZED (
      SELECT from_type, to_type, count(*)::BIGINT AS w
      FROM seq
      WHERE to_type IS NOT NULL AND to_type <> from_type
      GROUP BY 1, 2
    ),
    r AS (
      SELECT f.from_type, f.to_type, f.w, g.w AS w_rev
      FROM f LEFT JOIN f g
        ON g.from_type = f.to_type AND g.to_type = f.from_type
    )
    SELECT count(*)::BIGINT AS n_directed_edges,
           sum(CASE WHEN w_rev IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_reciprocated,
           round(sum(CASE WHEN w_rev IS NOT NULL THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS reciprocity,
           round(sum(least(w, coalesce(w_rev, 0))) * 1.0 / sum(w), 6)
             AS weighted_reciprocity
    FROM r
    """,
)
def graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the behavioral transition graph (self-loops
    excluded): the share of directed type→type transition edges
    whose reverse edge also occurs, plus the weighted form
    Σmin(w,w̄)/Σw — distinguishes cyclic back-and-forth behavior
    (view⇄click loops) from one-way funnels (signup→purchase,
    never back), the structural prior behind the Markov family
    (``events_transition_matrix`` and its stationary/entropy
    composites).

    Scale: transitions come from the one lead() window shuffle the
    whole Markov family shares, collapsed to the k²-row directed
    edge frame; the reverse lookup is a self-join OF THAT k² frame
    (constant size regardless of fact volume). All counts exact
    integers; two rounded ratios at the end."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(
        F.col("to_type").isNotNull()
        & (F.col("to_type") != F.col("from_type"))
    )
    f = pinned(
        seq.groupBy("from_type", "to_type").agg(
            F.count(F.lit(1)).cast("long").alias("w")
        )
    )
    g = f.select(
        F.col("from_type").alias("to_type"),
        F.col("to_type").alias("from_type"),
        F.col("w").alias("w_rev"),
    )
    r = f.join(F.broadcast(g), ["from_type", "to_type"], "left")
    recip = F.sum(
        F.when(F.col("w_rev").isNotNull(), 1).otherwise(0)
    )
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_directed_edges"),
        recip.cast("long").alias("n_reciprocated"),
        stable_round(recip * 1.0 / F.count(F.lit(1)), 6).alias(
            "reciprocity"
        ),
        stable_round(
            F.sum(F.least(F.col("w"), F.coalesce(F.col("w_rev"), F.lit(0))))
            * 1.0
            / F.sum("w"),
            6,
        ).alias("weighted_reciprocity"),
    )


# ------------------------------------------ the winnowing document graph


def _doc_centrality_oracle() -> str:
    return f"""
    WITH {edges_sql()},
    edges AS (
      SELECT id_a AS f, id_b AS t, n_shared AS w FROM wpairs
      UNION ALL
      SELECT id_b AS f, id_a AS t, n_shared AS w FROM wpairs
    ),
    ew AS (
      SELECT f, t, w * 1.0 / sum(w) OVER (PARTITION BY f) AS p FROM edges
    ),
    nodes AS (SELECT DISTINCT f AS node FROM edges),{pagerank_sql(DOC_PR_ITERS)}
    SELECT node AS doc_id, round(r, 6) AS centrality
    FROM r{DOC_PR_ITERS}
    """


@query("graph_doc_centrality", oracle=_doc_centrality_oracle)
def graph_doc_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document centrality: damped PageRank over the winnowing-overlap
    similarity graph (edges = the registered ``dedup_winnowing_pairs``
    output, symmetrized, weighted by shared-fingerprint count) — a
    data-selection signal: documents central to a duplication
    neighborhood are templates/boilerplate hubs, peripheral ones are
    distinctive. Isolated documents (no near-dup edges) are excluded —
    centrality is defined on the graph.

    Scale: this is the BIG-GRAPH twin of the event-type PageRank
    (graph_pagerank_transitions): there the node set is tiny and the
    rank table broadcasts; here nodes are document-cardinality, so
    every iteration is a PARTITIONED equi-join of the rank table with
    the pinned edge list (both hash-partitioned on the node key —
    exchange reuse across iterations), a map-side-combinable
    contribution aggregate, and a left join back to nodes. Edge
    generation inherits winnowing's capped blocking, so the graph is
    sparse by construction (no bucket can go quadratic). Iteration
    count is fixed and small — the contraction-loop discipline of
    connected_components applies unchanged if run to convergence."""
    pairs = pinned(QUERIES["dedup_winnowing_pairs"](spark, sf_dir))
    edges = pairs.select(
        F.col("id_a").alias("src"),
        F.col("id_b").alias("dst"),
        F.col("n_shared").alias("w"),
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("src"),
            F.col("id_a").alias("dst"),
            F.col("n_shared").alias("w"),
        )
    )
    ws = Window.partitionBy("src")
    ew = pinned(
        edges.select(
            "src", "dst", (F.col("w") * 1.0 / F.sum("w").over(ws)).alias("p")
        )
    )
    nodes = ew.select(F.col("src").alias("node")).distinct()
    ns = nodes.agg(F.count(F.lit(1)).alias("nn"))
    ranks = nodes.crossJoin(F.broadcast(ns)).select(
        "node", (F.lit(1.0) / F.col("nn")).alias("r"), "nn"
    )
    for _ in range(DOC_PR_ITERS):
        contrib = (
            ew.join(
                ranks.select(F.col("node").alias("src"), "r"), "src"
            )
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("r") * F.col("p")).alias("c"))
        )
        ranks = (
            ranks.drop("r")
            .join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(1.0 - PR_DAMPING) / F.col("nn")
                    + PR_DAMPING * F.coalesce(F.col("c"), F.lit(0.0))
                ).alias("r"),
                "nn",
            )
        )
    return ranks.select(
        F.col("node").alias("doc_id"),
        stable_round(F.col("r"), 6).alias("centrality"),
    )


def _triangle_oracle() -> str:
    return f"""
    WITH {edges_sql()},
    {TRI_SQL},
    {deg_sql()},
    tc AS (SELECT count(*)::BIGINT AS n_triangles FROM tri),
    wed AS (
      SELECT sum(d * (d - 1) / 2) AS n_wedges,
             count(*)::BIGINT AS n_nodes
      FROM deg
    ),
    ec AS (SELECT count(*)::BIGINT AS n_edges FROM e)
    SELECT t.n_triangles, ec.n_edges, w.n_nodes,
           round(CASE WHEN w.n_wedges > 0
                      THEN 3.0 * t.n_triangles / w.n_wedges
                      ELSE 0.0 END, 6) AS clustering_coeff
    FROM tc t CROSS JOIN wed w CROSS JOIN ec
    """


@query("graph_triangle_count", oracle=_triangle_oracle)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the
    winnowing-overlap document graph: how CLIQUEY the
    near-duplication structure is — template families close into
    triangles, chains of pairwise-similar revisions don't, and the
    coefficient 3·triangles/wedges separates the two corpus
    pathologies.

    Scale: the node-ordered triangle join (:func:`triangles`) over the
    pinned edge frame, so the three join arms read the materialized
    blocks instead of re-deriving the shingle pipeline. Production
    adds degree-descending orientation for skewed graphs; the wedge
    count is a degree-table aggregate, never a wedge
    materialization."""
    e = edge_frame(spark, sf_dir)
    tri = triangles(e).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    wed = degrees(e).agg(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("n_wedges"),
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
    )
    ec = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    return (
        tri.crossJoin(F.broadcast(wed))
        .crossJoin(F.broadcast(ec))
        .select(
            "n_triangles",
            "n_edges",
            "n_nodes",
            stable_round(
                F.when(
                    F.col("n_wedges") > 0,
                    3.0 * F.col("n_triangles") / F.col("n_wedges"),
                ).otherwise(0.0),
                6,
            ).alias("clustering_coeff"),
        )
    )


def _clustering_oracle() -> str:
    return f"""
    WITH {edges_sql()},
    {TRI_SQL},
    tv AS (
      SELECT node, count(*)::BIGINT AS t FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b AS node FROM tri
        UNION ALL SELECT c AS node FROM tri
      ) GROUP BY 1
    ),
    {deg_sql()},
    lc AS (
      SELECT deg.node, deg.d, coalesce(tv.t, 0)::BIGINT AS t,
             2.0 * coalesce(tv.t, 0) / (deg.d * (deg.d - 1.0)) AS cc
      FROM deg LEFT JOIN tv USING (node)
      WHERE deg.d >= 2
    )
    SELECT count(*)::BIGINT AS n_nodes_deg2,
           sum(CASE WHEN t > 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_closed_nodes,
           round(avg(cc), 6) AS avg_local_cc
    FROM lc
    """


@query("graph_clustering_coefficient", oracle=_clustering_oracle)
def graph_clustering_coefficient(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Average LOCAL clustering coefficient (Watts-Strogatz C̄) of the
    winnowing graph: per node, the share of its neighbor pairs that
    are themselves connected, averaged over nodes of degree ≥ 2 —
    the node-weighted view that ``graph_triangle_count``'s GLOBAL
    3·tri/wedges ratio deliberately is not (C̄ weights every node
    equally; the global ratio is dominated by hubs — the two
    disagreeing is itself the hub-and-spoke signature).

    Scale: triangles come from the same node-ordered triple join as
    the global counter (:func:`triangles`) — each triangle generated
    exactly once, then credited to its three vertices by a 3-arm
    union of the SAME materialized triple join (one join tree, three
    projections); per-node T and degree are node-cardinality frames
    joined hash-left. Integer T and d make 2T/d(d−1) identical
    doubles on both engines before the one rounded average."""
    e = edge_frame(spark, sf_dir)
    tri = pinned(triangles(e))
    tv = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    lc = (
        degrees(e)
        .join(tv, "node", "left")
        .filter(F.col("d") >= 2)
        .select(
            F.coalesce(F.col("t"), F.lit(0)).cast("long").alias("t"),
            (
                2.0
                * F.coalesce(F.col("t"), F.lit(0))
                / (F.col("d") * (F.col("d") - 1.0))
            ).alias("cc"),
        )
    )
    return lc.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes_deg2"),
        F.sum(F.when(F.col("t") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_closed_nodes"),
        stable_round(F.avg("cc"), 6).alias("avg_local_cc"),
    )


def _assortativity_oracle() -> str:
    return f"""
    WITH {edges_sql()},
    {deg_sql()},
    sym AS (
      SELECT da.d AS dx, db.d AS dy
      FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
      UNION ALL
      SELECT db.d AS dx, da.d AS dy
      FROM e JOIN deg da ON da.node = e.a JOIN deg db ON db.node = e.b
    ),
    m AS (
      SELECT count(*)::BIGINT AS n,
             sum(dx)::BIGINT AS sx, sum(dy)::BIGINT AS sy,
             sum(dx * dy)::BIGINT AS sxy,
             sum(dx * dx)::BIGINT AS sxx,
             sum(dy * dy)::BIGINT AS syy
      FROM sym
    )
    SELECT (SELECT count(*) FROM e)::BIGINT AS n_edges,
           (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
           round((n * sxy - sx * sy)
                 / nullif(sqrt((n * sxx - sx * sx) * 1.0
                               * (n * syy - sy * sy)), 0), 4)
             AS assortativity
    FROM m
    """


@query("graph_degree_assortativity", oracle=_assortativity_oracle)
def graph_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Degree assortativity of the winnowing near-dup graph: Pearson
    correlation of endpoint degrees over the symmetrized edge list
    (Newman's r) — positive means hub documents overlap with other
    hubs (one template family densely interlinked: dedup it as a
    unit), negative means hub-and-spoke (one boilerplate source
    touching many singletons: drop the hub, keep the spokes). The
    one-number triage BEFORE running component extraction.

    Scale: degrees are one aggregate of the pinned capped edge list;
    the endpoint join is two hash joins of that edge frame against
    the node-cardinality degree frame; the correlation folds from
    EXACT integer sums (n·Σxy − ΣxΣy form), so both engines derive
    the identical double before the single rounded division. A
    degree-regular graph (zero variance) reports NULL on both
    engines."""
    e = edge_frame(spark, sf_dir)
    deg = pinned(degrees(e))
    j = (
        e.join(
            F.broadcast(deg.withColumnRenamed("node", "a")
                        .withColumnRenamed("d", "dxa")), "a"
        )
        .join(
            F.broadcast(deg.withColumnRenamed("node", "b")
                        .withColumnRenamed("d", "dyb")), "b"
        )
        .select(F.col("dxa").alias("dx"), F.col("dyb").alias("dy"))
    )
    sym = j.unionAll(
        j.select(F.col("dy").alias("dx"), F.col("dx").alias("dy"))
    )
    m = sym.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    ne = e.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    nn = deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * 1.0
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return (
        m.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(nn))
        .select(
            "n_edges",
            "n_nodes",
            stable_round(
                num / F.nullif(den, F.lit(0.0)), 4
            ).alias("assortativity"),
        )
    )


def _kcore_oracle() -> str:
    # Every per-round CTE is referenced several times (d/e/report);
    # DuckDB inlines CTEs by default, so without MATERIALIZED the
    # round-r lineage re-derives rounds 1..r-1 per reference and the
    # oracle goes quadratic in rounds (measured 55 s vs Spark's ~15 s
    # at sf0.1). MATERIALIZED pins each frame once, the exact analogue
    # of the Spark plan's pinned() barriers.
    parts = [f"WITH {edges_sql()}"]
    rows = []
    prev = "e"
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(f"""{deg_sql(f"d{r}", prev)},
    k{r} AS MATERIALIZED (SELECT node FROM d{r} WHERE d >= {KCORE_K}),
    e{r} AS MATERIALIZED (
      SELECT p.a, p.b FROM {prev} p
      JOIN k{r} ka ON ka.node = p.a
      JOIN k{r} kb ON kb.node = p.b
    )""")
        rows.append(
            f"SELECT {r} AS round, (SELECT count(*) FROM k{r})::BIGINT"
            f" AS nodes_kept, (SELECT count(*) FROM e{r})::BIGINT"
            " AS edges_kept"
        )
        prev = f"e{r}"
    return ",".join(parts) + " " + " UNION ALL ".join(rows)


@query("graph_kcore_decomposition", oracle=_kcore_oracle)
def graph_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling of the winnowing-overlap document graph:
    each round drops nodes of degree < k and their incident edges,
    reporting (nodes_kept, edges_kept) per round — the standard
    dense-substructure extractor; what survives peeling is the
    boilerplate/template CORE of a near-dup graph, the part worth
    deduplicating first (the per-round report doubles as a
    convergence trace: equal consecutive rows = fixpoint reached).

    Scale: each round is a degree aggregate plus two semi-joins
    against the kept-node set — all equi-joins on the node key, with
    the per-round edge frame pinned so round r+1 never recomputes
    round r's lineage; the pin's materialization job answers the
    round's ``edges_kept`` count itself (``pinned_counted``, same
    merge as the CC loop), so the report never re-aggregates the edge
    frame. Bounded rounds here; production peels to fixpoint with the
    same contraction discipline as connected_components."""
    e = edge_frame(spark, sf_dir)
    reports = []
    for r in range(1, KCORE_ROUNDS + 1):
        # kept stays UNPINNED: it derives from one aggregate over the
        # round's pinned edge frame, so its three consumers (both join
        # sides + the report count) re-derive a cheap subtree instead
        # of paying a localCheckpoint job per round
        kept = degrees(e).filter(F.col("d") >= KCORE_K).select("node")
        e, n_edges = pinned_counted(
            e.join(kept.withColumnRenamed("node", "a"), "a").join(
                kept.withColumnRenamed("node", "b"), "b"
            ).select("a", "b")
        )
        reports.append(
            kept.agg(F.count(F.lit(1)).cast("long").alias("nodes_kept"))
            .select(
                F.lit(r).alias("round"),
                "nodes_kept",
                F.lit(n_edges).cast("long").alias("edges_kept"),
            )
        )
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionAll(rep)
    return out


def lpa_label_ctes() -> tuple[str, str]:
    """The LPA label chain as a reusable ``(with_body, final_name)``
    pair: edge frame ``e`` → adjacency ``adj`` → ``l0..lN``. Shared by
    the LPA query's oracle and modularity."""
    # MATERIALIZED for the same reason as _kcore_oracle: l{r-1} is
    # referenced twice per round, so DuckDB's default CTE inlining
    # re-derives the whole lineage per reference.
    parts = [f"""{edges_sql()},{ADJ_SQL},
    l0 AS MATERIALIZED (SELECT DISTINCT x AS node, x AS lbl FROM adj)"""]
    for r in range(1, LPA_ROUNDS + 1):
        parts.append(f"""
    l{r} AS MATERIALIZED (
      SELECT l.node, least(l.lbl, min(nl.lbl)) AS lbl
      FROM l{r - 1} l
      JOIN adj ON adj.x = l.node
      JOIN l{r - 1} nl ON nl.node = adj.y
      GROUP BY l.node, l.lbl
    )""")
    return ",".join(parts), f"l{LPA_ROUNDS}"


def lpa_label_frame(e: DataFrame) -> DataFrame:
    """(node, lbl) after LPA_ROUNDS of synchronous min-label
    propagation over the edge frame ``e`` — the Spark twin of
    :func:`lpa_label_ctes`, reused by the LPA query and modularity
    (which shares its pinned ``e``, so the winnowing pipeline runs
    once)."""
    adj = adjacency(e)
    lbl = adj.select(F.col("x").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(LPA_ROUNDS):
        lbl = (
            lbl.join(adj, lbl["node"] == adj["x"])
            .join(
                lbl.select(
                    F.col("node").alias("nb"), F.col("lbl").alias("nlbl")
                ),
                F.col("y") == F.col("nb"),
            )
            .groupBy("node", "lbl")
            .agg(F.least(F.first("lbl"), F.min("nlbl")).alias("new_lbl"))
            .select("node", F.col("new_lbl").alias("lbl"))
        )
    return lbl


def _lpa_oracle() -> str:
    body, final = lpa_label_ctes()
    return (
        f"WITH {body}"
        + f"""
    SELECT lbl AS community, count(*)::BIGINT AS size
    FROM {final}
    GROUP BY 1 ORDER BY size DESC, community ASC LIMIT {LPA_TOP}
    """
    )


@query("graph_label_propagation", oracle=_lpa_oracle)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous min-label propagation over the winnowing near-dup
    graph (two rounds): every node starts as its own label and adopts
    the minimum label in its closed neighborhood each round; the top
    communities by size fall out — the cheap community detector that
    groups template FAMILIES (not just connected pairs) after a
    bounded number of shuffles, where full connected-components runs
    its contraction to convergence.

    Scale: each round is one equi-join of the label frame with the
    symmetric adjacency of the pinned edge frame plus a min-aggregate
    — label frames are node-cardinality, edges capped-sparse. Bounded
    rounds = bounded shuffles: LPA is the operator of choice when one
    pass of "good enough" clustering must fit a fixed stage budget at
    100 TB. The label chain itself lives in :func:`lpa_label_frame`
    so ``graph_modularity_lpa`` can score the same communities."""
    lbl = lpa_label_frame(edge_frame(spark, sf_dir))
    return (
        lbl.groupBy(F.col("lbl").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .orderBy(F.col("size").desc(), F.col("community").asc())
        .limit(LPA_TOP)
    )


def _modularity_sql() -> str:
    body, final = lpa_label_ctes()
    return f"""
    WITH {body},
    {deg_sql()},
    m AS (SELECT count(*)::BIGINT AS m FROM e),
    intra AS (
      SELECT la.lbl, count(*)::BIGINT AS mc
      FROM e JOIN {final} la ON la.node = e.a
             JOIN {final} lb ON lb.node = e.b
      WHERE la.lbl = lb.lbl GROUP BY 1
    ),
    dc AS (
      SELECT l.lbl, sum(d.d)::BIGINT AS dc
      FROM {final} l JOIN deg d USING (node) GROUP BY 1
    )
    SELECT (SELECT count(*) FROM {final})::BIGINT AS n_nodes,
           (SELECT count(*) FROM dc)::BIGINT AS n_communities,
           max(m.m)::BIGINT AS n_edges,
           round(sum(coalesce(i.mc, 0) * 1.0 / m.m
                     - (d.dc * 1.0 / (2 * m.m))
                       * (d.dc * 1.0 / (2 * m.m))), 6) AS modularity
    FROM dc d LEFT JOIN intra i USING (lbl) CROSS JOIN m
    """


@query("graph_modularity_lpa", oracle=_modularity_sql)
def graph_modularity_lpa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the LPA communities on the winnowing
    near-dup graph: Q = Σ_c [m_c/m − (d_c/2m)²]. LPA emits community
    SIZES; this scores whether those communities are actually denser
    than chance — the accept/reject check before using them for
    cluster-level dedup (Q near 0 = the "template families" are an
    artifact; Q ≫ 0 = real block structure worth deduping at the
    cluster grain).

    Scale: runs entirely on the capped edge list, its degree frame,
    and the node-cardinality label frame (the SAME ``lpa_label_frame``
    chain the LPA query runs, over the same pinned edge frame);
    intra-community edge counting is two equi-joins of the edge list
    against labels; the final fold is |communities| rows."""
    e = edge_frame(spark, sf_dir)
    lbls = pinned(lpa_label_frame(e))
    m = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    la = lbls.select(F.col("node").alias("a"), F.col("lbl").alias("la"))
    lb = lbls.select(F.col("node").alias("b"), F.col("lbl").alias("lb"))
    intra = (
        e.join(la, "a")
        .join(lb, "b")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("lbl"))
        .agg(F.count(F.lit(1)).cast("long").alias("mc"))
    )
    dc = (
        lbls.join(degrees(e), "node")
        .groupBy("lbl")
        .agg(F.sum("d").cast("long").alias("dc"))
    )
    n_nodes = lbls.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    terms = (
        dc.join(intra, "lbl", "left")
        .crossJoin(F.broadcast(m))
        .select(
            (
                F.coalesce(F.col("mc"), F.lit(0)) * 1.0 / F.col("m")
                - (F.col("dc") * 1.0 / (2 * F.col("m")))
                * (F.col("dc") * 1.0 / (2 * F.col("m")))
            ).alias("t"),
            "m",
        )
    )
    return (
        terms.agg(
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.max("m").cast("long").alias("n_edges"),
            stable_round(F.sum("t"), 6).alias("modularity"),
        )
        .crossJoin(F.broadcast(n_nodes))
        .select("n_nodes", "n_communities", "n_edges", "modularity")
    )


def _adamic_adar_oracle() -> str:
    return f"WITH {edges_sql()}," + links_sql(
        "aa_score",
        """
    sc AS (
      SELECT w.u, w.v, count(*)::BIGINT AS n_common,
             round(sum(1.0 / ln(g.d)), 6) AS aa_score
      FROM w JOIN deg g ON g.node = w.c
      GROUP BY 1, 2
    )""",
    )


def _adamic_adar_scored(wedges: DataFrame, deg: DataFrame) -> DataFrame:
    return (
        wedges.join(deg.withColumnRenamed("node", "c"), "c")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            stable_round(F.sum(1.0 / F.log(F.col("d"))), 6).alias(
                "aa_score"
            ),
        )
    )


@query("graph_adamic_adar", oracle=_adamic_adar_oracle)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction over the winnowing-overlap document
    graph: for every NON-adjacent pair sharing at least one neighbor,
    score = sum over common neighbors c of 1/ln(deg(c)) — rare shared
    neighbors count more than promiscuous hubs. The top predictions
    are the near-duplicate pairs the fingerprint blocking MISSED but
    the graph structure implies (two docs both overlapping the same
    template are probably versions of each other): a recall audit for
    the dedup family, from the dedup family's own output.

    Scale: the wedge join (:func:`predicted_links`) is the triangle
    join's first arm over the pinned edge frame, grouped to
    pair-cardinality with the common neighbor's degree; existing edges
    drop out via an anti-join against the edge frame, and only the
    top-20 by rounded score (deterministic id tie-break) surface.
    deg(c)>=2 for any common neighbor, so 1/ln never divides by zero.
    Production adds the degree-descending orientation + a per-node
    neighbor cap, same as every candidate generator in this repo."""
    return predicted_links(
        edge_frame(spark, sf_dir), "aa_score", _adamic_adar_scored
    )


def _jaccard_neighbors_oracle() -> str:
    return f"WITH {edges_sql()}," + links_sql(
        "jaccard",
        """
    cand AS (
      SELECT u, v, count(*)::BIGINT AS n_common FROM w GROUP BY 1, 2
    ),
    sc AS (
      SELECT c.u, c.v, c.n_common,
             round(c.n_common * 1.0
                   / (du.d + dv.d - c.n_common), 6) AS jaccard
      FROM cand c
      JOIN deg du ON du.node = c.u
      JOIN deg dv ON dv.node = c.v
    )""",
    )


def _jaccard_scored(wedges: DataFrame, deg: DataFrame) -> DataFrame:
    cand = wedges.groupBy("u", "v").agg(
        F.count(F.lit(1)).cast("long").alias("n_common")
    )
    return (
        cand.join(
            deg.select(F.col("node").alias("u"), F.col("d").alias("du")),
            "u",
        )
        .join(
            deg.select(F.col("node").alias("v"), F.col("d").alias("dv")),
            "v",
        )
        .select(
            "u",
            "v",
            "n_common",
            stable_round(
                F.col("n_common")
                * 1.0
                / (F.col("du") + F.col("dv") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@query("graph_jaccard_neighbors", oracle=_jaccard_neighbors_oracle)
def graph_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-Jaccard link prediction over the winnowing-overlap
    document graph: for every non-adjacent pair with at least one
    common neighbor, |N(u)∩N(v)| / |N(u)∪N(v)| — the set-overlap
    companion to Adamic-Adar's rarity-weighted score. Jaccard favors
    pairs whose neighborhoods agree PROPORTIONALLY (two 3-neighbor
    docs sharing all 3 beat two hubs sharing 10 of 200), so the two
    predictors disagree exactly where hub structure matters, and
    running both is the standard link-prediction ablation.

    Scale: same wedge join as Adamic-Adar (:func:`predicted_links`),
    grouped to pair cardinality before the degree joins; the union
    size comes from inclusion-exclusion on the degree table (no
    neighborhood materialization), existing edges drop via anti-join,
    top-{AA_TOP} by rounded score with id tie-breaks. deg_u + deg_v −
    n_common ≥ max(deg) ≥ 1, so the ratio never divides by zero."""
    return predicted_links(
        edge_frame(spark, sf_dir), "jaccard", _jaccard_scored
    )


def _rich_club_oracle() -> str:
    ks = ", ".join(str(k) for k in RICH_KS)
    return f"""
    WITH {edges_sql()},
    {deg_sql()},
    ks AS (SELECT unnest([{ks}]) AS k),
    nk AS (
      SELECT ks.k, count(deg.node)::BIGINT AS n_nodes
      FROM ks LEFT JOIN deg ON deg.d > ks.k GROUP BY 1
    ),
    ek AS (
      SELECT ks.k,
             sum(CASE WHEN da.d > ks.k AND db.d > ks.k
                      THEN 1 ELSE 0 END)::BIGINT AS n_edges
      FROM ks CROSS JOIN e
      JOIN deg da ON da.node = e.a
      JOIN deg db ON db.node = e.b
      GROUP BY 1
    )
    SELECT nk.k::BIGINT AS k, nk.n_nodes, ek.n_edges,
           round(2.0 * ek.n_edges
                 / nullif(nk.n_nodes * (nk.n_nodes - 1), 0), 6)
             AS rich_club_coeff
    FROM nk JOIN ek USING (k)
    """


@query("graph_rich_club", oracle=_rich_club_oracle)
def graph_rich_club(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient of the winnowing-overlap document graph at
    degree thresholds k in {RICH_KS}: among nodes of degree > k, the
    realized edge density 2E_k / (N_k (N_k - 1)) — "do the most
    duplicated documents duplicate EACH OTHER" (a rich club in the
    overlap graph means template families interlock, so cluster-level
    dedup beats pairwise drops; composes with
    ``graph_degree_assortativity``, the correlation version of the
    same question, and ``dedup_cluster_manifest``).

    Scale: runs entirely on the capped winnowing edge list (the
    audited candidate geometry — never all pairs) and its degree
    frame; the threshold sweep is ONE explode of the 3-element k grid
    against each frame and ONE hash aggregate per frame, every join
    equi- or broadcast. Counts are exact integers; one rounded
    division per threshold."""
    e = edge_frame(spark, sf_dir)
    deg = pinned(degrees(e))
    k_grid = F.explode(
        F.array(*[F.lit(k) for k in RICH_KS])
    ).alias("k")
    ks = (
        deg.select(k_grid, "d")
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("d") > F.col("k"), 1).otherwise(0))
            .cast("long")
            .alias("n_nodes")
        )
    )
    ewd = (
        e.join(
            deg.select(F.col("node").alias("a"), F.col("d").alias("da")),
            "a",
        )
        .join(
            deg.select(F.col("node").alias("b"), F.col("d").alias("db")),
            "b",
        )
    )
    ek = (
        ewd.select(k_grid, "da", "db")
        .groupBy("k")
        .agg(
            F.sum(
                F.when(
                    (F.col("da") > F.col("k")) & (F.col("db") > F.col("k")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_edges")
        )
    )
    return (
        ks.join(ek, "k")
        .select(
            F.col("k").cast("long").alias("k"),
            "n_nodes",
            "n_edges",
            stable_round(
                2.0
                * F.col("n_edges")
                / F.nullif(
                    F.col("n_nodes") * (F.col("n_nodes") - 1), F.lit(0)
                ),
                6,
            ).alias("rich_club_coeff"),
        )
    )
