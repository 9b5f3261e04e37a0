"""Graph-centrality query family: integer fixed-point PageRank over
the click interaction graph. Scale-extension surface (SURVEY §7.1 M6)
— the reference engine has no graph tier. Operator:
``operators/graphrank.py`` (exactness + scale shape documented there);
the oracle unrolls the SAME power iterations as SQL CTEs, so the
BIGINT rank value itself is hash-compared, not just its order."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from distributed_computing_projects_spark.operators import graphrank as G
from distributed_computing_projects_spark.queries import query
from distributed_computing_projects_spark.sources.registry import load_table
from distributed_computing_projects_spark.sources.wat import (
    LINK_FAN, LINK_MULT, LINK_STEP)

PAGERANK_TOP_N = 20

_K_D = "CAST(json_extract_string(props, '$.k') AS BIGINT)"


_CLICK_EDGES = f"""pairs AS (
      SELECT DISTINCT user_id * 2 AS u, {_K_D} * 2 + 1 AS i
      FROM events
      WHERE event_type = 'click' AND {_K_D} IS NOT NULL),
    edges AS (
      SELECT u AS src, i AS dst FROM pairs
      UNION ALL SELECT i AS src, u AS dst FROM pairs)"""


def _pagerank_oracle(n_iters: int = G.N_ITERS,
                     edges_cte: str = _CLICK_EDGES) -> str:
    """The operator's exact integer recurrence, unrolled: r0 = uniform
    SCALE//N, then per round one edge join + floor-div contribution +
    BIGINT sum + rebase. ``edges_cte`` supplies the graph (CTEs
    ending in ``edges(src, dst)``) — the click graph by default, the
    WAT link graph for the crawl composition."""
    parts = [
        f"""{edges_cte},
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src),
    r0 AS (
      SELECT node, CAST({G.SCALE} // n AS BIGINT) AS r
      FROM nodes CROSS JOIN nn)"""
    ]
    for it in range(1, n_iters + 1):
        parts.append(f"""c{it} AS (
      SELECT e.dst, CAST(sum((r.r * {G.DAMP_NUM}) // ({G.DAMP_DEN} * g.d))
                         AS BIGINT) AS s
      FROM edges e
      JOIN r{it - 1} r ON e.src = r.node
      JOIN deg g ON e.src = g.src
      GROUP BY e.dst),
    r{it} AS (
      SELECT n.node,
             CAST((3 * {G.SCALE}) // ({G.DAMP_DEN} * nn.n)
                  + coalesce(c.s, 0) AS BIGINT) AS r
      FROM nodes n CROSS JOIN nn
      LEFT JOIN c{it} c ON n.node = c.dst)""")
    ctes = ",\n    ".join(parts)
    return f"""
    WITH {ctes}
    SELECT node, degree, rank_fp, rnk FROM (
      SELECT r.node, g.d AS degree, r.r AS rank_fp,
             CAST(row_number() OVER (ORDER BY r.r DESC, r.node)
                  AS BIGINT) AS rnk
      FROM r{n_iters} r JOIN deg g ON r.node = g.src)
    WHERE rnk <= {PAGERANK_TOP_N}
    """


@query(
    "graph_pagerank_topk",
    headline=True,
    oracle=_pagerank_oracle(),
    doc="Integer fixed-point PageRank (damping 17/20, ranks scaled by "
        "10^12) over the bidirectional user-item click graph, top-20 "
        "nodes. Every iterate is BIGINT — integer sums are order-"
        "independent, so the rank VALUE hash-matches cross-engine "
        "(float PageRank cannot), and the same property makes the "
        "shuffle-order-agnostic distributed run reproducible. Three "
        "power iterations here; the per-iteration shape (edge "
        "equi-join + destination hash aggregate, no per-node "
        "collected state) is the 100 TB-legal one.",
)
def q_graph_pagerank_topk(spark, sf_dir):
    # relies on get_spark's byte-driven AQE coalescing, which also
    # reaches the persisted per-round plans: 32 tiny per-round
    # partitions were pure scheduler latency (8 cores beat 32, 0.40x)
    ev = load_table(spark, sf_dir, "events")
    ranked = G.pagerank_fixedpoint(G.click_graph(ev))
    w = Window.orderBy(F.desc("rank"), F.asc("node"))
    return (
        ranked.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= PAGERANK_TOP_N)
        .select("node", "degree", F.col("rank").alias("rank_fp"), "rnk")
    )


# fixture constants interpolated from sources/wat.py — single source
# of truth, so a LINK_* change cannot silently desync fixture and oracle
_WAT_EDGES = f"""nn0 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    edges AS (
      SELECT d.doc_id AS src,
             (d.doc_id * {LINK_MULT} + t.j * {LINK_STEP}) % nn0.n AS dst
      FROM documents d CROSS JOIN nn0,
           LATERAL unnest(generate_series(1, d.doc_id % {LINK_FAN} + 1))
             AS t(j))"""


@query(
    "wat_link_pagerank",
    oracle=_pagerank_oracle(edges_cte=_WAT_EDGES),
    doc="The crawl-graph composition: WAT metadata records "
        "(sources/wat.py — warcinfo skip members, asset records with "
        "no HTML-Metadata contributing zero edges) -> JVM-side "
        "envelope parse + Links explode -> the integer fixed-point "
        "PageRank operator (operators/graphrank.py) -> top-20. The "
        "oracle unrolls the identical BIGINT recurrence over the "
        "regenerated link multiset, so the WAT walk, the JSON stage, "
        "AND the rank arithmetic hash-match end-to-end. The fixture "
        "topology guarantees no dangling nodes (every doc emits >= 1 "
        "link; every target is a doc), matching the operator's "
        "contract.",
)
def q_wat_link_pagerank(spark, sf_dir):
    from distributed_computing_projects_spark.sources import wat as WAT

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()  # driver scalar: one count, bounds the link ring
    edges = WAT.extract_links(
        WAT.wat_payloads(docs, "doc_id", n)).select("src", "dst")
    ranked = G.pagerank_fixedpoint(edges)
    w = Window.orderBy(F.desc("rank"), F.asc("node"))
    return (
        ranked.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= PAGERANK_TOP_N)
        .select("node", "degree", F.col("rank").alias("rank_fp"), "rnk")
    )
