"""Graph-analytics queries (charter extension: link-based centrality —
the quality signal web-corpus curation derives from hyperlink graphs,
expressed here over the purchase graph the relational tables induce)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from bigdata_kafka_2_spark.io import read_table
from bigdata_kafka_2_spark.operators.graph import (
    build_purchase_graph,
    hits_oracle_sql,
    pagerank,
    pagerank_oracle_sql,
    ppr_oracle_sql,
)
from bigdata_kafka_2_spark.plans import register


@register(
    "q144_pagerank",
    oracle=pagerank_oracle_sql(damping=0.85, iterations=5),
    description="Weighted PageRank with dangling-mass redistribution "
    "over the customer→supplier purchase graph, 5 unrolled power "
    "iterations (operators/graph.pagerank): edges are revenue-share "
    "normalized (exact-DECIMAL sums, one orderkey join + one window "
    "that reuses the src clustering), each iteration is one src-keyed "
    "join + one dst-keyed map-side-combined aggregate + a broadcast "
    "1-row dangling sum, and edges/nodes/ranks are pinned "
    "so the k-iteration lineage stays LINEAR (the dataflow twin of "
    "the oracle's AS MATERIALIZED CTEs). Contributions round to "
    "integer 1e-12 units and sum as BIGINTs (exact and "
    "order-independent like the DECIMAL money sums but codegen-fast; "
    "mass conservation bounds every sum at 1e12 ≪ 2^63), making the "
    "whole iteration bit-reproducible against the unrolled-CTE "
    "oracle. The "
    "link-centrality quality signal of web-scale curation, plus the "
    "engine's representative for ITERATIVE graph dataflow beyond the "
    "dedup family's connected components.",
    tags=("graph", "iterative", "join", "aggregate"),
)
def q144_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    edges = build_purchase_graph(orders, lineitem)
    return pagerank(spark, edges, damping=0.85, iterations=5, label=True)


@register(
    "q152_frequent_pairs",
    oracle="""
    WITH it AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem
    ),
    isup AS (SELECT item, count(*) AS sup FROM it GROUP BY item),
    nb AS (SELECT count(DISTINCT bk) AS n FROM it),
    pairs AS (
      SELECT a.item AS item_a, b.item AS item_b, count(*) AS support
      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
      GROUP BY 1, 2
      HAVING count(*) >= 3
    )
    SELECT item_a, item_b, support,
           round(CAST(support AS DOUBLE) / CAST(sa.sup AS DOUBLE), 4)
             AS conf_ab,
           round(CAST(support * nb.n AS DOUBLE)
                 / CAST(sa.sup * sb.sup AS DOUBLE), 4) AS lift
    FROM pairs
      JOIN isup sa ON item_a = sa.item
      JOIN isup sb ON item_b = sb.item
      CROSS JOIN nb
    """,
    description="Frequent item pairs with association metrics over "
    "order baskets (operators/itemsets.frequent_pairs, min_support=3): "
    "the a-priori 2-itemset core — per-item supports map-side "
    "combine, then the MONOTONICITY PRUNE (a pair is frequent only "
    "if both items are) cuts the per-basket self-join to frequent "
    "items BEFORE the pair explosion; at corpus scale that prune is "
    "orders of magnitude of avoided candidates. The oracle computes "
    "WITHOUT the prune, so the hash gate proves it lossless. "
    "Confidence and lift derive from exact integer counts in one "
    "double division; the basket total rides in as a broadcast "
    "1-row aggregate (no driver collect).",
    tags=("graph", "aggregate", "join"),
)
def q152_frequent_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_kafka_2_spark.operators.itemsets import frequent_pairs

    li = read_table(spark, sf_dir, "lineitem")
    return frequent_pairs(li, "l_orderkey", "l_partkey", min_support=3)


@register(
    "q153_triangle_counts",
    oracle="""
    WITH it AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem
    ),
    e AS (
      SELECT DISTINCT a.item AS a, b.item AS b
      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    )
    SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
    FROM corners GROUP BY node
    """,
    description="Per-vertex triangle counts over the part co-purchase "
    "graph (operators/graph.triangle_counts): edges = parts sharing "
    "an order (pair volume bounded by basket size), then the "
    "DEGREE-ORDERED ORIENTATION — every edge points from its lower- "
    "(degree, id) endpoint, so wedges build only from OUT-neighbors "
    "(Σ out-deg² = O(m^1.5) instead of Σ deg² = O(m·d_max) on skewed "
    "graphs) and each triangle closes exactly once via one "
    "equi-join. The oracle counts the same triangles id-ordered "
    "(orientation changes the join order, not the triangle set). "
    "The clustering-coefficient primitive for graph-shaped corpus "
    "signals.",
    tags=("graph", "join"),
)
def q153_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_kafka_2_spark.operators.graph import (
        cooccurrence_edges,
        triangle_counts,
    )

    li = read_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return triangle_counts(edges)


def _q163_oracle(sf_dir: str | None = None) -> str:
    """Unrolled 3-iteration LPA transcription; each round's argmax is
    row_number ordered by (count DESC, label ASC) — the SQL face of
    the operator's max(struct(count, -label))."""
    head = """
    WITH it AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem
    ),
    e0 AS (
      SELECT a.item AS a, b.item AS b
      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    ed AS (
      SELECT a AS src, b AS dst FROM e0
      UNION ALL SELECT b, a FROM e0
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS lab FROM ed)
    """
    rounds = []
    for i in range(1, 4):
        p = i - 1
        rounds.append(f"""
    c{i} AS (
      SELECT e.dst AS node, l.lab, count(*) AS c
      FROM ed e JOIN l{p} l ON e.src = l.node GROUP BY 1, 2
    ),
    b{i} AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               row_number() OVER (
                 PARTITION BY node ORDER BY c DESC, lab ASC) AS rn
        FROM c{i}
      ) WHERE rn = 1
    ),
    l{i} AS (
      SELECT p.node, coalesce(b.lab, p.lab) AS lab
      FROM l{p} p LEFT JOIN b{i} b USING (node)
    )""")
    return (
        head + "," + ",".join(rounds)
        + "\n    SELECT node, lab AS label FROM l3"
    )


@register(
    "q163_label_propagation",
    oracle=_q163_oracle,
    description="Synchronous label propagation (Raghavan et al. 2007), "
    "3 unrolled deterministic iterations over the support>=2 "
    "co-purchase graph (operators/graph.label_propagation): each "
    "round every part adopts its neighbors' most frequent label, "
    "ties to the smallest — max(struct(count, -label)), the total "
    "order the oracle's row_number(count DESC, label ASC) mirrors. "
    "The community-detection complement to connected components (CC "
    "merges anything reachable; LPA finds densely-linked groups "
    "inside one component) and the engine's second iterative graph "
    "dataflow beyond PageRank: one src-keyed join + one map-side "
    "count + one struct-max per round, label vector pinned so "
    "the lineage stays linear.",
    tags=("graph", "iterative", "aggregate"),
)
def q163_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_kafka_2_spark.operators.graph import (
        cooccurrence_edges,
        label_propagation,
    )

    li = read_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    )
    return label_propagation(edges, iterations=3)


@register(
    "q170_personalized_pagerank",
    oracle=ppr_oracle_sql(
        restart_pred="node % 4 = 0 AND node // 4 IN "
        "(SELECT c_custkey FROM customer WHERE c_nationkey = 0)",
        damping=0.85,
        iterations=5,
    ),
    description="Personalized (topic-sensitive) PageRank "
    "(operators/graph.personalized_pagerank): teleport vector "
    "concentrated on nation-0 customers — rank mass flows outward "
    "from the seed segment, scoring suppliers and parts by "
    "centrality RELATIVE TO that segment (the trusted-seeds / "
    "domain-focused quality signal; global PageRank answers "
    "'central overall'). Same unrolled deterministic dataflow as "
    "q144 — integer-unit contribution sums, 12-dp re-rounding, "
    "per-iteration pin — with e(v) = 1/|S∩V| on members, 0 "
    "elsewhere, in both the restart term and the dangling "
    "redistribution; oracle transcribes the 5 iterations with the "
    "same membership predicate.",
    tags=("graph", "iterative", "join", "aggregate"),
)
def q170_personalized_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from bigdata_kafka_2_spark.operators.graph import (
        personalized_pagerank,
    )

    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    customer = read_table(spark, sf_dir, "customer")
    edges = build_purchase_graph(orders, lineitem)
    seeds = customer.filter(F.col("c_nationkey") == 0).select(
        (F.col("c_custkey") * 4).alias("node")
    )
    return personalized_pagerank(
        spark, edges, seeds, damping=0.85, iterations=5, label=True
    )


@register(
    "q172_clustering_coefficients",
    oracle="""
    WITH it AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem
    ),
    e AS (
      SELECT DISTINCT a.item AS a, b.item AS b
      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
    ),
    deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e
      ) GROUP BY node
    ),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1
        JOIN e e2 ON e2.a = e1.b
        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    tc AS (SELECT node, count(*) AS n_triangles FROM corners GROUP BY node)
    SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
           CAST(coalesce(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
           CASE WHEN d.degree >= 2
                THEN round(coalesce(tc.n_triangles, 0) * 1.0
                           / (d.degree * (d.degree - 1) / 2), 4)
                ELSE 0.0 END AS coeff
    FROM deg d LEFT JOIN tc USING (node)
    """,
    description="Local clustering coefficient per part "
    "(operators/graph.clustering_coefficients): triangles / "
    "C(degree, 2) over the co-purchase graph — how clique-like each "
    "vertex's neighborhood is, the cohesion signal on top of q153's "
    "adjacency-intersection triangle counts. One extra degree "
    "aggregate + one left join on |V|-row tables; zero-triangle "
    "vertices kept.",
    tags=("graph", "aggregate"),
)
def q172_clustering_coefficients(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from bigdata_kafka_2_spark.operators.graph import (
        clustering_coefficients,
        cooccurrence_edges,
    )

    li = read_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(li, "l_orderkey", "l_partkey")
    return clustering_coefficients(edges)


def _kcore_oracle_sql(k: int, rounds: int) -> str:
    """Unrolled k-core peel over q44's verified pair graph: each round
    recomputes degrees on the surviving edge set and drops nodes
    below k. ``rounds`` is a generous fixed unroll — peeling is
    IDEMPOTENT at the fixpoint (extra rounds change nothing), and
    the Spark side converges in far fewer (its fixpoint check is
    exact), so unroll > actual rounds ⇒ equality. The q43 precedent:
    transcribe the algorithm, generate the SQL."""
    from bigdata_kafka_2_spark.plans.dedup_queries import (
        _exact_pairs_sql,
    )

    parts = ["e0 AS (SELECT id_a AS a, id_b AS b FROM pairs)"]
    prev = "e0"
    for i in range(1, rounds + 1):
        parts.append(
            f"d{i} AS (SELECT node, count(*) AS deg FROM "
            f"(SELECT a AS node FROM {prev} UNION ALL "
            f"SELECT b AS node FROM {prev}) GROUP BY 1)"
        )
        parts.append(f"s{i} AS (SELECT node FROM d{i} WHERE deg >= {k})")
        parts.append(
            f"e{i} AS (SELECT a, b FROM {prev} "
            f"WHERE a IN (SELECT node FROM s{i}) "
            f"AND b IN (SELECT node FROM s{i}))"
        )
        prev = f"e{i}"
    return (
        "WITH "
        + _exact_pairs_sql(0.5)
        + ",\n    "
        + ",\n    ".join(parts)
        + f"\n    SELECT node, CAST(deg AS BIGINT) AS deg"
        + f" FROM d{rounds} WHERE deg >= {k}"
    )


@register(
    "q210_kcore_dupgraph",
    oracle=_kcore_oracle_sql(2, 8),
    description="2-core of the verified near-duplicate graph "
    "(operators/graph.kcore over q44's exact-Jaccard pair edges): "
    "documents sitting in duplication neighborhoods DENSER than a "
    "pair — each core member near-duplicates >= 2 distinct "
    "documents after cascade peeling, the boilerplate-nest signal a "
    "pairwise threshold can't give (a chain of weak pairs peels "
    "away; a template cluster survives). Iterative peeling: per "
    "round one union + degree aggregate, a filter, two left-semi "
    "joins on the shrinking survivor set (AQE broadcasts it), "
    "per-round pin and ONE bounded scalar (the "
    "convergence test). Oracle: the peel unrolled 8 rounds over the "
    "same pair CTE — idempotent past the fixpoint, and the exact "
    "fixpoint check on the Spark side converges well inside that "
    "(the Spark side keeps the operator's default round budget: "
    "extra rounds past the fixpoint are no-ops, so a future fixture "
    "needing more peel rounds than the oracle's unroll still "
    "converges instead of erroring).",
    tags=("graph", "dedup", "join"),
)
def q210_kcore_dupgraph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from bigdata_kafka_2_spark.operators import dedup as DD
    from bigdata_kafka_2_spark.operators.graph import kcore

    d = read_table(spark, sf_dir, "documents")
    pairs = DD.minhash_lsh_verified_pairs(d, jaccard_threshold=0.5)
    edges = pairs.select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b")
    )
    return kcore(edges, k=2)


@register(
    "q228_adamic_adar_links",
    oracle="""
    WITH it AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem
    ),
    e AS (
      SELECT a.item AS a, b.item AS b
      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    deg AS (
      SELECT node, count(*) AS deg FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e
      ) GROUP BY 1
    ),
    nbr AS (
      SELECT a AS z, b AS n FROM e UNION ALL SELECT b, a FROM e
    ),
    cent AS (
      SELECT nbr.z, nbr.n,
             CAST(round(1.0 / ln(CAST(deg AS DOUBLE)), 9)
                  AS DECIMAL(18,9)) AS t
      FROM nbr JOIN deg ON deg.node = nbr.z
      WHERE deg >= 2
    ),
    wed AS (
      SELECT l.n AS x, r.n AS y, l.t
      FROM cent l JOIN nbr r ON l.z = r.z AND l.n < r.n
    ),
    sc AS (
      SELECT x, y, CAST(count(*) AS BIGINT) AS n_common, sum(t) AS s
      FROM wed GROUP BY 1, 2
    ),
    ne AS (
      SELECT sc.x, sc.y, sc.n_common, sc.s
      FROM sc LEFT JOIN e ON sc.x = e.a AND sc.y = e.b
      WHERE e.a IS NULL
    )
    SELECT x, y, n_common, round(CAST(s AS DOUBLE), 6) AS aa_score
    FROM ne ORDER BY s DESC, x, y LIMIT 50
    """,
    description="Adamic-Adar link prediction over the support-2 "
    "co-purchase graph (operators/graph.adamic_adar_links): the 50 "
    "strongest NON-edges by Σ 1/ln(deg z) over shared neighbors "
    "(Adamic & Adar 2003) — the link-PREDICTION member of the graph "
    "family (q144/q153/q172/q210 describe the graph that exists; "
    "this ranks what's most likely missing: recommendation, "
    "knowledge-graph completion, dedup-pair recall auditing). Wedge "
    "candidates come from ONE neighbor-table self-join on the shared "
    "center (Σ deg² rows — the inherent AA volume, hub-cappable "
    "upstream); each center's term is rounded to 9 dp and summed as "
    "exact DECIMAL so the (score DESC, x, y) top-k ranks identically "
    "on both engines; existing edges drop via a left-anti join and "
    "the top-50 is a TakeOrderedAndProject, never a global sort. "
    "Same support-2 edge builder as q163's LPA.",
    tags=("graph", "join"),
)
def q228_adamic_adar_links(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from bigdata_kafka_2_spark.operators.graph import (
        adamic_adar_links,
        cooccurrence_edges,
    )

    li = read_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    )
    return adamic_adar_links(edges, top_k=50)


@register(
    "q235_hits",
    oracle=hits_oracle_sql(iterations=3),
    description="HITS hubs & authorities (operators/graph.hits; "
    "Kleinberg 1999), 3 unrolled rounds over the distinct purchase-"
    "graph edges — the OTHER link-quality fixpoint next to q144's "
    "PageRank: it separates CURATORS (hubs pointing at good content) "
    "from CONTENT (authorities pointed at by good curators), the "
    "split a corpus team wants on seed/reference link graphs where a "
    "great index page should boost what it lists without itself "
    "ranking as content. Same determinism induction as q144: 12-dp "
    "scores, integer-1e-12-unit contributions summed per key in "
    "BIGINT (overflow-free by the L1 bound: any key's sum is at "
    "most 1e12 + |V|/2), L1 totals as broadcast 1-row DECIMAL(38,0) "
    "aggregates, "
    "re-round each half-step — bit-identical to the unrolled-CTE "
    "oracle. Two broadcast-guarded keyed joins per round, per-round "
    "pin keeps the 2k-join lineage linear.",
    tags=("graph", "iterative", "join", "aggregate"),
)
def q235_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_kafka_2_spark.operators.graph import hits

    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    edges = build_purchase_graph(orders, lineitem).select("src", "dst")
    return hits(spark, edges, iterations=3, label=True)


@register(
    "q236_khop_reachability",
    oracle="""
    WITH it AS (
      SELECT DISTINCT l_orderkey AS bk, l_partkey AS item FROM lineitem
    ),
    e AS (
      SELECT a.item AS a, b.item AS b
      FROM it a JOIN it b ON a.bk = b.bk AND a.item < b.item
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (
      SELECT a AS u, b AS v FROM e UNION ALL SELECT b, a FROM e
    ),
    f0 AS (
      SELECT min(node) AS node FROM (
        SELECT a AS node FROM e UNION SELECT b FROM e
      )
    ),
    v0 AS (SELECT node FROM f0),
    f1 AS (
      SELECT DISTINCT v AS node FROM sym JOIN f0 ON sym.u = f0.node
      WHERE v NOT IN (SELECT node FROM v0)
    ),
    v1 AS (SELECT node FROM v0 UNION ALL SELECT node FROM f1),
    f2 AS (
      SELECT DISTINCT v AS node FROM sym JOIN f1 ON sym.u = f1.node
      WHERE v NOT IN (SELECT node FROM v1)
    ),
    v2 AS (SELECT node FROM v1 UNION ALL SELECT node FROM f2),
    f3 AS (
      SELECT DISTINCT v AS node FROM sym JOIN f2 ON sym.u = f2.node
      WHERE v NOT IN (SELECT node FROM v2)
    ),
    v3 AS (SELECT node FROM v2 UNION ALL SELECT node FROM f3),
    f4 AS (
      SELECT DISTINCT v AS node FROM sym JOIN f3 ON sym.u = f3.node
      WHERE v NOT IN (SELECT node FROM v3)
    ),
    v4 AS (SELECT node FROM v3 UNION ALL SELECT node FROM f4)
    SELECT 0 AS hop, (SELECT count(*) FROM f0) AS n_frontier,
           (SELECT count(*) FROM v0) AS n_reached
    UNION ALL SELECT 1, (SELECT count(*) FROM f1),
           (SELECT count(*) FROM v1)
    UNION ALL SELECT 2, (SELECT count(*) FROM f2),
           (SELECT count(*) FROM v2)
    UNION ALL SELECT 3, (SELECT count(*) FROM f3),
           (SELECT count(*) FROM v3)
    UNION ALL SELECT 4, (SELECT count(*) FROM f4),
           (SELECT count(*) FROM v4)
    """,
    description="Bounded-hop reachability profile (operators/graph."
    "khop_reachability): BFS layers from the lowest-id node of the "
    "support-2 co-purchase graph, 4 hops — per hop the newly-"
    "discovered frontier size and cumulative reach. The TRAVERSAL "
    "member of the graph family (q144/q210/q153 describe structure; "
    "this measures proximity — blast radius of a contaminated "
    "source, neighborhood growth around a seed corpus). Each hop is "
    "one keyed frontier join + one left-anti against the visited "
    "set, pinned so the k-hop lineage stays linear "
    "(the LPA/k-core loop discipline); per-hop driver work is one "
    "bounded count. The oracle unrolls the same four layers.",
    tags=("graph", "iterative", "join"),
)
def q236_khop_reachability(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import functions as F

    from bigdata_kafka_2_spark.operators.graph import (
        cooccurrence_edges,
        khop_reachability,
    )

    li = read_table(spark, sf_dir, "lineitem")
    edges = cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    )
    nodes = edges.select(F.col("a").alias("node")).union(
        edges.select(F.col("b").alias("node"))
    )
    seeds = nodes.agg(F.min("node").alias("node"))
    return khop_reachability(edges, seeds, hops=4)
