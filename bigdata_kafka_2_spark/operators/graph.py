"""Graph analytics over relational edge tables (charter extension —
link-based centrality, the quality signal web-scale curation pipelines
derive from their hyperlink / citation graphs; the reference's data
model has no graph operator, so this is net-new Spark-first surface
alongside the connected-components closure in ``operators/dedup.py``).

The centerpiece is weighted PageRank as a FIXED-ITERATION unrolled
dataflow: every iteration is one rank⋈edge join plus one dst-keyed
aggregate — the exact shape Pregel/GraphX lowers to, expressed in pure
DataFrame ops so Catalyst/AQE handle skew and partial aggregation.

Determinism discipline (the engine's exact-sum rule, in its FAST
form): per-edge contributions are rounded to integer units of 1e-12
and summed as plain BIGINTs — order-independent like the DECIMAL(38,x)
pattern the money queries use, but whole-stage-codegen-friendly (the
DECIMAL formulation measured ~4 s/iteration at sf0.1; the long-unit
formulation ~1 s). Unit sums cannot overflow: total rank mass is 1, so
any dst's contribution sum is ≤ 1e12 ≪ 2^63. Each iteration's rank
vector is re-rounded to 12 dp, so the whole power iteration is
bit-reproducible against the unrolled-CTE SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_kafka_2_spark.operators.common import pin

#: decimal scale for rank arithmetic — 12 dp keeps ~9 significant
#: digits at rank ~1e-3 (1600-node graph) while staying far inside
#: BIGINT headroom for exact unit sums (mass ≤ 1 → sums ≤ 1e12).
_RANK_SCALE = 12
_UNIT = 10**_RANK_SCALE

#: node-id encoding: key*4 + tier. Long keys keep the three key
#: spaces disjoint while staying codegen-friendly (string-keyed joins
#: and windows measured ~2× slower across the whole query at sf0.1);
#: the human-readable label is projected once on the FINAL |V|-row
#: output, never carried through the loop.
_TIERS = (("c", 0), ("s", 1), ("p", 2))


def build_purchase_graph(
    orders: DataFrame, lineitem: DataFrame
) -> DataFrame:
    """Directed three-tier purchase graph from the order history:
    ``(src, dst, w)`` with customer→supplier edges (weighted by the
    supplier's share of that customer's total spend) unioned with
    supplier→part edges (weighted by the part's share of that
    supplier's revenue). Node ids are tier-tagged longs (``key*4 +
    tier``; see ``_TIERS``); per-src weights sum to 1 — the
    row-stochastic transition matrix PageRank walks. Parts have no
    out-edges, so the part tier is the graph's dangling frontier and
    rank must propagate two hops (c→s→p) — iteration count is
    load-bearing.

    Plan shape (r12 — ONE exchange where r11 had three): the two
    tier projections are unioned BEFORE the pair aggregate (the tier
    tag keeps the key spaces disjoint, so one aggregate over the
    union equals the per-tier aggregates exactly), the union is
    explicitly ``repartition("src")``-ed, and because hash(src)
    already CLUSTERS the (src, dst) grouping keys, Catalyst runs the
    pair aggregate AND the src-partitioned normalization window on
    that single shuffle — no ENSURE_REQUIREMENTS exchange for
    either. The orderkey equi-join feeding the customer tier stays
    broadcast-able (dimension side is two pruned columns).

    Revenue is summed as exact integer 1e-4 UNITS in BIGINT —
    ``round(round(rev, 4) * 10000, 0)`` is exactly the 4-dp decimal
    times 1e4 (the 4-dp double is within 2 ulp of d/1e4 with d ≤
    ~1.1e9 ≪ 2^53, so scaling and re-rounding recover the integer d
    exactly), and BIGINT unit sums measured ~2× faster than the
    DECIMAL(18,4) sums they replace on the high-cardinality pair
    aggregate (the grouping barely compresses: ~1.18 M edges from
    1.2 M lines at sf0.1). The share ``w`` divides the unit sums
    directly — the 1e4 scalar cancels in the reals, and the oracle
    (``pagerank_oracle_sql`` / ``ppr_oracle_sql``) computes the SAME
    division of the SAME integers, so both engines produce the
    identical correctly-rounded double at any scale. Overflow bound:
    a single src's revenue would need to exceed 2^63 units ≈ $922
    trillion before the BIGINT sum wraps (DuckDB's side is exact
    HUGEINT regardless).
    """
    units = F.round(
        F.round(
            F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")),
            4,
        )
        * 10000.0,
        0,
    ).cast("long")
    cust_supp = lineitem.join(
        orders.select("o_orderkey", "o_custkey"),
        lineitem.l_orderkey == F.col("o_orderkey"),
    ).select(
        (F.col("o_custkey") * 4).alias("src"),
        (F.col("l_suppkey") * 4 + 1).alias("dst"),
        units.alias("__u"),
    )
    supp_part = lineitem.select(
        (F.col("l_suppkey") * 4 + 1).alias("src"),
        (F.col("l_partkey") * 4 + 2).alias("dst"),
        units.alias("__u"),
    )
    edges = (
        cust_supp.union(supp_part)
        .repartition("src")
        .groupBy("src", "dst")
        .agg(F.sum("__u").alias("__eu"))
    )
    tot = F.sum("__eu").over(Window.partitionBy("src"))
    return edges.select(
        "src",
        "dst",
        (
            F.col("__eu").cast("double") / tot.cast("double")
        ).alias("w"),
    )


def node_label(name: str) -> F.Column:
    """Tier-tagged long node id column ``name`` → human-readable label
    (``'c'||custkey`` / ``'s'||suppkey`` / ``'p'||partkey``)."""
    col = F.col(name)
    key = F.expr(f"{name} div 4").cast("string")
    expr = F.lit(None).cast("string")
    for prefix, tag in _TIERS:
        expr = F.when(
            col % 4 == tag, F.concat(F.lit(prefix), key)
        ).otherwise(expr)
    return expr


def _dangling_units(ranks: DataFrame) -> int:
    """Rank mass on dangling nodes (``__dang``) in integer 1e-12
    units — a bounded 1-row scalar collect (the ``n = count()``
    rule), which also materializes the pinned rank vector."""
    return ranks.filter(F.col("__dang")).agg(
        F.coalesce(
            F.sum(F.round(F.col("rank") * F.lit(float(_UNIT)), 0).cast("long")),
            F.lit(0).cast("long"),
        ).alias("__mu")
    ).collect()[0]["__mu"]


def _contributions(edges: DataFrame, ranks: DataFrame, bc) -> DataFrame:
    """Per-destination inbound rank ``Σ r(u)·w(u,v)`` as ``(dst,
    __cu)`` in integer 1e-12 units: the rank vector (through ``bc``,
    broadcast or identity) joined onto the edges, summed by ``dst``."""
    return (
        edges.join(bc(ranks.select("node", "rank")), edges.src == F.col("node"))
        .groupBy("dst")
        .agg(
            F.sum(
                F.round(
                    F.col("rank") * F.col("w") * F.lit(float(_UNIT)), 0
                ).cast("long")
            ).alias("__cu")
        )
    )


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    damping: float = 0.85,
    iterations: int = 5,
    broadcast_nodes: int = 2_000_000,
    label: bool = False,
) -> DataFrame:
    """Weighted PageRank with dangling-mass redistribution:
    ``(node, rank)`` after ``iterations`` rounds of

        r'(v) = (1-d)/N + d·(Σ_{u→v} r(u)·w(u,v) + dangling/N)

    where ``dangling = Σ r(u)`` over nodes with no out-edges (in the
    purchase graph every part is a sink, so this term is load-bearing,
    not a formality) and ``N`` is the node count of the edge-derived
    node set. With ``label=True`` the final projection adds the
    human-readable ``node`` label for tier-tagged purchase-graph ids.

    Scale plan, audited stage by stage:

    - ``edges`` and the node set (carrying a precomputed dangling
      flag) are pinned ONCE up front: every iteration
      re-reads them, and each iteration's rank vector is consumed
      twice (contribution join + dangling aggregate) — without
      truncation the lineage re-executes the whole prefix per
      consumer, 2^k plans by iteration k (the dataflow twin of DuckDB
      inlining shared CTEs, which the oracle counters with ``AS
      MATERIALIZED``). Pinning per iteration makes the loop
      LINEAR in k: k edge-join passes total.
    - Per iteration: one bounded 1-row dangling-mass collect over the
      flagged rank vector (a scalar, like ``N`` — it doubles as the
      materialization barrier for the pinned vector), one
      rank⋈edges join, one dst-keyed sum with map-side partial
      aggregation, one join back onto the node set. The rank vector is
      |V| rows — orders of magnitude smaller than the edge table — so
      when ``|V| ≤ broadcast_nodes`` BOTH rank-sized sides are
      EXPLICITLY broadcast (rank vector into the edge join, contribs
      into the node update): the pinned edge table then never
      re-shuffles and the only exchange per iteration is the |V|-row
      partial-aggregate shuffle. Past the threshold the plan degrades
      gracefully to src/dst-keyed shuffle joins — the Pregel shape —
      which is the correct regime for billion-node graphs.
    - ``N`` is read once from the pinned node set (bounded
      driver scalar, same rule as the LSH footer counts).

    Contributions ``r(u)·w(u,v)`` are rounded to integer 1e-12 units
    and summed as BIGINTs (exact, order-independent, codegen-fast);
    each new rank is re-rounded to 12 dp — the induction that keeps
    Spark and the unrolled-CTE oracle bit-identical at every
    iteration.

    CAVEAT (rounding boundary): Spark's ``round(double, s)`` rounds
    the SHORTEST round-trip decimal repr (``BigDecimal.valueOf``)
    HALF_UP, which can differ from exact-binary-expansion rounding
    when digit s+1 of the expansion sits on a tie — adversarially
    constructible (see the planted cycle graph in tests/test_graph),
    vanishingly rare for real-valued weights, and bit-verified
    Spark≡DuckDB on the driver datasets.
    """
    edges = pin(edges)
    # the dangling flag rides the node table (r15): the per-iteration
    # left-anti join against srcs (and its broadcast build) becomes a
    # filter over the already-materialized rank vector
    srcs_flag = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.lit(True).alias("__o"))
    )
    nodes = pin(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .join(srcs_flag, on="node", how="left")
        .select("node", F.col("__o").isNull().alias("__dang"))
    )
    n = float(nodes.count())

    base = F.lit((1.0 - damping) / n)
    bc = F.broadcast if n <= broadcast_nodes else (lambda df: df)
    ranks = nodes.select(
        "node", "__dang", F.round(F.lit(1.0 / n), _RANK_SCALE).alias("rank")
    )
    for _ in range(iterations):
        # Dangling mass first: it materializes the pinned rank vector
        # before the two broadcast builds below read it.
        mu = _dangling_units(ranks)
        contribs = _contributions(edges, ranks, bc)
        ranks = pin(
            nodes.join(bc(contribs), nodes.node == contribs.dst, "left")
            .select(
                "node",
                "__dang",
                F.round(
                    base
                    + F.lit(damping)
                    * (
                        F.coalesce(
                            F.col("__cu").cast("double"), F.lit(0.0)
                        )
                        / F.lit(float(_UNIT))
                        + F.lit(int(mu)).cast("double")
                        / F.lit(float(_UNIT))
                        / F.lit(n)
                    ),
                    _RANK_SCALE,
                ).alias("rank"),
            )
        )
    out = ranks.select("node", "rank")
    if label:
        return out.select(node_label("node").alias("node"), "rank")
    return out


def pagerank_oracle_sql(
    damping: float = 0.85, iterations: int = 5
) -> str:
    """Unrolled-iteration DuckDB transcription of
    :func:`build_purchase_graph` + :func:`pagerank` (kept beside the
    operator so the rounding schedule stays in lockstep). Every
    iteration CTE is referenced ≥2× (next iteration's contribution
    join + dangling filter), so ``plans.resolve_oracle`` auto-adds
    ``AS MATERIALIZED`` — without which DuckDB's CTE inlining would
    re-evaluate the chain exponentially (the same blowup the Spark
    side's per-iteration pin prevents)."""
    s = _RANK_SCALE
    u = float(_UNIT)
    d = repr(damping)
    parts = [
        f"""
    WITH base AS (
      SELECT src, dst,
             CAST(rev AS DOUBLE) / CAST(sum(rev) OVER (PARTITION BY src)
                                        AS DOUBLE) AS w
      FROM (
        SELECT o.o_custkey * 4 AS src,
               l.l_suppkey * 4 + 1 AS dst,
               sum(CAST(round(round(l.l_extendedprice
                                    * (1 - l.l_discount), 4)
                              * 10000.0, 0) AS BIGINT)) AS rev
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
        UNION ALL
        SELECT l.l_suppkey * 4 + 1 AS src,
               l.l_partkey * 4 + 2 AS dst,
               sum(CAST(round(round(l.l_extendedprice
                                    * (1 - l.l_discount), 4)
                              * 10000.0, 0) AS BIGINT)) AS rev
        FROM lineitem l
        GROUP BY 1, 2
      )
    ),
    nodes AS (
      SELECT src AS node FROM base
      UNION
      SELECT dst FROM base
    ),
    srcs AS (SELECT DISTINCT src FROM base),
    meta AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    r0 AS (
      SELECT node, round(1.0 / (SELECT n FROM meta), {s}) AS rank
      FROM nodes
    )"""
    ]
    for i in range(iterations):
        p, q = f"r{i}", f"r{i + 1}"
        parts.append(
            f""",
    c{q} AS (
      SELECT b.dst,
             CAST(sum(CAST(round({p}.rank * b.w * {u!r}, 0) AS BIGINT))
                  AS BIGINT) AS cu
      FROM base b JOIN {p} ON {p}.node = b.src
      GROUP BY b.dst
    ),
    d{q} AS (
      SELECT CAST(coalesce(
               sum(CAST(round(rank * {u!r}, 0) AS BIGINT)), 0)
             AS BIGINT) AS mu
      FROM {p}
      WHERE NOT EXISTS (SELECT 1 FROM srcs WHERE srcs.src = {p}.node)
    ),
    {q} AS (
      SELECT n.node,
             round((1 - {d}) / (SELECT n FROM meta)
                   + {d} * (coalesce(CAST(c{q}.cu AS DOUBLE), 0.0)
                              / {u!r}
                            + CAST((SELECT mu FROM d{q}) AS DOUBLE)
                              / {u!r}
                              / (SELECT n FROM meta)),
                   {s}) AS rank
      FROM nodes n LEFT JOIN c{q} ON c{q}.dst = n.node
    )"""
        )
    parts.append(
        f"""
    SELECT CASE node % 4 WHEN 0 THEN 'c' || CAST(node // 4 AS VARCHAR)
                         WHEN 1 THEN 's' || CAST(node // 4 AS VARCHAR)
                         ELSE 'p' || CAST(node // 4 AS VARCHAR) END
             AS node,
           rank
    FROM r{iterations}
    """
    )
    return "".join(parts)


def cooccurrence_edges(
    baskets: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 1,
) -> DataFrame:
    """Distinct undirected co-occurrence edges (a, b), a < b: items
    appearing together in at least ``min_support`` baskets. Pair
    volume is bounded by Σ|basket|² per basket (baskets are small),
    never |items|².

    Plan shape (r12): the per-basket item dedup is explicitly
    ``repartition(basket_col)``-ed BEFORE the distinct — hash(basket)
    clusters the (basket, item) keys, so the dedup aggregate runs on
    that shuffle with no ENSURE_REQUIREMENTS exchange, and the
    basket self-join then finds BOTH sides already hash(basket)-
    partitioned (one ReuseExchange-d shuffle serves dedup and join:
    sort-merge with sorts only). One exchange where the naive form
    pays three, identical edge set."""
    it = (
        baskets.select(basket_col, item_col)
        .repartition(basket_col)
        .distinct()
    )
    a = it.select(F.col(basket_col).alias("__bk"), F.col(item_col).alias("a"))
    b = it.select(F.col(basket_col).alias("__bk"), F.col(item_col).alias("b"))
    pairs = a.join(b, on="__bk").filter(F.col("a") < F.col("b"))
    if min_support <= 1:
        return pairs.select("a", "b").distinct()
    return (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("__s"))
        .filter(F.col("__s") >= int(min_support))
        .select("a", "b")
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over an undirected edge list
    (columns ``a < b``, distinct): (node, n_triangles).

    DEGREE-ORDERED ORIENTATION — the published scale trick for
    distributed triangle counting (Cohen's MapReduce formulation /
    Latapy's compact-forward): orient every edge from its lower-
    (degree, id) endpoint to the higher, making the graph a DAG where
    every out-degree is O(√m), then count per EDGE (u, v) the
    intersection of the two endpoints' OUT-neighbor sets — each
    triangle is found exactly once (at its chain edge u→v with w in
    N⁺(u) ∩ N⁺(v)).

    The intersection is computed ROW-LOCALLY: out-adjacency collapses
    to one sorted array per vertex (length O(√m) by the orientation
    bound), the edge table equi-joins the two adjacency rows, and
    ``array_intersect`` runs inside codegen. This replaces the naive
    wedge-join formulation — on the sf0.1 co-purchase graph (1.2 M
    edges), Σ out-deg² is 83 M wedge rows through an exchange; the
    adjacency form shuffles only 2×|E| join rows and does the same
    comparisons in-core (measured 21 s → ~4 s). Per-vertex counts:
    u and v each credit the intersection SIZE, each w credits 1
    (explode of true triangles only — output-bounded).
    """
    edges = pin(edges)
    return _pinned_triangle_counts(edges, _degrees(edges))


def _degrees(edges: DataFrame) -> DataFrame:
    """``(node, degree)`` over an undirected edge list ``(a, b)``."""
    return (
        edges.select(F.col("a").alias("node"))
        .unionAll(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def _pinned_triangle_counts(edges: DataFrame, deg: DataFrame) -> DataFrame:
    """:func:`triangle_counts` over a pinned edge list and its
    :func:`_degrees` table, which :func:`clustering_coefficients`
    reuses."""
    e = (
        edges.join(deg.withColumnRenamed("node", "a"), "a")
        .withColumnRenamed("degree", "__da")
        .join(deg.withColumnRenamed("node", "b"), "b")
        .withColumnRenamed("degree", "__db")
    )
    a_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("a") < F.col("b"))
    )
    oriented = pin(
        e.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
        )
    )
    adj = oriented.groupBy("u").agg(
        F.array_sort(F.collect_list("v")).alias("__nbrs")
    )
    # BROADCAST the adjacency when it fits the runtime heap gate
    # (r14): the keyed joins below otherwise ship a copy of N⁺(u) and
    # N⁺(v) onto EVERY edge row — Σ(|N⁺(u)|+|N⁺(v)|) array elements
    # through the exchange, the same asymptotic volume as the wedge
    # join this formulation replaced (sf0.1: ~0.6 GB shuffled, ~5 s
    # of the operator's wall). The adjacency itself is only |E|
    # elements (~15 MB here); broadcasting it makes the edge side
    # exchange-free and the intersect runs against the in-memory map.
    # Past the gate the plan degrades to the keyed joins — the
    # correct shape for graphs whose adjacency exceeds executor heap.
    from bigdata_kafka_2_spark.operators.dedup import _broadcast_byte_cap

    n_edges = edges.count()  # bounded scalar; also materializes the pin
    adj_est_bytes = n_edges * 24  # 8 B/element + list/row overhead
    bca = (
        F.broadcast
        if adj_est_bytes <= _broadcast_byte_cap(edges.sparkSession)
        else (lambda d: d)
    )
    empty = F.array().cast("array<long>")
    joined = (
        oriented.join(
            bca(adj.select(F.col("u"), F.col("__nbrs").alias("__nu"))),
            on="u",
        )
        .join(
            bca(
                adj.select(
                    F.col("u").alias("v"), F.col("__nbrs").alias("__nv")
                )
            ),
            on="v",
            how="left",
        )
        .select(
            "u",
            "v",
            F.array_intersect(
                F.col("__nu").cast("array<long>"),
                F.coalesce(F.col("__nv").cast("array<long>"), empty),
            ).alias("__ws"),
        )
    )
    # ONE pass over `joined` (r14): the r13 shape union-ed three
    # selects over the same two-join subtree, and union branches are
    # NOT common-subexpression-eliminated — the joins ran three
    # times. Emitting all credits as one exploded struct array
    # (u and v each credit the intersection size, each w credits 1)
    # evaluates the joins once; the credit volume is identical.
    credit_arr = F.concat(
        F.array(
            F.struct(
                F.col("u").alias("node"),
                F.size("__ws").cast("long").alias("__c"),
            ),
            F.struct(
                F.col("v").alias("node"),
                F.size("__ws").cast("long").alias("__c"),
            ),
        ),
        F.transform(
            "__ws",
            lambda w: F.struct(
                w.alias("node"), F.lit(1).cast("long").alias("__c")
            ),
        ),
    )
    credits = joined.select(F.explode(credit_arr).alias("__cr")).select(
        F.col("__cr.node").alias("node"), F.col("__cr.__c").alias("__c")
    )
    return (
        credits.groupBy("node")
        .agg(F.sum("__c").alias("n_triangles"))
        .filter(F.col("n_triangles") > 0)
    )


def label_propagation(
    edges: DataFrame, iterations: int = 3
) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007), FIXED
    iteration count, fully deterministic: (node, label). Labels start
    as node ids; each round every node adopts the most frequent label
    among its neighbors, ties broken toward the SMALLEST label;
    isolated-this-round nodes keep their label. The community-
    detection complement to the dedup family's connected components
    (CC merges anything reachable; LPA finds densely-linked groups
    inside one component).

    Determinism: the argmax is ``max(struct(count, -label))`` — max
    count then min label, a total order, so the unrolled-CTE SQL
    transcription (row_number ordered by count DESC, label ASC)
    agrees bit-for-bit. Each round is one src-keyed join + one
    (node, label) map-side-combined count + one struct-max aggregate;
    the label vector is |V| rows and is pinned per round so the
    k-round lineage stays LINEAR (the PageRank rule).
    Both |V|-row sides (label vector into the edge join, per-node
    argmax into the update) broadcast below 2 M nodes — the
    pinned edge table then never re-shuffles (the q144
    discipline; above the threshold the rounds degrade to the keyed
    Pregel shuffle).

    ``edges``: undirected (a, b) distinct; both directions are walked.
    """
    both = pin(
        edges.select(
            F.col("a").alias("src"), F.col("b").alias("dst")
        ).unionAll(
            edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
        )
    )
    labels = pin(
        both.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    bc = F.broadcast if labels.count() <= 2_000_000 else (lambda d: d)
    for _ in range(iterations):
        nb = both.join(
            bc(labels.withColumnRenamed("node", "src")), on="src"
        ).select(F.col("dst").alias("node"), "label")
        counts = nb.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("__c")
        )
        best = (
            counts.groupBy("node")
            .agg(
                F.max(
                    F.struct(
                        F.col("__c"), (-F.col("label")).alias("__nl")
                    )
                ).alias("__m")
            )
            .select("node", (-F.col("__m")["__nl"]).alias("__new"))
        )
        labels = pin(
            labels.join(bc(best), on="node", how="left")
            .select(
                "node",
                F.coalesce(F.col("__new"), F.col("label")).alias("label"),
            )
        )
    return labels


def personalized_pagerank(
    spark: SparkSession,
    edges: DataFrame,
    restart: DataFrame,
    damping: float = 0.85,
    iterations: int = 5,
    broadcast_nodes: int = 2_000_000,
    label: bool = False,
) -> DataFrame:
    """Personalized (topic-sensitive) PageRank: the teleport vector
    concentrates on a RESTART SET S instead of all nodes —

        r'(v) = (1−d)·e(v) + d·(Σ_{u→v} r(u)·w(u,v) + dangling·e(v))

    with e(v) = 1/|S∩V| for v ∈ S, else 0, and r₀ = e. Rank mass
    flows outward from S through the graph, so the scores answer
    "central RELATIVE TO this seed set" — the domain-focused quality
    signal (rank pages near trusted seeds; rank suppliers/parts near
    one customer segment) where global PageRank answers "central
    overall". Same determinism discipline as :func:`pagerank`
    (integer-unit contribution sums, 12-dp re-rounding, per-iteration
    pin); members of S absent from the graph are
    ignored (e normalizes over S∩V, matching the oracle's
    membership-within-nodes count).
    """
    edges = pin(edges)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    members = restart.select(F.col(restart.columns[0]).alias("node")).distinct()
    s = float(nodes.join(members, on="node", how="left_semi").count())
    # teleport weight AND dangling flag ride the node table (r15 —
    # the pagerank shape): no per-iteration anti-join or srcs
    # broadcast build
    srcs_flag = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.lit(True).alias("__o"))
    )
    nodes = pin(
        nodes.join(
            members.withColumn("__m", F.lit(True)), on="node", how="left"
        )
        .join(srcs_flag, on="node", how="left")
        .select(
            "node",
            F.when(F.col("__m"), F.lit(1.0 / s))
            .otherwise(F.lit(0.0))
            .alias("__e"),
            F.col("__o").isNull().alias("__dang"),
        )
    )
    # The rank/node tables are |V|-row: broadcast them into each
    # iteration's joins only while |V| fits executor memory, exactly
    # like :func:`pagerank` — past the threshold the joins degrade to
    # the Pregel shuffle shape instead of OOMing every executor.
    n_nodes = nodes.count()
    bc = F.broadcast if n_nodes <= broadcast_nodes else (lambda df: df)
    ranks = nodes.select(
        "node",
        "__e",
        "__dang",
        F.round(F.col("__e"), _RANK_SCALE).alias("rank"),
    )
    for _ in range(iterations):
        # dangling mass first (see pagerank)
        mu = _dangling_units(ranks)
        contribs = _contributions(edges, ranks, bc)
        ranks = pin(
            nodes.join(bc(contribs), nodes.node == contribs.dst, "left")
            .select(
                "node",
                "__e",
                "__dang",
                F.round(
                    F.lit(1.0 - damping) * F.col("__e")
                    + F.lit(damping)
                    * (
                        F.coalesce(
                            F.col("__cu").cast("double"), F.lit(0.0)
                        )
                        / F.lit(float(_UNIT))
                        + F.lit(int(mu)).cast("double")
                        / F.lit(float(_UNIT))
                        * F.col("__e")
                    ),
                    _RANK_SCALE,
                ).alias("rank"),
            )
        )
    out = ranks.select("node", "rank")
    if label:
        return out.select(node_label("node").alias("node"), "rank")
    return out


def ppr_oracle_sql(
    restart_pred: str,
    damping: float = 0.85,
    iterations: int = 5,
) -> str:
    """Unrolled-iteration DuckDB transcription of
    :func:`personalized_pagerank` over the purchase graph;
    ``restart_pred`` is a SQL predicate over ``node`` defining the
    restart set (membership counted within the graph's node set,
    like the operator)."""
    s = _RANK_SCALE
    u = float(_UNIT)
    d = repr(damping)
    omd = repr(1.0 - damping)
    parts = [
        f"""
    WITH base AS (
      SELECT src, dst,
             CAST(rev AS DOUBLE) / CAST(sum(rev) OVER (PARTITION BY src)
                                        AS DOUBLE) AS w
      FROM (
        SELECT o.o_custkey * 4 AS src,
               l.l_suppkey * 4 + 1 AS dst,
               sum(CAST(round(round(l.l_extendedprice
                                    * (1 - l.l_discount), 4)
                              * 10000.0, 0) AS BIGINT)) AS rev
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
        UNION ALL
        SELECT l.l_suppkey * 4 + 1 AS src,
               l.l_partkey * 4 + 2 AS dst,
               sum(CAST(round(round(l.l_extendedprice
                                    * (1 - l.l_discount), 4)
                              * 10000.0, 0) AS BIGINT)) AS rev
        FROM lineitem l
        GROUP BY 1, 2
      )
    ),
    nodes0 AS (
      SELECT src AS node FROM base
      UNION
      SELECT dst FROM base
    ),
    meta_s AS (
      SELECT CAST(count(*) AS DOUBLE) AS sn
      FROM nodes0 WHERE {restart_pred}
    ),
    nodes AS (
      SELECT node,
             CASE WHEN {restart_pred}
                  THEN 1.0 / (SELECT sn FROM meta_s)
                  ELSE 0.0 END AS e
      FROM nodes0
    ),
    srcs AS (SELECT DISTINCT src FROM base),
    r0 AS (SELECT node, e, round(e, {s}) AS rank FROM nodes)"""
    ]
    for i in range(iterations):
        p, q = f"r{i}", f"r{i + 1}"
        parts.append(
            f""",
    c{q} AS (
      SELECT b.dst,
             CAST(sum(CAST(round({p}.rank * b.w * {u!r}, 0) AS BIGINT))
                  AS BIGINT) AS cu
      FROM base b JOIN {p} ON {p}.node = b.src
      GROUP BY b.dst
    ),
    d{q} AS (
      SELECT CAST(coalesce(
               sum(CAST(round(rank * {u!r}, 0) AS BIGINT)), 0)
             AS BIGINT) AS mu
      FROM {p}
      WHERE NOT EXISTS (SELECT 1 FROM srcs WHERE srcs.src = {p}.node)
    ),
    {q} AS (
      SELECT n.node, n.e,
             round({omd} * n.e
                   + {d} * (coalesce(CAST(c{q}.cu AS DOUBLE), 0.0)
                              / {u!r}
                            + CAST((SELECT mu FROM d{q}) AS DOUBLE)
                              / {u!r}
                              * n.e),
                   {s}) AS rank
      FROM nodes n LEFT JOIN c{q} ON c{q}.dst = n.node
    )"""
        )
    parts.append(
        f"""
    SELECT CASE node % 4 WHEN 0 THEN 'c' || CAST(node // 4 AS VARCHAR)
                         WHEN 1 THEN 's' || CAST(node // 4 AS VARCHAR)
                         ELSE 'p' || CAST(node // 4 AS VARCHAR) END
             AS node,
           rank
    FROM r{iterations}
    """
    )
    return "".join(parts)


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Local clustering coefficient per vertex: (node, degree,
    n_triangles, coeff) with ``coeff = triangles / C(degree, 2)``
    (0 for degree < 2) — how close each vertex's neighborhood is to
    a clique; the standard graph-cohesion signal on top of
    :func:`triangle_counts`. The edge list is pinned once and its
    degree aggregate feeds both the triangle orientation and the
    coefficient, so the caller's edge construction runs once; one
    equi-join on the (tiny) per-vertex tables, and vertices with zero
    triangles still appear (left join from the degree side).
    """
    edges = pin(edges)
    deg = _degrees(edges)
    tri = _pinned_triangle_counts(edges, deg)
    possible = F.col("degree") * (F.col("degree") - 1) / 2
    return (
        deg.join(tri, on="node", how="left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0).cast("long")).alias(
                "n_triangles"
            ),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    F.coalesce(F.col("n_triangles"), F.lit(0)) / possible,
                    4,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("coeff"),
        )
    )


def kcore(edges: DataFrame, k: int, max_rounds: int = 50) -> DataFrame:
    """K-core decomposition by iterative peeling: the MAXIMAL
    subgraph in which every node has degree ≥ k — ``(node, deg)``
    for core members, ``deg`` the within-core degree at the
    fixpoint. The graph-shaped quality/spam signal the flat degree
    filter misses: a node with 1000 low-degree neighbors dies in
    round 2, a tight clique of modest degrees survives — which is
    why k-cores find link farms and dense communities that
    per-node thresholds can't.

    Input: undirected distinct edges ``(a, b)`` with ``a < b``
    (:func:`cooccurrence_edges`' contract).

    Each round: one union + hash-aggregate degree count, a degree
    filter, and two left-semi joins restricting the edge set to
    survivors — all keyed shuffles, survivor sets shrink
    monotonically so AQE broadcasts them as soon as they fit. The
    per-round driver work is ONE bounded scalar (the survivor
    count, which doubles as the convergence test: node count
    unchanged ⇒ nothing was peeled ⇒ degrees are already the
    fixpoint). A pin per round truncates the iterative lineage (the
    pagerank/LPA discipline).
    """
    e = pin(edges.select("a", "b"))
    prev = None
    for _ in range(int(max_rounds)):
        deg = pin(
            e.select(F.col("a").alias("node"))
            .unionAll(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        surv = deg.filter(F.col("deg") >= int(k))
        n_nodes = surv.count()
        if prev is not None and n_nodes == prev:
            return surv.select(
                "node", F.col("deg").cast("long").alias("deg")
            )
        prev = n_nodes
        s = surv.select("node")
        e = pin(
            e.join(
                s.withColumnRenamed("node", "a"), on="a", how="left_semi"
            )
            .join(
                s.withColumnRenamed("node", "b"), on="b", how="left_semi"
            )
        )
    raise RuntimeError(
        f"kcore(k={k}) did not converge within {max_rounds} rounds"
    )


def adamic_adar_links(
    edges: DataFrame,
    top_k: int = 50,
    max_center_degree: int | None = None,
    auto_cap_expansion: int | None = 25_000_000,
) -> DataFrame:
    """Adamic–Adar link prediction over an undirected edge list
    (columns ``a < b``, distinct): the ``top_k`` NON-edges ranked by
    ``AA(x,y) = Σ_{z ∈ N(x)∩N(y)} 1/ln(deg z)`` (Adamic & Adar 2003)
    — common neighbors, discounted by how promiscuous each shared
    neighbor is. The link-PREDICTION member of the graph family:
    PageRank/k-core/triangles describe the graph that exists; this
    scores the edges most likely missing from it (recommendation,
    knowledge-graph completion, dedup-pair recall auditing).

    Plan shape: degrees and the symmetric neighbor table are two
    aggregates of the edge list; wedge candidates come from ONE
    equi-join of the neighbor table with itself on the shared center
    ``z`` (x < y) — Σ deg(z)² rows, the INHERENT wedge volume, which
    a dense graph turns quadratic (the 10× probe's densified
    co-purchase replica measured 438× before the cap below).
    Existing edges drop via one broadcast-able left-anti join and
    the top-k is a ``TakeOrderedAndProject`` (per-partition heaps),
    never a global sort. Each center's term ``1/ln(deg z)`` is
    rounded to 9 dp and summed as exact DECIMAL, so the score — and
    therefore the (score DESC, x, y) ranking — is partition-order-
    independent and engine-identical; only the displayed score
    re-rounds to 6 dp. Centers need deg ≥ 2 to form a wedge, so
    ln(1) = 0 never divides.

    HUB-CAP AUTO-BOUND (the ``weighted_jaccard_pairs`` budget
    discipline): one bounded scalar job measures the exact wedge
    volume Σ deg²; past ``auto_cap_expansion`` the call warns and
    proceeds with the largest ``max_center_degree`` whose measured
    Σ deg² fits — super-hub centers are EXCLUDED from the evidence
    (the standard LP-literature mitigation; a hub's 1/ln(deg) term
    is the weakest evidence in the sum, so the capped ranking loses
    little). Under the budget the measure is exact; pass
    ``auto_cap_expansion=None`` to force exactness at any volume.

    MATERIALIZATION (r12 verdict finding #1): the edge list is
    pinned once at entry — the q144/q236/q163 sibling discipline —
    because every downstream consumer (the two degree-union scans,
    the two neighbor-union scans, the wedge self-join, the left-anti
    join, and the bounded measure jobs) rescans it; callers pass
    CONSTRUCTED edge tables (q228 builds a co-occurrence join
    upstream), which would otherwise be recomputed 4+ times. Pinned
    blocks are bounded by the edge list itself (never the wedge
    volume).
    """
    e = pin(edges.select("a", "b"))
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("__deg"))
    )
    if max_center_degree is None and auto_cap_expansion is not None:
        budget = int(auto_cap_expansion)
        exp_rows = int(
            deg.filter(F.col("__deg") >= 2)
            .agg(
                F.sum(
                    F.col("__deg").cast("decimal(38,0)")
                    * F.col("__deg")
                ).alias("__e")
            )
            .collect()[0]["__e"]
            or 0
        )
        if exp_rows > budget:
            import warnings

            # one row per DISTINCT degree (bounded by the degree
            # range, never node count), cumulative Σ k·d² ascending
            per_d = (
                deg.filter(F.col("__deg") >= 2)
                .groupBy("__deg")
                .agg(F.count(F.lit(1)).alias("__k"))
            )
            w_cum = Window.orderBy(
                F.col("__deg").asc()
            ).rowsBetween(Window.unboundedPreceding, 0)
            cap_row = (
                per_d.select(
                    "__deg",
                    F.sum(
                        F.col("__k").cast("decimal(38,0)")
                        * F.col("__deg")
                        * F.col("__deg")
                    )
                    .over(w_cum)
                    .alias("__cum2"),
                )
                .filter(F.col("__cum2") <= F.lit(budget))
                .agg(F.max("__deg").alias("__cap"))
                .collect()[0]
            )
            max_center_degree = max(int(cap_row["__cap"] or 2), 2)
            warnings.warn(
                "adamic_adar_links: exact wedge volume "
                f"{exp_rows:,} rows exceeds auto_cap_expansion "
                f"{budget:,}; proceeding with max_center_degree="
                f"{max_center_degree} (centers of degree > "
                f"{max_center_degree} are dropped from the evidence "
                "— approximate ranking; pass auto_cap_expansion=None "
                "to force the exact measure)",
                UserWarning,
                stacklevel=2,
            )
    nbr = (
        e.select(F.col("a").alias("z"), F.col("b").alias("n"))
        .unionAll(e.select(F.col("b").alias("z"), F.col("a").alias("n")))
    )
    term = F.round(
        F.lit(1.0) / F.log(F.col("__deg").cast("double")), 9
    ).cast("decimal(18,9)")
    # deg-1 centers can't host a wedge AND would divide by ln(1)=0
    # (ANSI errors loudly) — drop them before the term is computed
    eligible = deg.filter(F.col("__deg") >= 2)
    if max_center_degree is not None:
        eligible = eligible.filter(
            F.col("__deg") <= int(max_center_degree)
        )
    centers = nbr.join(
        eligible.withColumnRenamed("node", "z"),
        on="z",
    ).select("z", "n", term.alias("__t"))
    left = centers.select("z", F.col("n").alias("x"), "__t")
    right = centers.select("z", F.col("n").alias("y"))
    wedges = left.join(right, on="z").filter(F.col("x") < F.col("y"))
    scored = wedges.groupBy("x", "y").agg(
        F.count(F.lit(1)).cast("long").alias("n_common"),
        F.sum("__t").alias("__score"),
    )
    non_edges = scored.join(
        e.withColumnRenamed("a", "x").withColumnRenamed("b", "y"),
        on=["x", "y"],
        how="left_anti",
    )
    return (
        non_edges.orderBy(
            F.col("__score").desc(), F.col("x"), F.col("y")
        )
        .limit(top_k)
        .select(
            "x",
            "y",
            "n_common",
            F.round(F.col("__score").cast("double"), 6).alias("aa_score"),
        )
    )


def hits(
    spark: SparkSession,
    edges: DataFrame,
    iterations: int = 5,
    broadcast_nodes: int = 2_000_000,
    label: bool = False,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) over a directed edge
    list ``(src, dst)``: ``(node, authority, hub)`` after
    ``iterations`` rounds of

        a'(v) = Σ_{u→v} h(u)   (then L1-normalize)
        h'(u) = Σ_{u→v} a'(v)  (then L1-normalize)

    — the OTHER link-quality fixpoint next to :func:`pagerank`:
    PageRank scores a node by the whole walk reaching it; HITS
    separates CURATORS (hubs pointing at good content) from CONTENT
    (authorities pointed at by good curators), the split a corpus
    team wants on seed/reference link graphs where a great index
    page should boost what it lists without itself ranking as
    content.

    Determinism (q144's induction): every score is kept 12-dp
    rounded; contributions enter as ``round(score·1e12)`` integer
    units summed per key in BIGINT — overflow-free by the L1 bound
    (Σ scores = 1 per round, so any key's sum ≤ 1e12 + |V|/2 at ANY
    graph size; see the inline note) — the L1 total is one bounded
    1-row DECIMAL(38,0) scalar over the per-key sums (the one
    quantity edge volume CAN push past 2^63), embedded back as an
    exact decimal literal, and the normalized
    score re-rounds to 12 dp — Spark and the unrolled-CTE oracle
    stay bit-identical at every round. Plan shape per round: two keyed joins (src, dst)
    with map-side-combined unit sums, both rank-sized sides
    broadcast below ``broadcast_nodes`` (above it the plan degrades
    to the Pregel shuffle shape); a pin per round keeps the 2k-join
    lineage linear. Nodes with no in-edges hold
    authority 0, no out-edges hub 0 — both stay in the output.
    """
    if iterations < 1:
        raise ValueError(
            f"hits: iterations must be >= 1, got {iterations}"
        )
    edges = pin(edges.select("src", "dst").distinct())
    nodes = pin(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    bc = F.broadcast if n <= broadcast_nodes else (lambda df: df)
    # per-KEY unit sums are BIGINT by an L1 bound — each source
    # contributes round(score·1e12) ≤ score·1e12 + 0.5 at most once
    # per key (edges are distinct), and Σ scores = 1 after each
    # normalization, so any key's sum ≤ 1e12 + |V|/2: overflow-free
    # at ANY graph size, and ~2× faster than the DECIMAL(38,0) sums
    # they replace on the edge-volume aggregate. Only the L1 TOTAL
    # (Σ over keys of per-key sums — a hub with out-degree 1e8 and
    # score 0.9 alone pushes it past 2^63) widens to DECIMAL, on the
    # |V|-row rollup where the decimal cost is negligible.
    dec = "decimal(38,0)"
    units = lambda c: F.round(  # noqa: E731
        F.col(c) * F.lit(float(_UNIT)), 0
    ).cast("long")

    def _tot_lit(raw: DataFrame, col: str) -> F.Column:
        # L1 total as a bounded 1-row DECIMAL(38,0) scalar, embedded
        # back as an exact decimal literal (bit-identical to the
        # former crossJoin(broadcast(1-row agg)) route). Collecting it
        # FIRST also materializes the pinned unit-sum table, so the
        # downstream broadcast build reads blocks.
        v = raw.agg(F.sum(F.col(col).cast(dec)).alias("__t")).collect()[0][
            "__t"
        ]
        if v is None:
            return F.lit(None).cast(dec).cast("double")
        return F.expr(f"CAST('{v}' AS {dec})").cast("double")

    hub = nodes.select(
        "node", F.round(F.lit(1.0 / float(n)), _RANK_SCALE).alias("h")
    )
    auth = None
    for _ in range(iterations):
        raw_a = pin(
            edges.join(bc(hub), edges.src == hub.node)
            .groupBy("dst")
            .agg(F.sum(units("h")).alias("__au"))
        )
        ta = _tot_lit(raw_a, "__au")
        auth = pin(
            nodes.join(bc(raw_a), nodes.node == raw_a.dst, "left")
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("__au").cast("double"), F.lit(0.0))
                    / ta,
                    _RANK_SCALE,
                ).alias("a"),
            )
        )
        raw_h = pin(
            edges.join(bc(auth), edges.dst == auth.node)
            .groupBy("src")
            .agg(F.sum(units("a")).alias("__hu"))
        )
        th = _tot_lit(raw_h, "__hu")
        hub = pin(
            nodes.join(bc(raw_h), nodes.node == raw_h.src, "left")
            .select(
                "node",
                F.round(
                    F.coalesce(F.col("__hu").cast("double"), F.lit(0.0))
                    / th,
                    _RANK_SCALE,
                ).alias("h"),
            )
        )
    out = auth.join(hub, on="node").select(
        "node",
        F.col("a").alias("authority"),
        F.col("h").alias("hub"),
    )
    if label:
        return out.select(
            node_label("node").alias("node"), "authority", "hub"
        )
    return out


def hits_oracle_sql(iterations: int = 5) -> str:
    """Unrolled-iteration DuckDB transcription of :func:`hits` over
    the distinct purchase-graph edge set (kept beside the operator so
    the rounding/normalization schedule stays in lockstep; iteration
    CTEs are referenced ≥2× so ``plans.resolve_oracle`` materializes
    them)."""
    s = _RANK_SCALE
    u = float(_UNIT)
    parts = [
        f"""
    WITH base AS (
      SELECT DISTINCT src, dst FROM (
        SELECT o.o_custkey * 4 AS src, l.l_suppkey * 4 + 1 AS dst
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        UNION ALL
        SELECT l.l_suppkey * 4 + 1, l.l_partkey * 4 + 2 FROM lineitem l
      )
    ),
    nodes AS (
      SELECT src AS node FROM base UNION SELECT dst FROM base
    ),
    meta AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    h0 AS (
      SELECT node, round(1.0 / (SELECT n FROM meta), {s}) AS h
      FROM nodes
    )"""
    ]
    for i in range(iterations):
        p, q = f"h{i}", i + 1
        parts.append(
            f""",
    ra{q} AS (
      SELECT b.dst,
             sum(CAST(round({p}.h * {u!r}, 0) AS BIGINT)) AS au
      FROM base b JOIN {p} ON {p}.node = b.src
      GROUP BY b.dst
    ),
    ta{q} AS (SELECT sum(au) AS t FROM ra{q}),
    a{q} AS (
      SELECT n.node,
             round(coalesce(CAST(au AS DOUBLE), 0.0)
                   / CAST((SELECT t FROM ta{q}) AS DOUBLE), {s}) AS a
      FROM nodes n LEFT JOIN ra{q} ON ra{q}.dst = n.node
    ),
    rh{q} AS (
      SELECT b.src,
             sum(CAST(round(a{q}.a * {u!r}, 0) AS BIGINT)) AS hu
      FROM base b JOIN a{q} ON a{q}.node = b.dst
      GROUP BY b.src
    ),
    th{q} AS (SELECT sum(hu) AS t FROM rh{q}),
    h{q} AS (
      SELECT n.node,
             round(coalesce(CAST(hu AS DOUBLE), 0.0)
                   / CAST((SELECT t FROM th{q}) AS DOUBLE), {s}) AS h
      FROM nodes n LEFT JOIN rh{q} ON rh{q}.src = n.node
    )"""
        )
    parts.append(
        f"""
    SELECT CASE node % 4 WHEN 0 THEN 'c' || CAST(node // 4 AS VARCHAR)
                         WHEN 1 THEN 's' || CAST(node // 4 AS VARCHAR)
                         ELSE 'p' || CAST(node // 4 AS VARCHAR) END
             AS node,
           a{iterations}.a AS authority, h{iterations}.h AS hub
    FROM a{iterations} JOIN h{iterations} USING (node)
    """
    )
    return "".join(parts)


def khop_reachability(
    edges: DataFrame, seeds: DataFrame, hops: int = 4
) -> DataFrame:
    """Bounded-hop reachability profile from a seed set over an
    undirected edge list (columns ``a < b``): per hop ``(hop,
    n_frontier, n_reached)`` — how many NEW nodes the hop discovers
    and the cumulative reach, hop 0 = the seeds themselves. The
    traversal member of the graph family (centrality/cores/triangles
    describe structure; this measures PROXIMITY — blast radius of a
    contaminated source, neighborhood growth around a seed corpus,
    the BFS layers behind any graph-distance feature).

    Fixed-iteration frontier expansion (the LPA/k-core loop
    discipline): each hop is ONE equi-join of the current frontier
    against the symmetric neighbor table plus a left-anti join
    against the visited set; frontier and visited are pinned per hop
    so the k-hop lineage stays linear.

    r12 plan tightening, values unchanged: the frontier and visited
    frames are node-sized and their EXACT counts are already known
    from the previous hop's bookkeeping, so both sides broadcast into
    the hop join below ``broadcast_nodes`` — the edge table then
    never re-shuffles (r11's shape re-shuffled the symmetric table
    once per hop); past the threshold the join degrades to the keyed
    Pregel shuffle, which is the correct 100 TB regime. One bounded
    count per hop, not two: ``nxt`` is anti-joined against
    ``visited``, so the sets are disjoint and the cumulative reach is
    a running Python sum.
    """
    broadcast_nodes = 2_000_000
    sym = pin(
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
    )
    frontier = pin(
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
    )
    visited = frontier
    n_frontier = frontier.count()
    reached = n_frontier
    rows = [(0, n_frontier, reached)]
    for h in range(1, hops + 1):
        bc_f = (
            F.broadcast if n_frontier <= broadcast_nodes else (lambda d: d)
        )
        bc_v = F.broadcast if reached <= broadcast_nodes else (lambda d: d)
        nxt = pin(
            sym.join(
                bc_f(frontier.withColumnRenamed("node", "u")), on="u"
            )
            .select(F.col("v").alias("node"))
            .distinct()
            .join(bc_v(visited), on="node", how="left_anti")
        )
        visited = pin(visited.unionAll(nxt))
        frontier = nxt
        n_frontier = nxt.count()
        reached += n_frontier
        rows.append((h, n_frontier, reached))
    spark = edges.sparkSession
    return spark.createDataFrame(
        rows, "hop int, n_frontier bigint, n_reached bigint"
    )
