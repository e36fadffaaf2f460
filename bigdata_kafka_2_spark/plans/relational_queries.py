"""Relational queries (SURVEY.md §2.2-2.6 + §2.11 gap table).

Each query composes operators from ``operators.relational`` over the
driver star schema and carries its DuckDB oracle. Aliases, rounding and
tie-breaks follow the registry rules (``plans/__init__.py``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_kafka_2_spark.io import read_table
from bigdata_kafka_2_spark.operators import relational as R
from bigdata_kafka_2_spark.plans import register


# --- Flagship: TPC-H Q1-shaped pricing summary --------------------------

@register(
    "q01_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(qty), 2) AS DOUBLE)                           AS sum_qty,
           CAST(round(sum(price), 2) AS DOUBLE)                         AS sum_base_price,
           CAST(round(sum(price * (1 - disc)), 2) AS DOUBLE)            AS sum_disc_price,
           CAST(round(sum(price * (1 - disc) * (1 + tax)), 2) AS DOUBLE) AS sum_charge,
           round(avg(qty), 4)                                           AS avg_qty,
           round(avg(price), 4)                                         AS avg_price,
           round(avg(disc), 4)                                          AS avg_disc,
           count(*)                                                     AS count_order
    FROM (SELECT l_returnflag, l_linestatus,
                 CAST(l_quantity AS DECIMAL(15,2))      AS qty,
                 CAST(l_extendedprice AS DECIMAL(15,2)) AS price,
                 CAST(l_discount AS DECIMAL(15,2))      AS disc,
                 CAST(l_tax AS DECIMAL(15,2))           AS tax
          FROM lineitem
          WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00')
    GROUP BY l_returnflag, l_linestatus
    """,
    description="TPC-H Q1 pricing summary: scan+filter+8-agg groupBy "
    "(flagship; generalizes A1/A2 to the full agg surface). Measures "
    "are cast to TPC-H's DECIMAL(15,2), so sums and averages are "
    "exact and independent of summation order.",
    tags=("aggregate", "flagship"),
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_table(spark, sf_dir, "lineitem")
    qty, price, disc, tax = (
        F.col(c).cast("decimal(15,2)")
        for c in ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    )
    disc_price = price * (1 - disc)
    n = F.count(F.lit(1))

    def rounded(agg, scale: int):
        return F.round(agg, scale).cast("double")

    return (
        l.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            rounded(F.sum(qty), 2).alias("sum_qty"),
            rounded(F.sum(price), 2).alias("sum_base_price"),
            rounded(F.sum(disc_price), 2).alias("sum_disc_price"),
            rounded(F.sum(disc_price * (1 + tax)), 2).alias("sum_charge"),
            # exact decimal quotients: avg() of a DECIMAL(15,2) rounds
            # at 6 dp first, and a second rounding to 4 dp can differ
            # from the oracle's single rounding
            rounded(F.sum(qty) / n, 4).alias("avg_qty"),
            rounded(F.sum(price) / n, 4).alias("avg_price"),
            rounded(F.sum(disc) / n, 4).alias("avg_disc"),
            n.alias("count_order"),
        )
    )


# --- P6: equality point lookup ------------------------------------------

@register(
    "q02_point_lookup",
    oracle="""
    SELECT o_orderkey, o_custkey, o_orderstatus,
           round(o_totalprice, 2) AS total_price
    FROM orders WHERE o_orderkey = 42
    """,
    description="Equality point lookup (P6, README.md:122-126 "
    "/food_details) — pushed to the parquet scan.",
    tags=("filter",),
)
def q02_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return R.point_lookup(o, "o_orderkey", 42).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("total_price"),
    )


# --- P7/P8: lowercase substring containment (allergen query shape) ------

@register(
    "q03_substring_filter",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE contains(lower(text), 'stream')
    """,
    description="Case-insensitive substring filter (P7+P8, "
    "README.md:116-120,92 /find_allergen) on documents.text.",
    tags=("filter", "text"),
)
def q03_substring_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = read_table(spark, sf_dir, "documents")
    return R.substring_filter(d, "text", "stream").select("doc_id", "lang", "n_chars")


# --- P5 + A2: conditional label + class balance -------------------------

@register(
    "q04_conditional_label_balance",
    oracle="""
    SELECT CASE WHEN l_quantity > 20.0 THEN 1.0 ELSE 0.0 END AS is_high_qty,
           count(*) AS n
    FROM lineitem GROUP BY 1
    """,
    description="Derived conditional label + group count — the "
    "is_high_protein labeling + class-balance check "
    "(P5+A2, spark_model_trainer.py:151-156), thresholds per "
    "spark_model_trainer.py:43.",
    tags=("filter", "aggregate"),
)
def q04_conditional_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_table(spark, sf_dir, "lineitem")
    labeled = R.conditional_label(l, "is_high_qty", F.col("l_quantity") > 20.0)
    return R.grouped_count(labeled, "is_high_qty")


# --- A2: plain grouped count -------------------------------------------

@register(
    "q05_groupby_count",
    oracle="SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
    description="Group-by count (A2, spark_model_trainer.py:156).",
    tags=("aggregate",),
)
def q05_groupby_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    return R.grouped_count(e, "event_type")


# --- Joins (§2.4 gap) ---------------------------------------------------

@register(
    "q06_join_broadcast_dim",
    oracle="""
    SELECT p_brand,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
    description="Fact-to-dim broadcast equi-join + grouped agg: revenue "
    "per brand. Dim side broadcast — no fact shuffle.",
    tags=("join", "aggregate"),
)
def q06_join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_table(spark, sf_dir, "lineitem")
    p = read_table(spark, sf_dir, "part")
    joined = R.dim_join(l, p, on=l.l_partkey == p.p_partkey)
    return joined.groupBy("p_brand").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@register(
    "q07_multiway_join_revenue",
    oracle="""
    SELECT n_name, r_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM lineitem
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name, r_name
    """,
    description="TPC-H Q5-shaped 5-way star join: fact-fact shuffle join "
    "(lineitem-orders) + broadcast dims; date-range filter pushed down.",
    tags=("join", "aggregate", "flagship"),
)
def q07_multiway_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    r = read_table(spark, sf_dir, "region")
    # lineitem⋈orders is the fact-fact shuffle join; customer/nation/region
    # are broadcast dims.
    joined = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    )
    return joined.groupBy("n_name", "r_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


@register(
    "q08_semi_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
    description="Left-semi join (EXISTS): customers having orders, per "
    "segment (§2.11 gap).",
    tags=("join",),
)
def q08_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    has_orders = R.semi_join(c, o, on=c.c_custkey == o.o_custkey)
    return R.grouped_count(has_orders, "c_mktsegment", out_col="n_customers")


@register(
    "q09_anti_join",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (
      SELECT 1 FROM orders
      WHERE o_custkey = c_custkey AND o_orderstatus = 'F'
    )
    GROUP BY c_mktsegment
    """,
    description="Left-anti join (NOT EXISTS): customers with no "
    "finished ('F') order, per segment (§2.11 gap). The status "
    "filter keeps the result NON-empty on the driver data "
    "(every customer has some order, so the unfiltered variant "
    "validated nothing).",
    tags=("join",),
)
def q09_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    no_f_orders = R.anti_join(c, o, on=c.c_custkey == o.o_custkey)
    return R.grouped_count(no_f_orders, "c_mktsegment", out_col="n_customers")


# --- Sorts / top-k (L1/L2 generalized) ----------------------------------

@register(
    "q10_global_topk",
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 2) AS total_price
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 10
    """,
    description="Global top-k (orderBy+limit → TakeOrderedAndProject; "
    "no full sort). Tie-broken on o_orderkey for determinism "
    "(fixes the limit flaw noted at spark_model_trainer.py:226).",
    tags=("sort", "limit"),
)
def q10_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return R.top_k(
        o, [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()], 10
    ).select("o_orderkey", F.round("o_totalprice", 2).alias("total_price"))


@register(
    "q11_topk_per_group",
    oracle="""
    SELECT c_mktsegment, o_orderkey, round(o_totalprice, 2) AS total_price, rn
    FROM (
      SELECT c_mktsegment, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY c_mktsegment
               ORDER BY o_totalprice DESC, o_orderkey ASC
             ) AS rn
      FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rn <= 3
    """,
    description="Top-k per group via row_number window (L2 generalized; "
    "single shuffle on the group key).",
    tags=("window", "join", "limit"),
)
def q11_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    joined = R.dim_join(o, c, on=o.o_custkey == c.c_custkey)
    top = R.top_k_per_group(
        joined,
        ["c_mktsegment"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        3,
    )
    return top.select(
        "c_mktsegment",
        "o_orderkey",
        F.round("o_totalprice", 2).alias("total_price"),
        F.col("rn").cast("long").alias("rn"),
    )


@register(
    "q12_running_sum_window",
    oracle="""
    SELECT event_id, user_id,
           round(sum(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 2) AS running_value
    FROM events
    """,
    description="Analytic window: per-user running sum over event time "
    "(§2.11 gap; row frame, deterministic via event_id tie-break).",
    tags=("window",),
)
def q12_running_sum_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


# --- Distinct / set ops (§2.11 gap) -------------------------------------

@register(
    "q13_distinct",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    description="Distinct pairs (hash aggregate with map-side partials).",
    tags=("distinct",),
)
def q13_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_table(spark, sf_dir, "lineitem")
    return l.select("l_returnflag", "l_linestatus").distinct()


@register(
    "q14_set_ops",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
    description="Set difference: customers with finished but no open "
    "orders (§2.11 gap; EXCEPT = distinct anti semantics).",
    tags=("setop",),
)
def q14_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    f_cust = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_cust = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    # subtract == SQL EXCEPT (distinct semantics); exceptAll would keep
    # multiplicities, which EXCEPT does not.
    return f_cust.subtract(o_cust)


# --- Date/time functions (§2.6 gap) -------------------------------------

@register(
    "q15_orders_by_month",
    oracle="""
    SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m') AS order_month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS month_revenue
    FROM orders GROUP BY 1
    """,
    description="Date-truncated monthly aggregate (date functions gap; "
    "month formatted to string for oracle-stable comparison).",
    tags=("date", "aggregate"),
)
def q15_orders_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM").alias(
                "order_month"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("month_revenue"),
        )
    )


# --- Rollup / pivot (§2.11 gap) -----------------------------------------

@register(
    "q16_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    description="Hierarchical rollup totals (grouping-sets gap).",
    tags=("aggregate", "rollup"),
)
def q16_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_table(spark, sf_dir, "lineitem")
    return l.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "q17_pivot",
    oracle="""
    SELECT l_returnflag,
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS qty_open,
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS qty_filled
    FROM lineitem GROUP BY l_returnflag
    """,
    description="Pivot linestatus into columns (pivot gap; oracle uses "
    "FILTER conditional aggregation).",
    tags=("pivot", "aggregate"),
)
def q17_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_table(spark, sf_dir, "lineitem")
    p = (
        l.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return p.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_filled"),
    )


# --- Exact distinct counts ----------------------------------------------

@register(
    "q18_count_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
    description="Exact distinct aggregation (distinct gap; Spark plans "
    "expand+two-phase agg). approx_count_distinct is the "
    "scale path but is not oracle-comparable (HLL differs).",
    tags=("distinct", "aggregate"),
)
def q18_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_table(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


# --- L1: deterministic cumulative slice ---------------------------------

@register(
    "q19_cumulative_slice",
    oracle="""
    SELECT l_orderkey, l_linenumber, round(l_quantity, 2) AS qty
    FROM (
      SELECT l_orderkey, l_linenumber, l_quantity,
             row_number() OVER (ORDER BY l_orderkey, l_linenumber) AS rn
      FROM lineitem
    ) WHERE rn <= 1000
    """,
    description="Deterministic first-n cumulative slice (L1): row_number "
    "over a total order replaces the reference's order-unstable "
    "limit(n) (spark_model_trainer.py:210-226). Range-bucketed "
    "ranking — no single-partition window; buckets past rank n "
    "never enter the ranking shuffle.",
    tags=("limit", "window"),
)
def q19_cumulative_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = read_table(spark, sf_dir, "lineitem")
    return R.cumulative_slice(l, ["l_orderkey", "l_linenumber"], 1000).select(
        "l_orderkey", "l_linenumber", F.round("l_quantity", 2).alias("qty")
    )


# --- F4: JSON codec ------------------------------------------------------

@register(
    "q20_json_extract",
    oracle="""
    SELECT event_type,
           round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    description="JSON deserialization of the props payload (F4 — the "
    "Kafka value codec semantics, producer.py:28 / "
    "batch_writer_consumer.py:31) + aggregate.",
    tags=("json", "aggregate"),
)
def q20_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.count(F.lit(1)).alias("n"),
    )
