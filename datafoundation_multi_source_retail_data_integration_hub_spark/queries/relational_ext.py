"""Extended relational coverage: supplier-side star join, semi/anti joins,
correlated-style top-1-per-group.

Rounds out the join-type inventory beyond the reference's inner/left
equi-joins (SURVEY §2.3 notes the set-based SCD2 rewrite implies anti
joins; these make semi/anti first-class, oracle-checked operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.parity import (
    fixed_avg,
    fixed_sum,
    fixed_sum_dec,
    round_dp,
    sql_round_dp,
    sql_stable_avg,
    sql_stable_sum,
)
from ..sources.tables import load_tables

# ONE spelling of the revenue invariant and its decimal scales — a
# hand-typed copy drifting one character from the oracle twin is a
# silent parity failure, not a compile error
from .relational import _SQL_REVENUE, DP_MONEY, DP_REVENUE  # noqa: E402


def supplier_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: revenue by supplier nation where supplier and
    customer share the nation — exercises the supplier leg of the star."""
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "customer", "supplier", "nation"
    )
    joined = (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return joined.groupBy(F.col("n_name").alias("nation_name")).agg(
        fixed_sum(_SQL_REVENUE, DP_REVENUE).alias("revenue"),
        F.count("*").alias("n_lineitems"),
    )


SUPPLIER_NATION_ORACLE = f"""
SELECT n_name AS nation_name,
       {sql_stable_sum(_SQL_REVENUE)} AS revenue,
       count(*) AS n_lineitems
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE c_nationkey = s_nationkey
GROUP BY 1
"""


def customers_without_open_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers having no order with status 'O'."""
    t = load_tables(spark, sf_dir, "orders", "customer")
    open_orders = t["orders"].filter(F.col("o_orderstatus") == "O")
    return (
        t["customer"]
        .join(open_orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


CUSTOMERS_WITHOUT_OPEN_ORACLE = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O'
)
"""


def parts_with_bulk_lineitems(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join: parts that appear in at least one bulk (qty >= 45) line."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    bulk = t["lineitem"].filter(F.col("l_quantity") >= 45)
    return (
        t["part"]
        .join(bulk, F.col("p_partkey") == F.col("l_partkey"), "left_semi")
        .select("p_partkey", "p_name", "p_type")
    )


PARTS_WITH_BULK_ORACLE = """
SELECT p_partkey, p_name, p_type
FROM part
WHERE EXISTS (
  SELECT 1 FROM lineitem WHERE l_partkey = p_partkey AND l_quantity >= 45
)
"""


def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1-per-group (greatest-n-per-group): each customer's most recent
    order — the window-dedup pattern the dashboard's 'latest state' slices
    need; deterministic tie-break on the order key."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


LATEST_ORDER_ORACLE = """
SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice FROM (
  SELECT *, row_number() OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
  FROM orders
) WHERE rn = 1
"""


def weekend_weekday_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference query #5 'Weekend vs Weekday — Day-of-week sales patterns'
    (README.md:289): F8 calendar attrs applied to the fact."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return (
        orders.withColumn(
            "is_weekend", (F.weekday("o_orderdate") >= 5).cast("int")
        )
        .groupBy("is_weekend")
        .agg(
            fixed_sum("o_totalprice", DP_MONEY).alias("sales"),
            F.count("*").alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
    )


WEEKEND_ORACLE = f"""
SELECT CAST(CASE WHEN isodow(o_orderdate) >= 6 THEN 1 ELSE 0 END AS INTEGER)
         AS is_weekend,
       {sql_stable_sum("o_totalprice")} AS sales,
       count(*) AS n_orders,
       count(DISTINCT o_custkey) AS n_customers
FROM orders GROUP BY 1
"""


def nation_purchasing_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference query #4 'Gender Analysis — purchasing patterns by
    demographic attribute' (README.md:288) mapped onto the corpus's
    demographic dimension (customer nation)."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    return (
        t["orders"]
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            fixed_sum("o_totalprice", DP_MONEY).alias("total_spend"),
            fixed_avg("o_totalprice", 2).alias("avg_order_value"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count("*").alias("n_orders"),
        )
    )


NATION_PATTERNS_ORACLE = f"""
SELECT n_name AS nation_name,
       {sql_stable_sum("o_totalprice")} AS total_spend,
       {sql_stable_avg("o_totalprice")} AS avg_order_value,
       count(DISTINCT o_custkey) AS n_customers,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1
"""


def product_catalog_overview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference query #7 'Product Catalog — API product catalog overview'
    (README.md:292) over the part table."""
    part = load_tables(spark, sf_dir, "part")["part"]
    return part.groupBy(F.col("p_type").alias("product_type")).agg(
        F.count("*").alias("n_products"),
        F.countDistinct("p_brand").alias("n_brands"),
        fixed_avg("p_retailprice", 2).alias("avg_price"),
        round_dp(F.min("p_retailprice")).alias("min_price"),
        round_dp(F.max("p_retailprice")).alias("max_price"),
    )


CATALOG_ORACLE = f"""
SELECT p_type AS product_type,
       count(*) AS n_products,
       count(DISTINCT p_brand) AS n_brands,
       {sql_stable_avg("p_retailprice")} AS avg_price,
       {sql_round_dp("min(p_retailprice)")} AS min_price,
       {sql_round_dp("max(p_retailprice)")} AS max_price
FROM part GROUP BY 1
"""


def shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 open orders by pending revenue for one
    market segment — filter both join sides, aggregate, global top-k."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer")
    cust = t["customer"].filter(F.col("c_mktsegment") == "BUILDING")
    orders = t["orders"].filter(F.col("o_orderstatus") != "F")
    li = t["lineitem"]
    agg = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"), "left_semi")
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            fixed_sum_dec(_SQL_REVENUE, DP_REVENUE).alias("rev_dec")
        )
    )
    return (
        agg.orderBy(F.col("rev_dec").desc(), F.col("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            "o_orderdate",
            "o_orderpriority",
            round_dp(F.col("rev_dec").cast("double")).alias("revenue"),
        )
    )


SHIPPING_PRIORITY_ORACLE = f"""
WITH agg AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         sum(CAST({_SQL_REVENUE} AS DECIMAL(27,6))) AS rev_dec
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus <> 'F'
    AND EXISTS (SELECT 1 FROM customer
                WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
  GROUP BY 1, 2, 3
)
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {sql_round_dp("CAST(rev_dec AS DOUBLE)")} AS revenue
FROM agg ORDER BY rev_dec DESC, l_orderkey LIMIT 10
"""


def large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers whose single orders exceed a quantity
    threshold — grouped HAVING filter."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer")
    big_orders = (
        t["lineitem"]
        .groupBy("l_orderkey")
        # exact fixed-point sum (the parity pair of the oracle's
        # decimal sum): a plain double sum is partial-agg-order
        # dependent and can land across a rounding midpoint
        .agg(fixed_sum("l_quantity", DP_MONEY).alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big_orders.join(
            t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
        )
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
    )


LARGE_VOLUME_ORACLE = f"""
WITH big AS (
  SELECT l_orderkey, {sql_stable_sum("l_quantity")} AS total_qty
  FROM lineitem GROUP BY 1 HAVING {sql_stable_sum("l_quantity")} > 150
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, total_qty
FROM big
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


# ---------------------------------------------------------------------------
# Iterative graph analytics: PageRank over the bipartite customer-supplier
# purchase graph. Demonstrates the iterative-DataFrame-algorithm class
# (fixed iteration count, per-iteration shuffle on the destination node)
# with full cross-engine bit parity: ranks are EXACT LONG fixed-point
# units (1 unit = 1e-12 of rank mass) and every per-iteration operation
# is integer arithmetic — ``(ru * w) div outw`` contributions, exact long
# in-sums, damping as ``(17 * s) div 20`` — so the rank vector is
# IDENTICAL in any engine, with no float anywhere until never (the output
# column IS the units). A first cut accumulated double contributions
# through DECIMAL(38,18) and still drifted a few ulps: Spark's
# double->decimal cast rounds the SHORTEST DECIMAL REPR (same
# BigDecimal.valueOf trap as builtin round()) while DuckDB rounds the
# binary value — at scale 18 on arbitrary doubles that bites, so the
# integer form is the correct parity design, not just the faster one.
# Scale shape: rank and out-weight tables are node-sized (AQE broadcasts
# at test scale, shuffle-joins at corpus scale); each iteration moves the
# edge list through ONE exchange on the destination node. Domain: unit
# mass is 1e12, so ``ru * w`` stays inside long for edge weights up to
# ~9e6 lineitems per (customer, supplier) pair.
# ---------------------------------------------------------------------------

PR_ITERS = 3
PR_E12 = 10**12  # fixed-point unit: 1e-12 of total rank mass


def purchase_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 nodes by fixed-point PageRank (``PR_ITERS`` iterations,
    damping 17/20) on the undirected customer-supplier purchase graph,
    edge weight = lineitem count between the pair. Node ids are longs
    (customer 2k, supplier 2k+1) until the final 20-row presentation.
    Every node has in- and out-edges by construction (the graph is
    symmetric), so there is no dangling mass.

    Planned in a child session with a low shuffle-partition count: every
    exchange here carries node- or edge-sized data, and 3 iterations x
    32 near-empty partitions is pure task-launch overhead at bench scale
    (measured 8.0 -> 6.2 s at sf0.1). The count is DERIVED from the
    input bytes (floor 4 = the measured local optimum, capped at one
    wave of tasks, +1 per 64 MB of lineitem+orders): the r14 sf10 sweep
    OOM'd the edge-build sort with the old constant 4 at 60M lineitem
    rows — a fixed count is a scale bug, not a conf."""
    from ..session import child_session
    from ..sources.tables import scaled_shuffle_partitions

    n_shuffle = scaled_shuffle_partitions(
        spark, sf_dir, ("lineitem", "orders"), 4
    )
    return _purchase_graph_pagerank(
        child_session(spark, {"spark.sql.shuffle.partitions": str(n_shuffle)}),
        sf_dir,
    )


def _pagerank_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full final rank vector ``(node, ru)`` — the iteration core; the
    public query presents its top-20. Exposed separately so property
    tests can check mass conservation over the WHOLE vector."""
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    pairs = (
        t["lineitem"]
        .join(
            t["orders"].select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            (F.col("o_custkey") * 2).alias("a"),
            (F.col("l_suppkey") * 2 + 1).alias("b"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    edges = pairs.unionByName(
        pairs.select(F.col("b").alias("a"), F.col("a").alias("b"), "w")
    )
    outw = edges.groupBy("a").agg(F.sum("w").alias("outw"))
    # (a, b, w, outw) materialized once; every iteration rescans this.
    # The node list and initial ranks derive from e2, NOT from the
    # pre-checkpoint outw — deriving from outw re-ran the whole
    # edge-build twice more (measured 1.6 s + 1.7 s at sf0.1)
    e2 = edges.join(outw, "a").localCheckpoint(eager=True)
    nodes = e2.select("a").distinct().localCheckpoint(eager=True)
    n = nodes.count()
    base_u = (3 * PR_E12) // (20 * n)  # (1 - damp) / n in units
    ranks = nodes.select(
        F.col("a").alias("node"), F.lit(PR_E12 // n).cast("long").alias("ru")
    )
    for _ in range(PR_ITERS):
        contrib = e2.join(ranks, e2["a"] == ranks["node"]).select(
            F.col("b").alias("node"),
            F.expr("(ru * w) div outw").alias("cu"),
        )
        ranks = contrib.groupBy("node").agg(
            (F.lit(base_u) + F.expr("(17 * sum(cu)) div 20"))
            .cast("long")
            .alias("ru")
        )
    return ranks


def _purchase_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranks = _pagerank_ranks(spark, sf_dir)
    top = ranks.orderBy(F.col("ru").desc(), "node").limit(20)
    w20 = Window.orderBy(F.col("ru").desc(), "node")
    return top.select(
        F.when(F.col("node") % 2 == 0, F.concat(F.lit("c:"), (F.col("node") / 2).cast("long")))
        .otherwise(F.concat(F.lit("s:"), ((F.col("node") - 1) / 2).cast("long")))
        .alias("node"),
        F.col("ru").alias("rank_units"),
        F.row_number().over(w20).cast("int").alias("pos"),
    )


def _sql_pagerank_oracle() -> str:
    def step(prev: str, this: str) -> str:
        return f"""{this} AS (
  SELECT e.b AS node,
         (SELECT bu FROM nn) + (17 * sum((r.ru * e.w) // e.outw)) // 20 AS ru
  FROM e2 e JOIN {prev} r ON e.a = r.node
  GROUP BY e.b
)"""

    steps = ",\n".join(step(f"r{i}", f"r{i + 1}") for i in range(PR_ITERS))
    return f"""
WITH pairs AS (
  SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b, count(*) AS w
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2
),
edges AS (SELECT a, b, w FROM pairs UNION ALL SELECT b, a, w FROM pairs),
outw AS (SELECT a, sum(w) AS outw FROM edges GROUP BY 1),
e2 AS (SELECT e.a, e.b, e.w, o.outw FROM edges e JOIN outw o USING (a)),
nn AS (
  SELECT count(*) AS n,
         {3 * PR_E12} // (20 * count(*)) AS bu,
         {PR_E12} // count(*) AS r0u
  FROM outw
),
r0 AS (SELECT a AS node, (SELECT r0u FROM nn) AS ru FROM outw),
{steps},
top AS (
  SELECT node, ru,
         CAST(row_number() OVER (ORDER BY ru DESC, node) AS INTEGER) AS pos
  FROM r{PR_ITERS}
  ORDER BY ru DESC, node LIMIT 20
)
SELECT CASE WHEN node % 2 = 0 THEN 'c:' || (node // 2)
            ELSE 's:' || ((node - 1) // 2) END AS node,
       -- ru descends from sum(BIGINT) (HUGEINT in DuckDB); pandas
       -- canonicalizes HUGEINT to float64, breaking the raw-value hash
       -- vs Spark's int64 — pin the client dtype at the projection.
       CAST(ru AS BIGINT) AS rank_units,
       pos
FROM top
"""


QUERIES = {
    "shipping_priority_top10": shipping_priority_top10,
    "large_volume_customers": large_volume_customers,
    "supplier_nation_volume": supplier_nation_volume,
    "customers_without_open_orders": customers_without_open_orders,
    "parts_with_bulk_lineitems": parts_with_bulk_lineitems,
    "latest_order_per_customer": latest_order_per_customer,
    "weekend_weekday_sales": weekend_weekday_sales,
    "nation_purchasing_patterns": nation_purchasing_patterns,
    "product_catalog_overview": product_catalog_overview,
    "purchase_graph_pagerank": purchase_graph_pagerank,
}

ORACLES = {
    "shipping_priority_top10": SHIPPING_PRIORITY_ORACLE,
    "large_volume_customers": LARGE_VOLUME_ORACLE,
    "supplier_nation_volume": SUPPLIER_NATION_ORACLE,
    "customers_without_open_orders": CUSTOMERS_WITHOUT_OPEN_ORACLE,
    "parts_with_bulk_lineitems": PARTS_WITH_BULK_ORACLE,
    "latest_order_per_customer": LATEST_ORDER_ORACLE,
    "weekend_weekday_sales": WEEKEND_ORACLE,
    "nation_purchasing_patterns": NATION_PATTERNS_ORACLE,
    "product_catalog_overview": CATALOG_ORACLE,
    "purchase_graph_pagerank": _sql_pagerank_oracle(),
}
