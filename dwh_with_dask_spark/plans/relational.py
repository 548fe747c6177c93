"""Relational query suite (SURVEY.md §2B capability surface).

Every query here is a declarative DataFrame/SQL plan — Catalyst supplies
predicate pushdown, column pruning, join selection (broadcast for the
dimension tables), partial aggregation, and TopK rewrite. Double
aggregates use the decimal-sum idiom (functions.numeric.dsum) so results
are order-independent and hash-match the DuckDB oracle bit-for-bit.

Each query has a twin entry in ORACLES: the same semantics in ANSI SQL
for DuckDB. Computed columns are aliased identically on both sides (the
driver sorts columns by name before hashing).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dwh_with_dask_spark.catalog import load_table, register_views
from dwh_with_dask_spark.functions.numeric import dsum, exact_group_sums
from dwh_with_dask_spark.operators.joins import asof_join, range_join
from dwh_with_dask_spark.operators.dedup import text_tokens
from dwh_with_dask_spark.operators.sessionize import sessionize_by_gap

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# --------------------------------------------------------------------------
# Aggregation core
# --------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(23,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,4))) AS DOUBLE)
               AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(23,6)))
               AS DOUBLE) AS sum_charge,
           SUM(l_quantity) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(23,2))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(23,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: scan → filter → two-level agg.

    Filter and the 7-column projection push into the parquet scan. The
    exact order-independent sums run as scaled-long partials per
    (group, partition) — codegen long adds on the data path — with
    decimal finalization over the tiny partial table
    (functions.numeric.exact_group_sums): same bit-exact results as the
    pure-decimal ``dsum`` idiom at ~2x the scan throughput.

    Profiled at sf0.1 (medians): pure-decimal dsum ~1.0 s → scaled-long
    with F.round ~0.54 s → with F.rint ~0.40 s (round() on doubles
    allocates a BigDecimal per row; rint is one FP instruction). The
    remaining gap to the floor is the price of determinism, not waste:
    a PLAIN double aggregation of the same measures (order-dependent,
    engine-run-dependent last bits) measures ~0.30 s, and the empty-job
    + scan floor is ~0.20 s — so the exact idiom costs ~0.1 s over the
    fastest possible non-deterministic plan at this scale.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    sums = exact_group_sums(
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")),
        keys=["l_returnflag", "l_linestatus"],
        measures={
            "sum_base_price": (F.col("l_extendedprice"), 2),
            "sum_disc_price": (disc_price, 4),
            "sum_charge": (charge, 6),
            "__sum_disc": (F.col("l_discount"), 2),
        },
        plain_sums={"sum_qty": F.col("l_quantity")},
        count_alias="count_order",
    )
    n = F.col("count_order")
    return sums.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        "sum_charge",
        (F.col("sum_qty") / n).alias("avg_qty"),
        (F.col("sum_base_price") / n).alias("avg_price"),
        (F.col("__sum_disc") / n).alias("avg_disc"),
        "count_order",
    )


@query(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,4))) AS DOUBLE)
               AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-30'
      AND l_shipdate > TIMESTAMP '1997-06-30'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped: selective dim filter → fact join → agg → top-k.

    customer grows with the scale factor, so it carries NO broadcast
    hint: at small SF the size-based planner / AQE picks a broadcast
    join on its own, and at warehouse SF it correctly falls back to a
    shuffle join instead of OOMing on a forced multi-GB broadcast.
    Top-10 runs as TakeOrderedAndProject (no global sort
    materialization).
    """
    return q3_shape(
        load_table(spark, sf_dir, "lineitem"),
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )


def q3_shape(li: DataFrame, o: DataFrame, c: DataFrame) -> DataFrame:
    """The Q3 plan shape over caller-supplied base frames — shared by
    ``q3_shipping_priority`` (plain parquet scans) and the
    bucketed-storage evidence leg (tables bucketed on orderkey, where
    the fact-side join and the l_orderkey aggregate both inherit the
    bucket partitioning and run with NO Exchange; see
    tests/test_plans.py::test_q3_bucketed_fact_join_no_exchange and
    BENCH_SCALE.md's round-14 section)."""
    cutoff = F.lit("1997-06-30").cast("timestamp")
    c = c.filter(F.col("c_mktsegment") == "BUILDING")
    o = o.filter(F.col("o_orderdate") < cutoff)
    li = li.filter(F.col("l_shipdate") > cutoff)
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum(revenue, 4).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(23,4))) AS DOUBLE)
               AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join.

    region (5 rows) and nation (25 rows) are broadcast-hinted — their
    cardinality is FIXED regardless of scale factor, so the hint is
    always safe. supplier and customer scale with SF and are left
    unhinted: the size-based planner / AQE broadcasts them at small SF
    and shuffles them at warehouse SF. The only mandatory shuffle is
    orders⋈lineitem on orderkey.
    """
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(revenue, 4).alias("revenue"))
        # exact_group_sums was tried here and measured SLOWER: after the
        # join the row count is modest, so the decimal casts are cheap
        # and the two-level structure only adds a shuffle. The scaled-
        # long path pays off on wide scans (q1), not post-join aggs.
    )


@query(
    "q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(volume AS DECIMAL(23,4))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
        JOIN lineitem ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_12' AND n2.n_name = 'NATION_10')
          OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_12'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01')
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-shaped: nation-pair trade volume by year.

    The two nation lookups broadcast; the disjunctive nation-pair
    predicate sits ABOVE both joins (it spans the supplier and customer
    sides, so it cannot push below either one alone — Catalyst still
    pushes the per-side IN ('NATION_12','NATION_10') implication down via
    constraint propagation is not guaranteed, so the date filter on
    lineitem does the heavy pruning at the scan)."""
    cut_lo = F.lit("1996-01-01").cast("timestamp")
    cut_hi = F.lit("1998-01-01").cast("timestamp")
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= cut_lo) & (F.col("l_shipdate") < cut_hi)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    pair = (
        (F.col("supp_nation") == "NATION_12") & (F.col("cust_nation") == "NATION_10")
    ) | ((F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_12"))
    # The pair disjunction spans both sides so it can only apply above
    # the joins — but it IMPLIES supp/cust ∈ {12,10}, and that redundant
    # per-side conjunct is pushable: filter each nation dim to the two
    # candidates before broadcasting, so supplier/customer rows from the
    # other 23 nations never enter the join at all (the classic Q7
    # implied-predicate derivation, done by hand since Catalyst does not
    # infer it through a disjunction).
    both = ("NATION_12", "NATION_10")
    n1 = n1.filter(F.col("supp_nation").isin(*both))
    n2 = n2.filter(F.col("cust_nation").isin(*both))
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(dsum(volume, 4).alias("revenue"))
    )


@query(
    "q8_market_share",
    """
    SELECT l_year,
           CAST(CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_3' THEN volume
                                   ELSE 0 END AS DECIMAL(23,4))) AS DOUBLE)
                / CAST(SUM(CAST(volume AS DECIMAL(23,4))) AS DOUBLE)
               AS DOUBLE) AS mkt_share
    FROM (
      SELECT CAST(year(o_orderdate) AS INT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA'
        AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01')
    GROUP BY l_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-shaped: one nation's share of regional order volume for
    one part type — an 8-way join. Only the fixed-cardinality dims
    (nation ×2, region) are broadcast-hinted; part/supplier/customer
    scale with SF, so they carry no hint and the size-based planner /
    AQE chooses broadcast-vs-shuffle per scale. Share = exact decimal
    sums, ONE double division at the end (deterministic)."""
    cut_lo = F.lit("1996-01-01").cast("timestamp")
    cut_hi = F.lit("1998-01-01").cast("timestamp")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= cut_lo) & (F.col("o_orderdate") < cut_hi)
    )
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    num = F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(F.lit(0.0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_rkey") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("l_year"))
        .agg(
            (dsum(num, 4) / dsum(volume, 4)).cast("double").alias("mkt_share")
        )
    )


@query(
    "q6_sql_text",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(23,4))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_sql_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door: the same Q6 semantics submitted as a SQL
    TEXT string over registered temp views (catalog.register_views) —
    proving spark.sql() and the DataFrame API meet in the identical
    Catalyst plan and identical results. The SQL here is ANSI enough to
    be byte-identical to the DuckDB oracle."""
    from dwh_with_dask_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(23,4)))
                    AS DOUBLE) AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24
        """
    )


@query(
    "q13_customer_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey)
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped double aggregation: orders-per-customer (zero-
    order customers kept), then the histogram of those counts.

    The Spark side pre-aggregates orders to per-custkey counts BEFORE
    the outer join (algebraically identical to the oracle's
    join-then-count: COUNT(o_orderkey) over a left join == COALESCE of
    the pre-aggregated count) — so the join probes customer-cardinality
    rows against an already-reduced build side instead of streaming
    every order row through the join. At 100 TB that is the difference
    between shuffling the orders fact once into a partial agg and
    shuffling it raw into a join."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust_orders = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("__n")
    )
    per_cust = (
        c.join(per_cust_orders, c.c_custkey == per_cust_orders.o_custkey, "left")
        .select(F.coalesce(F.col("__n"), F.lit(0)).alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q18_large_orders",
    """
    SELECT c_custkey, o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(big.sum_qty AS DOUBLE) AS sum_qty
    FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN (
        SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(23,2))) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(23,2))) > 150
      ) big ON o_orderkey = big.l_orderkey
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped: orders whose total line quantity exceeds a
    threshold. The HAVING filter runs on the exact decimal sum BEFORE
    the joins, so only qualifying orderkeys (a tiny set) ever join —
    AQE turns the filtered aggregate into the broadcast side."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(23,2)")).alias("__sq"))
        .filter(F.col("__sq") > 150)
        .select("l_orderkey", F.col("__sq").cast("double").alias("sum_qty"))
    )
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            "sum_qty",
        )
    )


@query(
    "agg_orders_monthly",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(23,2))) AS DOUBLE) AS total_sales,
           CAST(MIN(o_totalprice) AS DOUBLE) AS min_price,
           CAST(MAX(o_totalprice) AS DOUBLE) AS max_price
    FROM orders
    GROUP BY 1
    """,
)
def agg_orders_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar rollup: date_trunc keys + min/max/sum/count in one agg."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(F.date_trunc("month", "o_orderdate").alias("order_month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", 2).alias("total_sales"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
    )


@query(
    "count_distinct_parts",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS n_parts,
           COUNT(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def count_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct aggregation (expand + two-phase agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@query(
    "bitmap_distinct_customers",
    """
    SELECT c_mktsegment,
           COUNT(DISTINCT c_custkey) AS n_distinct
    FROM customer GROUP BY c_mktsegment
    """,
)
def bitmap_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct via bitmap aggregation: keys map to (bucket, bit
    position), bitmaps OR together per group, cardinality = sum of
    bitmap_count over buckets. Unlike COUNT(DISTINCT)'s expand+dedup,
    bitmap partials are tiny, mergeable, and STORABLE — materialize the
    per-bucket bitmaps once and every later distinct query over any
    group combination is a re-aggregation of kilobyte blobs instead of
    a rescan (the production pattern for repeated exact distincts at
    warehouse scale). Oracle: plain COUNT(DISTINCT) — same answer,
    different physical shape."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select(
            "c_mktsegment",
            F.expr("bitmap_bucket_number(c_custkey)").alias("__bucket"),
            F.expr("bitmap_bit_position(c_custkey)").alias("__pos"),
        )
        .groupBy("c_mktsegment", "__bucket")
        .agg(F.expr("bitmap_construct_agg(__pos)").alias("__bm"))
        .groupBy("c_mktsegment")
        .agg(
            F.sum(F.expr("bitmap_count(__bm)")).cast("long").alias("n_distinct")
        )
    )


@query(
    "approx_distinct_parts",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_partkey) AS exact_parts,
           TRUE AS hll_within_5pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct estimate, validated IN-PLAN against the exact
    count (VERDICT r6 ask #7): the raw estimate is engine-specific (no
    cross-engine oracle exists for a sketch), so the driver-checked
    output is the ACCURACY CONTRACT — the exact count plus a flag that
    the rsd=0.01 estimate landed within 5% (5 sigma; measured ≤0.67%
    on sf0.001-sf1). A wrong HLL implementation fails the hash-match
    loudly instead of hiding behind `no_oracle`. The pure sketch-only
    aggregate — the actual 100 TB scale path, no Expand, mergeable
    partials — is `approx_distinct_parts_raw` (rows-only by nature)."""
    li = load_table(spark, sf_dir, "lineitem")
    # One distinct shuffle, then count + HLL over the distinct stream.
    # NOT countDistinct + approx_count_distinct in one agg: mixing a
    # DISTINCT aggregate with the HLL ImperativeAggregate plans an
    # Expand that carries the HLL buffer through every replicated row
    # (measured 15.3 s vs 0.9 s at sf1). HLL inserts are idempotent,
    # so the estimate over pre-distinct values is bit-identical.
    d = li.select("l_returnflag", "l_partkey").distinct()
    return (
        d.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("exact_parts"),
            F.approx_count_distinct("l_partkey", 0.01).alias("__approx"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("__approx") - F.col("exact_parts"))
                <= 0.05 * F.col("exact_parts")
            ).alias("hll_within_5pct"),
        )
    )


@query("approx_distinct_parts_raw")  # no oracle: HLL sketches are engine-specific
def approx_distinct_parts_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct estimate — the 100 TB substitute for exact
    countDistinct (no expand, mergeable partials). Rows-only check; the
    oracle-able accuracy contract lives in `approx_distinct_parts`."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.01).alias("approx_parts"),
    )


# --------------------------------------------------------------------------
# Filter / project / sort / top-k
# --------------------------------------------------------------------------

@query(
    "filter_project_pushdown",
    """
    SELECT l_orderkey, l_linenumber, l_quantity,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1997-03-01'
      AND l_quantity < 5
    """,
)
def filter_project_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective scan: both predicates and the 5-column ReadSchema reach
    the parquet reader (verified via explain in tests). Per-row double
    arithmetic is IEEE-deterministic — no decimal guard needed."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-03-01").cast("timestamp"))
        & (F.col("l_quantity") < 5)
    ).select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


@query(
    "topk_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k: orderBy+limit compiles to TakeOrderedAndProject — each task
    keeps a 20-row heap; no global sort, no shuffle of the full table."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


@query("distinct_segments", "SELECT DISTINCT c_mktsegment FROM customer")
def distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT = hash aggregate on the value; partials kill duplicates
    before the shuffle."""
    return load_table(spark, sf_dir, "customer").select("c_mktsegment").distinct()


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------

@query(
    "window_rank_customers",
    """
    SELECT c_custkey, c_nationkey, c_acctbal,
           RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS bal_rank,
           DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC) AS bal_dense
    FROM customer
    """,
)
def window_rank_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank per nation: one shuffle on the partition key, sort
    within partitions. Ranking on the raw value keeps ties well-defined."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc())
    return c.select(
        "c_custkey",
        "c_nationkey",
        "c_acctbal",
        F.rank().over(w).alias("bal_rank"),
        F.dense_rank().over(w).alias("bal_dense"),
    )


@query(
    "window_running_total",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(23,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_spend,
           ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
               AS order_seq
    FROM orders
    """,
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per customer; decimal accumulation keeps every prefix
    exact. Deterministic order via (date, key) tie-break."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(F.col("o_totalprice").cast("decimal(23,2)"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double")
        .alias("running_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


@query(
    "window_lag_events",
    """
    SELECT event_id, user_id, ts, value,
           LAG(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type,
           value - COALESCE(LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0.0)
               AS delta
    FROM events
    """,
)
def window_lag_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead over the event stream per user (offset window frame)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        prev.alias("prev_value"),
        F.lead("event_type").over(w).alias("next_type"),
        (F.col("value") - F.coalesce(prev, F.lit(0.0))).alias("delta"),
    )


@query(
    "ntile_order_quartiles",
    """
    WITH t AS (
      SELECT o_orderkey, o_totalprice,
             NTILE(4) OVER (ORDER BY o_totalprice, o_orderkey) AS quartile
      FROM orders
    )
    SELECT quartile, COUNT(*) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM t GROUP BY quartile
    """,
)
def ntile_order_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartiles then per-bucket stats. The global window is the
    documented cost (single-partition sort); for 100 TB use approx
    percentile_approx breakpoints instead — kept exact here to match the
    oracle."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        o.select("o_orderkey", "o_totalprice", F.ntile(4).over(w).alias("quartile"))
        .groupBy("quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


# --------------------------------------------------------------------------
# Joins: semi / anti / subqueries / asof / range
# --------------------------------------------------------------------------

@query(
    "semi_join_open_customers",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    """,
)
def semi_join_open_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT SEMI join (EXISTS): no payload from the right side, dedup-free."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "anti_join_customers",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join (NOT EXISTS) — customers that never ordered."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "exists_big_order_customers",
    """
    SELECT c_custkey, c_acctbal FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def exists_big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS through the SQL front end — Catalyst rewrites it
    to the same left-semi hash join the DataFrame API would produce."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_custkey, c_acctbal FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        """
    )


@query(
    "asof_join_events_orders",
    """
    WITH o1 AS (
      SELECT o_custkey, o_orderdate,
             MAX(o_orderkey) AS last_orderkey,
             MAX_BY(o_totalprice, o_orderkey) AS last_totalprice
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, o1.last_orderkey, o1.last_totalprice
    FROM events e
    ASOF LEFT JOIN o1 ON e.user_id = o1.o_custkey AND e.ts >= o1.o_orderdate
    """,
)
def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators.joins.asof_join): each event picks the most
    recent order of the same customer. Right side is pre-reduced to one
    row per (custkey, date) so the match is deterministic; the operator
    itself is the union+window single-shuffle plan."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(
            F.max("o_orderkey").alias("last_orderkey"),
            F.max_by("o_totalprice", "o_orderkey").alias("last_totalprice"),
        )
    )
    out = asof_join(e, o, on="user_id", left_time="ts", right_time="o_orderdate")
    return out.select("event_id", "user_id", "ts", "last_orderkey", "last_totalprice")


@query(
    "range_join_order_buckets",
    """
    WITH buckets(bucket, lo, hi) AS (
      VALUES ('xs', 0.0, 50000.0), ('s', 50000.0, 150000.0),
             ('m', 150000.0, 300000.0), ('l', 300000.0, 450000.0),
             ('xl', 450000.0, 1e18)
    )
    SELECT bucket, COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(23,2))) AS DOUBLE) AS bucket_sales
    FROM orders JOIN buckets ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY bucket
    """,
)
def range_join_order_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join via operators.joins.range_join: the bucket
    dim broadcasts, so the non-equi predicate runs as a broadcast
    nested-loop — zero shuffle of the fact table."""
    o = load_table(spark, sf_dir, "orders")
    buckets = spark.createDataFrame(
        [
            ("xs", 0.0, 50_000.0),
            ("s", 50_000.0, 150_000.0),
            ("m", 150_000.0, 300_000.0),
            ("l", 300_000.0, 450_000.0),
            ("xl", 450_000.0, 1e18),
        ],
        "bucket string, lo double, hi double",
    )
    joined = range_join(o, buckets, value="o_totalprice")
    return joined.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice", 2).alias("bucket_sales"),
    )


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------

@query(
    "intersect_custkeys",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def intersect_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct semantics) — customers with both F and O orders."""
    o = load_table(spark, sf_dir, "orders")
    f_side = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o_side = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f_side.intersect(o_side)


@query(
    "except_custkeys",
    """
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def except_custkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct semantics) — P-order customers with no F orders."""
    o = load_table(spark, sf_dir, "orders")
    p_side = o.filter(F.col("o_orderstatus") == "P").select("o_custkey")
    f_side = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return p_side.subtract(f_side)


@query(
    "union_high_value_keys",
    """
    SELECT o_custkey AS key, 'order' AS src FROM orders WHERE o_totalprice > 450000
    UNION ALL
    SELECT c_custkey AS key, 'customer' AS src FROM customer WHERE c_acctbal > 9900
    """,
)
def union_high_value_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL by name (the reference's pd.concat analog, §2A #22)."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    a = o.filter(F.col("o_totalprice") > 450_000).select(
        F.col("o_custkey").alias("key"), F.lit("order").alias("src")
    )
    b = c.filter(F.col("c_acctbal") > 9_900).select(
        F.col("c_custkey").alias("key"), F.lit("customer").alias("src")
    )
    return a.unionByName(b)


# --------------------------------------------------------------------------
# Reshape: pivot / unpivot / cube / rollup / grouping sets
# --------------------------------------------------------------------------

@query(
    "pivot_returnflag",
    """
    SELECT l_returnflag,
           SUM(l_quantity) FILTER (WHERE l_linestatus = 'F') AS qty_F,
           SUM(l_quantity) FILTER (WHERE l_linestatus = 'O') AS qty_O
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().pivot() with explicit values (no extra pass to discover
    them — required practice at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.sum("l_quantity"))
        .select(
            "l_returnflag",
            F.col("F").alias("qty_F"),
            F.col("O").alias("qty_O"),
        )
    )


@query(
    "unpivot_lineitem_measures",
    """
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS val
    FROM lineitem WHERE l_orderkey < 100
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice' AS measure, l_extendedprice AS val
    FROM lineitem WHERE l_orderkey < 100
    """,
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unpivot/melt (wide → long), Spark ≥3.4 builtin."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice"],
        "measure",
        "val",
    )


@query(
    "cube_sales",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           SUM(l_quantity) AS sum_qty, COUNT(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^2 grouping-set combinations in one pass (Expand)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@query(
    "rollup_order_year_status",
    """
    SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(23,2))) AS DOUBLE) AS sales
    FROM orders GROUP BY ROLLUP (order_year, o_orderstatus)
    """,
)
def rollup_order_year_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP: hierarchical subtotals year → (year,status) → grand total."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "order_year", F.year("o_orderdate")
    )
    return o.rollup("order_year", "o_orderstatus").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice", 2).alias("sales"),
    )


@query(
    "grouping_sets_priority",
    """
    SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
    """,
)
def grouping_sets_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL front end."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        """
    )


# --------------------------------------------------------------------------
# Semi-structured: JSON + date parts + strings
# --------------------------------------------------------------------------

@query(
    "json_props_events",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events GROUP BY event_type
    """,
)
def json_props_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events.props string column
    (get_json_object — no full from_json schema needed for one path)."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


@query(
    "variant_props_events",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_with_k
    FROM events GROUP BY event_type
    """,
)
def variant_props_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props via Spark 4's VARIANT type: parse the JSON
    string ONCE into the binary variant encoding, then run typed
    ``try_variant_get`` extractions against it — at 100 TB the parse
    happens once per row however many fields you pull, vs
    get_json_object re-parsing the string per path (json_props_events
    keeps that classic path for comparison). The oracle is path-
    equivalent DuckDB JSON extraction — VARIANT changes the encoding,
    not the semantics."""
    e = load_table(spark, sf_dir, "events")
    v = F.try_parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    return e.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k").alias("sum_k"),
        F.count("k").alias("n_with_k"),
    )


@query(
    "date_parts_events",
    """
    SELECT CAST(year(ts) AS INT) AS y, CAST(month(ts) AS INT) AS m,
           CAST(dayofweek(ts) + 1 AS INT) AS dow, CAST(hour(ts) AS INT) AS h,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2, 3, 4
    """,
)
def date_parts_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Timestamp part extraction. Convention note: Spark dayofweek is
    1=Sunday..7=Saturday while DuckDB's is 0=Sunday..6 — the oracle adds
    1 to line up."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(
            F.year("ts").alias("y"),
            F.month("ts").alias("m"),
            (F.dayofweek("ts")).alias("dow"),
            F.hour("ts").alias("h"),
        )
        .groupBy("y", "m", "dow", "h")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "string_funcs_docs",
    """
    SELECT doc_id,
           upper(substr(text, 1, 20)) AS head_upper,
           length(text) AS text_len,
           length(replace(text, ' ', '')) AS n_nonspace,
           CASE WHEN length(text) >= 40
                THEN substr(text, length(text) - 19, 20) ELSE text END AS tail20,
           concat(source, ':', lang) AS src_lang
    FROM documents
    """,
)
def string_funcs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function family over documents (upper/substr/length/replace
    /concat) — all codegen'd builtins."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.upper(F.substring("text", 1, 20)).alias("head_upper"),
        F.length("text").alias("text_len"),
        F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).alias("n_nonspace"),
        F.when(
            F.length("text") >= 40, F.col("text").substr(F.length("text") - 19, F.lit(20))
        )
        .otherwise(F.col("text"))
        .alias("tail20"),
        F.concat_ws(":", "source", "lang").alias("src_lang"),
    )


@query(
    "interval_join_click_purchase",
    """
    SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
           a.ts AS click_ts, b.ts AS purchase_ts
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '2 hours'
    WHERE a.event_type = 'click' AND b.event_type = 'purchase'
    """,
)
def interval_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-sequence interval join (click → purchase by the same user
    within 2 h) — the batch twin of the watermarked stream-stream join
    (streaming/events.py:self_join_follow_events): identical expression
    body, and on a stream the same time bound is what lets Spark evict
    join-buffer state."""
    from dwh_with_dask_spark.streaming.events import self_join_follow_events

    e = load_table(spark, sf_dir, "events")
    return self_join_follow_events(e, e, within="2 hours")


@query(
    "sliding_window_events",
    """
    SELECT window_start, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS sum_value
    FROM (
      SELECT event_type, value,
             unnest([time_bucket(INTERVAL '30 minutes', ts),
                     time_bucket(INTERVAL '30 minutes', ts)
                       - INTERVAL '30 minutes']) AS window_start
      FROM events)
    GROUP BY 1, 2
    """,
)
def sliding_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time window (1 hour every 30 minutes): each event
    lands in duration/slide = 2 overlapping windows. Spark's F.window
    expands the row per window before the aggregate — the oracle
    reproduces that with an explicit 2-bucket unnest. Same code runs
    under Structured Streaming with a watermark."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


@query(
    "hypertable_rollup_events",
    """
    WITH m AS (
      SELECT date_trunc('minute', ts) AS bucket, event_type,
             COUNT(*) AS n, SUM(CAST(value AS DECIMAL(23,6))) AS sdec,
             MIN(value) AS mn, MAX(value) AS mx
      FROM events GROUP BY 1, 2),
    h AS (
      SELECT date_trunc('hour', bucket) AS bucket, event_type,
             SUM(n) AS n, SUM(sdec) AS sdec, MIN(mn) AS mn, MAX(mx) AS mx
      FROM m GROUP BY 1, 2),
    d AS (
      SELECT date_trunc('day', bucket) AS bucket, event_type,
             SUM(n) AS n, SUM(sdec) AS sdec, MIN(mn) AS mn, MAX(mx) AS mx
      FROM h GROUP BY 1, 2)
    SELECT 'minute' AS level, bucket, event_type, CAST(n AS BIGINT) AS n_events,
           CAST(sdec AS DOUBLE) AS sum_value, mn AS min_value, mx AS max_value
    FROM m
    UNION ALL
    SELECT 'hour', bucket, event_type, CAST(n AS BIGINT),
           CAST(sdec AS DOUBLE), mn, mx FROM h
    UNION ALL
    SELECT 'day', bucket, event_type, CAST(n AS BIGINT),
           CAST(sdec AS DOUBLE), mn, mx FROM d
    """,
)
def hypertable_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution (minute/hour/day) continuous-aggregate rollup —
    cascaded re-aggregation so the fact table is scanned and shuffled
    once, coarser levels fold the finer partials (operators/rollup.py)."""
    from dwh_with_dask_spark.operators.rollup import hypertable_rollup

    e = load_table(spark, sf_dir, "events")
    return hypertable_rollup(e, "ts", ("event_type",), "value")


# --------------------------------------------------------------------------
# Event-time windows (batch twins of the streaming operators)
# --------------------------------------------------------------------------

@query(
    "tumbling_window_events",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(23,6))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window (F.window) — identical code path runs
    under Structured Streaming with a watermark (streaming/events.py)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dsum("value", 6).alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
    )


@query(
    "sessionize_events_gap",
    """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts > LAG(ts) OVER w + INTERVAL '5 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(MAX(session_id) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM sess GROUP BY user_id
    """,
)
def sessionize_events_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (operators.sessionize.sessionize_by_gap)
    aggregated to per-user session counts."""
    e = load_table(spark, sf_dir, "events")
    s = sessionize_by_gap(e, "user_id", "ts", "5 minutes", order_cols=("event_id",))
    return s.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "session_window_events",
    """
    WITH flagged AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts >= LAG(ts) OVER w + INTERVAL '10 minutes'
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def session_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F.session_window (native session windows, 10-minute gap). The
    oracle reproduces the merge semantics as gaps-and-islands SQL: a new
    session starts when the gap is >= the timeout (events at exactly
    start+gap fall outside the half-open window)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "10 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
        )
    )


# --------------------------------------------------------------------------
# Statistics / arrays / dates / more window frames (§2B widening)
# --------------------------------------------------------------------------

@query(
    "stats_order_prices",
    """
    WITH s AS (
      SELECT o_orderstatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(23,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sxx
      FROM orders GROUP BY o_orderstatus
    )
    SELECT o_orderstatus, n,
           sx / n AS mean_price,
           sqrt((sxx - sx * sx / n) / (n - 1)) AS stddev_price,
           (sxx - sx * sx / n) / (n - 1) AS var_price
    FROM s
    """,
)
def stats_order_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moment statistics (mean/stddev/variance) computed from exact
    decimal power sums, then finished in double — deterministic across
    engines and partitionings, unlike the built-in one-pass stddev whose
    float accumulation is order-dependent. The per-group scan is still
    single-pass; only the final scalar math changes."""
    o = load_table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    sx = dsum("o_totalprice", 2)
    sxx = F.sum(
        (F.col("o_totalprice") * F.col("o_totalprice")).cast("decimal(30,4)")
    ).cast("double")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            n.alias("n"),
            sx.alias("sx"),
            sxx.alias("sxx"),
        )
        .select(
            "o_orderstatus",
            "n",
            (F.col("sx") / F.col("n")).alias("mean_price"),
            F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("stddev_price"),
            (
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("var_price"),
        )
    )


@query(
    "minmax_by_priority",
    """
    WITH ranked AS (
        SELECT o_orderpriority, o_orderkey, o_totalprice,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
               ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                  ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
        FROM orders)
    SELECT o_orderpriority,
           MAX(CASE WHEN rmax = 1 THEN o_orderkey END) AS best_order,
           CAST(MAX(o_totalprice) AS DOUBLE) AS best_price,
           MAX(CASE WHEN rmin = 1 THEN o_orderkey END) AS worst_order,
           CAST(MIN(o_totalprice) AS DOUBLE) AS worst_price
    FROM ranked GROUP BY o_orderpriority
    """,
)
def minmax_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """max_by/min_by (argmax aggregation). Duplicate prices exist, so the
    ordering value is a (price, key) struct — lexicographic comparison
    makes the argmax deterministic in both engines."""
    o = load_table(spark, sf_dir, "orders")
    tie = F.struct("o_totalprice", "o_orderkey")
    return o.groupBy("o_orderpriority").agg(
        F.max_by("o_orderkey", tie).alias("best_order"),
        F.max("o_totalprice").alias("best_price"),
        F.min_by("o_orderkey", tie).alias("worst_order"),
        F.min("o_totalprice").alias("worst_price"),
    )


@query(
    "array_funcs_docs",
    """
    WITH t AS (SELECT doc_id,
                      list_filter(string_split(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' '),
                                  t -> t <> '') AS toks
               FROM documents)
    SELECT doc_id,
           len(toks) AS n_toks,
           array_to_string(toks[1:3], '_') AS first3,
           list_contains(toks, 'the') AS has_the,
           len(list_distinct(toks)) AS n_distinct,
           array_to_string(list_sort(list_distinct(toks))[1:3], ',') AS alpha3
    FROM t
    """,
)
def array_funcs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order function family: slice / contains / distinct /
    sort — all codegen'd builtins over the token array."""
    d = load_table(spark, sf_dir, "documents")
    toks = text_tokens("text")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_toks"),
        F.array_join(F.slice(toks, 1, 3), "_").alias("first3"),
        F.array_contains(toks, "the").alias("has_the"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.array_join(F.slice(F.array_sort(F.array_distinct(toks)), 1, 3), ",").alias(
            "alpha3"
        ),
    )


@query(
    "from_json_events",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod
    FROM events WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 50
    """,
)
def from_json_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-full JSON parsing (from_json → struct) with a filter on the
    extracted field — unlike get_json_object, the parsed struct is
    reusable across many fields in one parse."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.withColumn("p", F.from_json("props", "k BIGINT"))
    return (
        parsed.filter(F.col("p.k") > 50)
        .select(
            "event_id",
            F.col("p.k").alias("k"),
            (F.col("p.k") % 10).alias("k_mod"),
        )
    )


@query(
    "date_arith_orders",
    """
    SELECT o_orderkey,
           CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT)
               AS days_to_2002,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start
    FROM orders WHERE o_orderkey < 500
    """,
)
def date_arith_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic family: datediff / add_months (with month-end
    clamping) / last_day / quarter truncation."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    d = F.col("o_orderdate").cast("date")
    return o.select(
        "o_orderkey",
        F.datediff(F.lit("2002-01-01").cast("date"), d).alias("days_to_2002"),
        F.add_months(d, 3).alias("plus3m"),
        F.last_day(d).alias("month_end"),
        F.date_trunc("quarter", "o_orderdate").cast("date").alias("quarter_start"),
    )


@query(
    "string_agg_nations",
    """
    SELECT r_name,
           COUNT(*) AS n_nations,
           string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: collect_list is unordered in a
    distributed engine, so sort the array before joining — the
    deterministic idiom for string_agg parity."""
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
        )
    )


@query(
    "window_range_frame",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 10000 PRECEDING AND CURRENT ROW) AS n_in_band
    FROM orders WHERE o_custkey < 100
    """,
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame (value-based, not row-based): peers within
    10000 price units below the current row."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-10_000, Window.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.count(F.lit(1)).over(w).alias("n_in_band"),
    )


@query(
    "window_first_last",
    """
    SELECT o_orderkey, o_custkey, o_orderdate,
           FIRST_VALUE(o_orderkey) OVER w AS first_order,
           LAST_VALUE(o_orderkey)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS last_order,
           NTH_VALUE(o_orderkey, 2) OVER w AS second_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value window functions with explicit frames (the
    unbounded-following frame is what makes LAST_VALUE meaningful)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
        F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
    )


@query(
    "window_percent_rank",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           PERCENT_RANK() OVER w AS pr,
           CUME_DIST() OVER w AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def window_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank window functions: percent_rank = (rank-1)/(n-1) and
    cume_dist = rows<=current/n per segment. Both are rank-based — ties
    get identical values regardless of physical row order, so results
    are deterministic (c_custkey tie-break pins the ORDER BY anyway).
    One hash-partition shuffle on the segment, in-partition sort."""
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@query(
    "percentile_prices",
    """
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.25) AS p25,
           quantile_cont(o_totalprice, 0.5) AS p50,
           quantile_cont(o_totalprice, 0.75) AS p75
    FROM orders GROUP BY o_orderstatus
    """,
)
def percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles (sort-based). Note for 100 TB:
    percentile_approx (t-digest sketch, mergeable) is the scale path;
    exact kept here for oracle parity."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("p25"),
        F.percentile("o_totalprice", F.lit(0.5)).alias("p50"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("p75"),
    )


@query("approx_percentile_prices")  # no oracle: sketch is engine-specific
def approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE quantile path for 100 TB: percentile_approx's mergeable
    KLL/GK-style sketch aggregates map-side and merges in one reduce —
    no global sort, bounded memory per group. Accuracy 10000 ≈ 0.01%%
    rank error; property-tested against the exact percentiles in
    tests/test_plans.py (the driver records rows-only)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.percentile_approx("o_totalprice", F.lit(0.25), F.lit(10000)).alias("p25"),
        F.percentile_approx("o_totalprice", F.lit(0.5), F.lit(10000)).alias("p50"),
        F.percentile_approx("o_totalprice", F.lit(0.75), F.lit(10000)).alias("p75"),
    )


# --------------------------------------------------------------------------
# Outer joins / subqueries / bivariate stats
# --------------------------------------------------------------------------

@query(
    "q6_revenue_filter",
    """
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(23,4))) AS DOUBLE)
               AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= DATE '1994-01-01' AND l_shipdate < DATE '1995-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_revenue_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + conjunctive filter + global agg.
    Everything pushes to the Parquet scan (date/decimal range filters are
    all pushable); the agg is a partial+final over one narrow projection —
    the canonical 'filter must reach the scan' plan."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1994-01-01").cast("date"))
        & (F.col("l_shipdate") < F.lit("1995-01-01").cast("date"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.sum(
            (F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(23,4)")
        )
        .cast("double")
        .alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "left_join_order_counts",
    """
    SELECT c_custkey, c_mktsegment,
           COUNT(o_orderkey) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(23,2))), 0) AS DOUBLE)
               AS total_spent
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey, c_mktsegment
    """,
)
def left_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving zero-order customers: COUNT(col) skips
    the nulls the outer side introduces, COALESCE(SUM) turns the null
    group into 0. Shuffle key is c_custkey on both sides — at scale,
    bucketing both tables by custkey makes this join shuffle-free."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(dsum("o_totalprice", 2), F.lit(0.0)).alias("total_spent"),
        )
    )


@query(
    "full_outer_daily_activity",
    """
    WITH e AS (SELECT CAST(ts AS DATE) AS d, COUNT(*) AS n_events
               FROM events GROUP BY 1),
         o AS (SELECT o_orderdate AS d, COUNT(*) AS n_orders
               FROM orders GROUP BY 1)
    SELECT COALESCE(e.d, o.d) AS day,
           COALESCE(n_events, 0) AS n_events,
           COALESCE(n_orders, 0) AS n_orders
    FROM e FULL OUTER JOIN o ON e.d = o.d
    """,
)
def full_outer_daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated daily series — aggregate
    BEFORE joining so the outer join runs on ~days rows, not raw events
    × orders (the at-scale ordering that keeps the shuffle tiny)."""
    ev = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    e_day = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    o_day = o.groupBy(F.col("o_orderdate").alias("d2")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    j = e_day.join(o_day, e_day.d == o_day.d2, "full_outer")
    return j.select(
        F.coalesce("d", "d2").alias("day"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
    )


@query(
    "scalar_subquery_above_avg",
    """
    SELECT p_partkey, p_brand, p_retailprice
    FROM part
    WHERE p_retailprice >
          (SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(23,2))) AS DOUBLE)
                  / COUNT(*) FROM part)
    """,
)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: parts priced above the global mean.
    Spark plans the subquery as an independent stage whose single-row
    result broadcasts into the filter — two scans of part, no join
    shuffle. Mean from exact decimal sums for cross-engine determinism."""
    p = load_table(spark, sf_dir, "part")
    mean = p.agg(
        (dsum("p_retailprice", 2) / F.count(F.lit(1))).alias("m")
    )
    return (
        p.join(F.broadcast(mean))
        .filter(F.col("p_retailprice") > F.col("m"))
        .select("p_partkey", "p_brand", "p_retailprice")
    )


@query(
    "corr_quantity_price",
    """
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(23,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(23,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,4))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           round((sxy - sx * sy / n)
             / (sqrt(sxx - sx * sx / n) * sqrt(syy - sy * sy / n)), 12)
             AS corr_qty_price,
           round((sxy - sx * sy / n) / (n - 1), 6) AS covar_qty_price
    FROM s
    """,
)
def corr_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + sample covariance per return flag from exact
    decimal power sums (same idiom as stats_order_prices): one scan, one
    partial+final agg, deterministic under any partitioning — unlike the
    built-in one-pass corr whose float accumulation is order-dependent."""
    li = load_table(spark, sf_dir, "lineitem")
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity", 2).alias("sx"),
        dsum("l_extendedprice", 2).alias("sy"),
        F.sum((x * x).cast("decimal(30,4)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(30,4)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(30,4)")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return g.select(
        "l_returnflag",
        "n",
        F.round(
            (sxy - sx * sy / n)
            / (F.sqrt(sxx - sx * sx / n) * F.sqrt(syy - sy * sy / n)),
            12,
        ).alias("corr_qty_price"),
        F.round((sxy - sx * sy / n) / (n - 1), 6).alias("covar_qty_price"),
    )


@query(
    "source_chars_geomean",
    """
    SELECT source,
           round(exp(avg(ln(CAST(n_chars AS DOUBLE)))), 6) AS geomean_chars,
           COUNT(*) AS n_docs
    FROM documents
    WHERE n_chars > 0
    GROUP BY source
    """,
)
def source_chars_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (the remaining UDF-surface variant:
    SCALAR/ITER/map/apply/WithState/UDTF/DataSource are covered
    elsewhere): per-source geometric mean of document length as an
    Arrow-batched grouped aggregate (``pd.Series -> float`` type hints
    make it one) — exp(mean(ln x)) per group, one numpy
    reduction per group partition. round(,6) absorbs the
    summation-order drift of the log-mean (the repo's standard
    order-dependent-sum idiom); the oracle is the same closed form in
    SQL."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)

    @F.pandas_udf("double")
    def geomean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v.to_numpy(dtype="float64")).mean()))

    @F.pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        # Catalyst refuses to MIX grouped-agg pandas UDFs with built-in
        # aggregates in one Aggregate, so the count rides the same
        # Arrow batch instead of F.count
        return len(v)

    return d.groupBy("source").agg(
        F.round(geomean(F.col("n_chars").cast("double")), 6).alias(
            "geomean_chars"
        ),
        n_rows(F.col("n_chars")).alias("n_docs"),
    )
