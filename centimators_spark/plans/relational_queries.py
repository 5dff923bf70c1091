"""Relational + event-stream queries with DuckDB oracles.

These exercise the engine's join/aggregation/window/limit surface the
way a warehouse user would: broadcast-able dimension joins, partial
aggregation, top-k windows, event-time tumbling and session windows,
JSON extraction. All plans are declarative DataFrame code — Catalyst
picks broadcast-hash joins for the small sides and AQE handles runtime
re-planning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from centimators_spark.io import load_table
from centimators_spark.scanstats import spread_if_underpartitioned
from centimators_spark.streaming.events import sessionize, windowed_event_counts

# deterministic panel ordering — THE shared definition (__spark_entry__
# imports this; keep in sync with __spark_entry__.ORDER)
_ORDER_SQL = (
    "l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice, "
    "l_discount, l_tax"
)


def q_events_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_event_counts(load_table(spark, sf_dir, "events"))


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sessionize(load_table(spark, sf_dir, "events"))


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
        F.count(F.lit(1)).alias("n"),
    )


def q_top_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == customer.c_custkey,
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("c_mktsegment", "rk", "o_orderkey", "o_totalprice")
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style: top-10 open orders by discounted revenue for one
    segment."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    seg = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(seg), orders.o_custkey == seg.c_custkey)
        .where(
            (F.col("o_orderdate") < F.lit("1998-01-01"))
            & (F.col("l_shipdate") > F.lit("1996-01-01"))
        )
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            F.unix_timestamp("o_orderdate").alias("o_orderdate_epoch"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-style: revenue per nation where customer and supplier
    share the nation; 6-way join with broadcast dimensions."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "ASIA")
    )
    return (
        j.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8-style national market share: NATION_5 suppliers' share
    of ECONOMY-part volume sold to AMERICA-region customers, per order
    year. 8-way join — the two fact tables shuffle on l_orderkey, every
    dimension broadcasts; volume rides an exact integer carrier
    (price-cents × discount-complement-cents, summed as DECIMAL(38,0))
    so the share is bit-exact cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    n1 = nation.alias("n1")  # customer nation → region filter
    n2 = nation.alias("n2")  # supplier nation → share numerator
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(F.col("p_type") == "ECONOMY")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1.n_nationkey"))
        .join(F.broadcast(region), F.col("n1.n_regionkey") == region.r_regionkey)
        .where(F.col("r_name") == "AMERICA")
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2.n_nationkey"))
    )
    vol = F.round(F.col("l_extendedprice") * 100).cast("long") * F.round(
        (1 - F.col("l_discount")) * 100
    ).cast("long")
    d = "decimal(38,0)"
    agg = j.groupBy(F.year("o_orderdate").alias("o_year")).agg(
        F.sum(
            F.when(F.col("n2.n_name") == "NATION_5", vol).otherwise(0).cast(d)
        ).alias("__num"),
        F.sum(vol.cast(d)).alias("__den"),
    )
    return agg.select(
        "o_year",
        F.round(
            F.col("__num").cast("double") / F.col("__den").cast("double"), 6
        ).alias("mkt_share"),
    )


_MARKET_SHARE_ORACLE = """
    WITH base AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
             n2.n_name AS supp_nation,
             CAST(round(l_extendedprice * 100) AS BIGINT)
               * CAST(round((1 - l_discount) * 100) AS BIGINT) AS vol
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region ON n1.n_regionkey = r_regionkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE p_type = 'ECONOMY' AND r_name = 'AMERICA'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_5'
                          THEN vol ELSE 0 END) AS DOUBLE)
                 / CAST(sum(vol) AS DOUBLE), 6) AS mkt_share
    FROM base GROUP BY o_year
"""


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-style promotion effect: PROMO parts' share of monthly
    revenue. One broadcast dimension join + one grouped aggregation on
    exact integer volume carriers (cents × discount-complement cents
    summed as DECIMAL(38,0)) — the share division happens once,
    rounded 6dp."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    vol = F.round(F.col("l_extendedprice") * 100).cast("long") * F.round(
        (1 - F.col("l_discount")) * 100
    ).cast("long")
    d = "decimal(38,0)"
    agg = j.groupBy(
        F.unix_timestamp(F.date_trunc("month", F.col("l_shipdate"))).alias(
            "month"
        )
    ).agg(
        F.sum(
            F.when(F.col("p_type") == "PROMO", vol).otherwise(0).cast(d)
        ).alias("__p"),
        F.sum(vol.cast(d)).alias("__t"),
    )
    return agg.select(
        "month",
        F.round(
            F.lit(100.0) * F.col("__p").cast("double")
            / F.col("__t").cast("double"),
            6,
        ).alias("promo_share_pct"),
    )


_PROMO_REVENUE_ORACLE = """
    SELECT CAST(epoch(date_trunc('month', l_shipdate)) AS BIGINT) AS month,
           round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN
                   CAST(round(l_extendedprice * 100) AS BIGINT)
                   * CAST(round((1 - l_discount) * 100) AS BIGINT)
                 ELSE 0 END) AS DOUBLE)
             / CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * CAST(round((1 - l_discount) * 100) AS BIGINT))
                 AS DOUBLE), 6) AS promo_share_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY month
"""


def q_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16-style supplier counting: distinct suppliers serving
    each (p_brand, p_size) outside one excluded brand — broadcast
    dimension join + exact COUNT(DISTINCT) (Expand-based)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(F.col("p_brand") != "Brand#1")
    )
    return (
        j.groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_SUPPLIER_COUNTS_ORACLE = """
    SELECT p_brand, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
    GROUP BY p_brand, p_size
"""


def q_spearman_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-era (month) Spearman rank correlation — the reference's
    era-scoring semantic as a pure window+aggregate plan."""
    from centimators_spark.ml.losses import spearman_corr

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "era", F.unix_timestamp(F.date_trunc("month", F.col("l_shipdate")))
    )
    out = spearman_corr(li, "l_quantity", "l_extendedprice", ["era"])
    return out.select("era", F.round("spearman", 6).alias("spearman"))


def q_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed OLS with a BIT-EXACT oracle. The fixed-decimal inputs
    are scaled to integer-valued doubles so the DECIMAL(38,0) Gram sums
    are exact (engine- and partition-order-independent), and the 4×4
    solve evaluates the identical Cramer expression in both engines
    (ml/cramer.py generates both sides from one term enumeration).
    Predictions rescale back to the original units.

    exact=True is the ORACLE setting; the library default
    (LinearRegressor(exact=False)) is the float fast path — plain
    double sums + numpy solve, no decimal casts — for production fits
    where bit-reproducibility across engines isn't required."""
    from centimators_spark.ml.estimators import LinearRegressor

    li = load_table(spark, sf_dir, "lineitem")
    scaled = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("double").alias("q"),
        F.round(F.col("l_discount") * 100).alias("d100"),
        F.round(F.col("l_tax") * 100).alias("t100"),
        F.round(F.col("l_extendedprice") * 100).alias("e100"),
    )
    # decimal accumulation is ~4x a double sum per row: spread the Gram
    # work if the scan is under-partitioned (decimal sums are
    # order-independent). Narrow to the fit columns FIRST so the
    # shuffle moves no key bytes.
    fit_input = spread_if_underpartitioned(
        scaled.select("q", "d100", "t100", "e100")
    )
    m = LinearRegressor(["q", "d100", "t100"], target="e100", exact=True).fit(
        fit_input
    )
    return m.predict(scaled).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("prediction") / 100, 6).alias("prediction"),
    )


def q_linreg_fast_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correctness pin for the DEFAULT (float) LinearRegressor path —
    the production fit: plain double Gram sums + numpy solve, no
    DECIMAL carriers. Float coefficients aren't bit-reproducible
    across engines, so the contract checks the defining OLS invariant
    instead: at the optimum the residual is orthogonal to every
    regressor column, X'(y − Xθ) = 0. One extra double aggregation
    computes each gradient component normalized Cauchy–Schwarz style
    (|Σ xⱼr| / (‖xⱼ‖·‖r‖)); a correct solve leaves all of them at
    float-noise level (<1e-6), any fitting bug breaks the hash-green
    (n, grad_ok) row. Bench-wise this entry IS the default-path cost
    the round-4/5 verdicts asked to track separately from the decimal
    oracle query."""
    from centimators_spark.ml.estimators import LinearRegressor

    li = load_table(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_quantity").cast("double").alias("q"),
        F.round(F.col("l_discount") * 100).alias("d100"),
        F.round(F.col("l_tax") * 100).alias("t100"),
        F.round(F.col("l_extendedprice") * 100).alias("e100"),
    )
    feats = ["q", "d100", "t100"]
    m = LinearRegressor(feats, target="e100").fit(d)  # default float path
    resid = F.col("e100") - (
        F.lit(m.intercept_)
        + sum(
            (F.col(c) * F.lit(float(w)) for c, w in zip(feats, m.coef_)),
            F.lit(0.0),
        )
    )
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in feats + ["__one"]:
        xc = F.lit(1.0) if c == "__one" else F.col(c)
        aggs.append(F.sum(xc * resid).alias(f"g_{c}"))
        aggs.append(F.sum(xc * xc).alias(f"xx_{c}"))
    aggs.append(F.sum(resid * resid).alias("rr"))
    g = d.agg(*aggs)
    checks = None
    for c in feats + ["__one"]:
        rel = F.abs(F.col(f"g_{c}")) / (
            F.sqrt(F.col(f"xx_{c}")) * F.sqrt(F.col("rr")) + F.lit(1e-300)
        )
        ok = rel < F.lit(1e-6)
        checks = ok if checks is None else (checks & ok)
    return g.select(F.col("n").cast("long").alias("n"), checks.alias("grad_ok"))


_LINREG_FAST_ORACLE = """
    SELECT CAST(count(*) AS BIGINT) AS n, true AS grad_ok FROM lineitem
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each 'view' event picks up the user's most recent
    'purchase' value at or before it (union + carry-forward window —
    linear, one shuffle; oracle = DuckDB native ASOF JOIN)."""
    from centimators_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pvalue"))
    )
    out = asof_join(
        views, purchases, on="ts", by="user_id", value_cols=["pvalue"]
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        "value",
        F.unix_timestamp("ts_asof").alias("purchase_ts_epoch"),
        F.col("pvalue_asof").alias("purchase_value"),
    )


def event_percentiles(
    ev: DataFrame,
    *,
    exact: bool = False,
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-event-type value percentiles (p50/p90/p99) + distinct users.

    exact=False (the scale default): ``approx_percentile`` — a mergeable
    GK sketch with rank error ≤ 1/accuracy, computed with map-side
    partial aggregation and O(accuracy) state per group; the right
    answer at 100 TB. exact=True: ``percentile`` — interpolated exact
    quantiles, which materialize and sort every group's values (memory
    and time grow with group size); only for oracle-parity checks and
    modest groups."""
    fn = "percentile" if exact else "approx_percentile"
    acc = "" if exact else f", {accuracy}"
    return ev.groupBy("event_type").agg(
        F.round(F.expr(f"{fn}(value, 0.5{acc})"), 6).alias("p50"),
        F.round(F.expr(f"{fn}(value, 0.9{acc})"), 6).alias("p90"),
        F.round(F.expr(f"{fn}(value, 0.99{acc})"), 6).alias("p99"),
        F.count_distinct("user_id").alias("n_users"),
    )


def q_events_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event_type (Spark `percentile`
    == DuckDB `quantile_cont` definition). The operator's default is the
    approx sketch (see event_percentiles); the contract pins exact for
    oracle parity."""
    return event_percentiles(load_table(spark, sf_dir, "events"), exact=True)


def q_full_outer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates (customers' order counts vs
    their event counts keyed by id) — exercises outer-join null
    semantics plus null-safe coalesced keys; both inputs pre-aggregate
    so the join sides are small."""
    orders = load_table(spark, sf_dir, "orders")
    events = load_table(spark, sf_dir, "events")
    by_orders = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    by_events = (
        events.where(F.col("user_id") <= 2000)
        .groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    j = by_orders.join(by_events, "k", "full_outer")
    return j.select(
        "k",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        (F.col("n_orders").isNotNull() & F.col("n_events").isNotNull())
        .cast("int")
        .alias("in_both"),
    )


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregate: revenue by (priority, status) with subtotal and
    grand-total rows; grouping ids disambiguate rollup NULLs. Runs as
    one Expand + hash-aggregate pass — map-side partial aggregation
    keeps the expansion cheap at scale."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
            F.grouping_id().alias("gid"),
        )
    )


def q_set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations: (BUILDING ∪ AUTOMOBILE segments) ∩ customers with
    an open order, minus customers holding any urgent order. SQL set-op
    semantics (distinct rows); each leg stays a key-only projection so
    the set shuffles move nothing but ids."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    seg = customer.where(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
    ).select("c_custkey")
    open_cust = orders.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return seg.intersect(open_cust).exceptAll(urgent.distinct())


def q_exists_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS expressed as semi/anti joins (the
    plan Catalyst produces for the subqueries): customers with at least
    one order over 300k and no failed ('F') order."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 300_000).select("o_custkey")
    failed = orders.where(F.col("o_orderstatus") == "F").select("o_custkey")
    return (
        customer.join(big, customer.c_custkey == big.o_custkey, "left_semi")
        .join(failed, customer.c_custkey == failed.o_custkey, "left_anti")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
    )


def q_doc_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/regex scalar surface over documents: regexp extraction,
    case mapping, substring, split-length — all whole-stage-codegen
    expressions on one scan."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+) ([a-z]+)", 2).alias("second_word"),
        F.length("text").alias("len"),
        F.upper(F.substring("text", 1, 10)).alias("head10"),
        F.size(F.split("text", " ")).alias("n_tokens"),
        (F.length("text") - F.length(F.regexp_replace("text", "a", ""))).alias(
            "n_a"
        ),
        F.reverse(F.substring("text", 1, 6)).alias("rev6"),
    )


def q_window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions per segment: ntile, percent_rank,
    cume_dist over order value — one fused Window exec, one shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == customer.c_custkey,
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return j.select(
        "o_orderkey",
        "c_mktsegment",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )


_Q10_SQL = """
    SELECT c_custkey, c_name, n_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
"""


def q_sql_returned_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-style via the SQL FRONTEND: the same ANSI text runs on
    Spark (over registered temp views) and on the DuckDB oracle —
    exercising the parser/analyzer path rather than the DataFrame DSL.
    Catalyst still broadcasts the dimensions and pushes the returnflag
    filter into the scan."""
    for name in ("customer", "orders", "lineitem", "nation"):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(_Q10_SQL)


# quantity bands for the interval-join contract: width 10, stride 5 →
# deliberately OVERLAPPING (each quantity matches 1-2 bands), literals
# shared with the oracle's VALUES list
QTY_BANDS = [(i * 5.0, i * 5.0 + 10.0, i) for i in range(11)]
PIVOT_STATUSES = ["F", "O", "P"]
VOLUME_NATIONS = ("NATION_1", "NATION_2")
LARGE_ORDER_QTY = 250


def q_interval_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join via bucketed equi-join — each lineitem
    matched to every OVERLAPPING quantity band containing it. The
    non-equi predicate becomes a broadcast hash join on the bucket id
    (operators/rangejoin.py), not a BroadcastNestedLoopJoin scan of
    every interval per row."""
    from centimators_spark.operators.rangejoin import interval_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    bands = spark.createDataFrame(QTY_BANDS, "lo double, hi double, band int")
    out = interval_join(
        li,
        bands,
        point_col="l_quantity",
        lo_col="lo",
        hi_col="hi",
        bucket_width=10.0,
        broadcast_intervals=True,
    )
    return out.select("l_orderkey", "l_linenumber", "l_quantity", "band")


def q_pivot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: order revenue by priority × status, statuses pinned as
    literal pivot values (one partial-aggregated shuffle — Spark
    rewrites pivot to CASE-WHEN aggregates, same as the oracle SQL)."""
    o = load_table(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", PIVOT_STATUSES)
        .agg(F.round(F.sum("o_totalprice"), 2))
    )
    return piv.select(
        "o_orderpriority",
        *[F.col(s).alias(f"rev_{s}") for s in PIVOT_STATUSES],
    )


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column exact DISTINCT aggregation (Catalyst EXPAND plan:
    one shuffle carrying each distinct set). Exact mode is the oracle
    contract; at 100 TB swap ``approx_count_distinct`` (mergeable HLL
    sketch, one ordinary partial agg) unless exactness is required."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_cust"),
        F.countDistinct("o_orderdate").alias("n_dates"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7-style: shipped revenue between two nations (either
    direction) by ship year. Scale shape: the nation-pair membership
    filter is applied to supplier AND customer BEFORE any big join
    (2/25 nations survive → both inputs shrink ~12×); the filtered
    supplier side broadcasts onto the lineitem scan; the remaining
    disjunction (which direction) runs after the one genuinely
    large join (lineitem⋈orders, shuffle, AQE-planned)."""
    n1, n2 = VOLUME_NATIONS
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin(n1, n2)
    )
    supp = s.select("s_suppkey", "s_nationkey").join(
        F.broadcast(
            n.select(
                F.col("n_nationkey").alias("s_nationkey"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        "s_nationkey",
    )
    cust = c.select("c_custkey", "c_nationkey").join(
        F.broadcast(
            n.select(
                F.col("n_nationkey").alias("c_nationkey"),
                F.col("n_name").alias("cust_nation"),
            )
        ),
        "c_nationkey",
    )
    ord_cust = o.select("o_orderkey", "o_custkey").join(
        cust, F.col("o_custkey") == F.col("c_custkey")
    )
    return (
        li.join(F.broadcast(supp), li["l_suppkey"] == F.col("s_suppkey"))
        .join(ord_cust, li["l_orderkey"] == F.col("o_orderkey"))
        .where(
            ((F.col("supp_nation") == n1) & (F.col("cust_nation") == n2))
            | ((F.col("supp_nation") == n2) & (F.col("cust_nation") == n1))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-style: orders whose total lineitem quantity exceeds a
    threshold, with customer attribution — grouped HAVING feeding a
    broadcast-able semi-enrichment join."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > LARGE_ORDER_QTY)
    )
    return (
        o.join(F.broadcast(big), o["o_orderkey"] == big["l_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe salted equi-join (operators/skew.py): orders⋈customer
    split across 8 salt buckets per key — the result multiset is
    IDENTICAL to the plain join (the oracle), which is exactly the
    contract a salting transform must keep."""
    from centimators_spark.operators.skew import salted_join

    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    out = salted_join(o, c, "c_custkey", n_salts=8)
    return out.select("o_orderkey", "c_custkey", "o_totalprice", "c_mktsegment")


def q_events_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time interval join (streaming/joins.py, batch mode): each
    view matched to the same user's purchases in the 30 minutes before
    it. The SAME function on readStream inputs runs as a watermarked
    stateful stream-stream join (tests/test_streaming.py parity test);
    this batch twin is what the oracle pins."""
    from centimators_spark.streaming.joins import interval_join_events

    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("rts"),
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("pvalue"),
    )
    out = interval_join_events(
        views, purchases, key="user_id", within="30 minutes"
    )
    return out.select(
        "event_id",
        "purchase_event_id",
        "user_id",
        F.unix_timestamp("ts").alias("ts_epoch"),
        F.unix_timestamp("rts").alias("purchase_ts_epoch"),
        F.round("pvalue", 6).alias("pvalue"),
    )


RANGE_FRAME_SECONDS = 30 * 86400


def q_above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery pattern: orders above the global average price.
    The one-row aggregate broadcasts (cross join) onto the scan — the
    same shape a correlated scalar subquery decorrelates to."""
    o = load_table(spark, sf_dir, "orders")
    avg = o.agg(F.avg("o_totalprice").alias("avg_price"))
    return (
        o.crossJoin(F.broadcast(avg))
        .where(F.col("o_totalprice") > F.col("avg_price"))
        .select("o_orderkey", "o_totalprice", F.round("avg_price", 6).alias("avg_price"))
    )


def q_range_frame_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE window frame over event time: per supplier, quantity
    shipped in the trailing 30 days (value-based frame — peers enter by
    timestamp distance, not row count). Integer-valued doubles keep the
    frame sums exact in both engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        *[F.col(c) for c in ("l_orderkey", "l_linenumber", "l_suppkey", "l_quantity")],
        F.unix_timestamp("l_shipdate").alias("ship_epoch"),
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("ship_epoch")
        .rangeBetween(-RANGE_FRAME_SECONDS, 0)
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.sum("l_quantity").over(w).alias("qty_30d"),
        F.count(F.lit(1)).over(w).alias("n_30d"),
    )


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate: all four grouping combinations of (priority,
    status) in one Expand + partial-agg pass (the rollup sibling)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        F.count(F.lit(1)).alias("n_orders"),
        F.grouping_id().alias("gid"),
    )


def q_string_agg_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation per group: the names of the
    low-key customers per market segment, sorted then joined — the
    deterministic form of listagg/string_agg (unordered collect_list
    is partition-order-dependent; the explicit sort pins it)."""
    c = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 100)
    return c.groupBy("c_mktsegment").agg(
        F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("names"),
        F.count(F.lit(1)).alias("n"),
    )


_GROUPING_SETS_SQL = """
    SELECT o_orderpriority, o_orderstatus,
           round(sum(o_totalprice), 2) AS revenue,
           count(*) AS n_orders
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
"""


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the two single-column sets — NOT
    expressible as rollup/cube): identical ANSI text on both engines,
    one Expand + partial-agg pass in Spark."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_GROUPING_SETS_SQL)


MKT_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def q_one_hot_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-hot encoding with a pinned category list (static schema, no
    distinct-scan job, zero shuffle — the scale-safe encoder contract)."""
    from centimators_spark.operators.encoding import one_hot_encode

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return one_hot_encode(c, "c_mktsegment", MKT_SEGMENTS, prefix="seg")


def q_era_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The era-scoring report (mean/std/Sharpe/max-drawdown of per-era
    correlation — the Numerai-style diagnostic): bit-exact via DECIMAL
    moment sums, a shared closed-form corr expression, and integer
    micro-unit cumulative drawdown."""
    from centimators_spark.ml.metrics import era_report

    li = load_table(spark, sf_dir, "lineitem").select(
        F.unix_timestamp(F.date_trunc("month", F.col("l_shipdate"))).alias(
            "era"
        ),
        F.col("l_quantity").cast("long").alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("e100"),
    )
    return era_report(li, "q", "e100", "era")


AUTOCORR_LAGS = (1, 5)


def q_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier autocorrelation of the price series at lags 1 and 5
    (one shared window sort + one grouped aggregation on the same key);
    bit-exact DECIMAL-sum corr."""
    from centimators_spark.ml.metrics import autocorr

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "e100", F.round(F.col("l_extendedprice") * 100).cast("long")
    )
    return autocorr(
        li,
        "e100",
        group_col="l_suppkey",
        order_cols=[
            "l_shipdate", "l_orderkey", "l_linenumber", "l_quantity",
            "l_extendedprice", "l_discount", "l_tax",
        ],
        lags=AUTOCORR_LAGS,
    )


FUNNEL_STAGES = ["view", "click", "purchase"]


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view→click→purchase per user (conditional-min
    chain, each stage one tiny aggregation broadcast back)."""
    from centimators_spark.analytics import funnel

    return funnel(load_table(spark, sf_dir, "events"), FUNNEL_STAGES)


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle (first-seen week × activity
    week offset × distinct users)."""
    from centimators_spark.analytics import retention_cohorts

    return retention_cohorts(load_table(spark, sf_dir, "events"))


def q_window_navigation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation window functions per supplier: first/last/nth value
    over the running frame plus lead — the complement of the lag-based
    transformers; one fused WindowExec for the identical-frame trio."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        *[F.col(c) for c in ("l_shipdate", "l_orderkey", "l_linenumber",
                             "l_quantity", "l_extendedprice", "l_discount",
                             "l_tax")]
    )
    running = w.rowsBetween(Window.unboundedPreceding, 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.first("l_quantity").over(running).alias("first_qty"),
        F.last("l_quantity").over(running).alias("running_last_qty"),
        F.nth_value("l_quantity", 3).over(running).alias("third_qty"),
        F.lead("l_quantity", 2).over(w).alias("lead2_qty"),
    )


def q_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): histogram
    of customers by non-urgent order count, zeros included. The
    agg-of-agg-over-outer-join shape — and the scale-correct plan for
    it: the fact table pre-aggregates to per-customer counts FIRST
    (one shuffle, output bounded by |customer|), and the left outer
    join runs against that aggregated-small side as a BROADCAST, never
    an outer shuffle join of customer against raw orders."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    counts = (
        orders.where(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    per_cust = customer.join(
        F.broadcast(counts), F.col("c_custkey") == F.col("o_custkey"), "left"
    ).select(
        "c_custkey",
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("c_count"),
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


_CUSTOMER_DISTRIBUTION_ORACLE = """
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) t
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
"""


def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customers): orders whose total
    quantity exceeds a threshold, with customer and order detail —
    the HAVING-threshold semi-join shape: the fact aggregates once on
    its own key (sum quantity per order), the surviving key set is
    tiny and BROADCASTS back into orders and then customer, so the
    heavy table is read once and never re-shuffled. Quantities ride
    an exact integer carrier; top-100 by total price is a
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty")
        )
        .where(F.col("sum_qty") > 210)
    )
    j = orders.join(
        F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey")
    ).join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
    return j.select(
        "c_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("tp_cents"),
        "sum_qty",
    ).orderBy(F.col("tp_cents").desc(), "o_orderkey").limit(100)


_LARGE_VOLUME_CUSTOMERS_ORACLE = """
    SELECT c_custkey, o_orderkey, o_orderdate,
           CAST(round(o_totalprice * 100) AS BIGINT) AS tp_cents,
           sum_qty
    FROM orders
    JOIN (SELECT l_orderkey,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING sum(CAST(l_quantity AS BIGINT)) > 210) big
      ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY tp_cents DESC, o_orderkey
    LIMIT 100
"""


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue under an OR-of-ANDs
    predicate): three disjoint (brand, size-range, quantity-range)
    conjunctions OR-ed together across the part⋈lineitem join. The
    shape the suite lacked: a DISJUNCTION that references BOTH join
    sides, so no single conjunct can be pushed whole — but the
    part-only envelope (brand ∈ {...} AND size ≤ 30) and the
    lineitem-only envelope (quantity ≤ 32) are each implied by the
    disjunction and DO push into their scans (audited), so the
    broadcast join probes a pre-filtered fact, and the residual OR
    evaluates post-join inside codegen. Revenue rides exact cents."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    arm = lambda brand, smax, qlo, qhi: (  # noqa: E731
        (F.col("p_brand") == brand)
        & (F.col("p_size").between(1, smax))
        & (F.col("l_quantity").between(qlo, qhi))
    )
    cond = arm("Brand#1", 10, 1, 12) | arm("Brand#2", 20, 10, 22) | arm(
        "Brand#3", 30, 20, 32
    )
    return (
        j.where(cond)
        .groupBy("p_brand")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
                .cast("long")
            ).alias("revenue_cents"),
            F.count(F.lit(1)).cast("long").alias("n_lines"),
        )
        .orderBy("p_brand")
    )


_DISJUNCTIVE_REVENUE_ORACLE = """
    SELECT p_brand,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 12)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
           AND l_quantity BETWEEN 10 AND 22)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
           AND l_quantity BETWEEN 20 AND 32)
    GROUP BY p_brand
    ORDER BY p_brand
"""


def _ols_oracle_sql() -> str:
    """Mirror of q_linear_regression: exact decimal Gram sums + the SAME
    Cramer expression the Spark side evaluates (ml/cramer.py)."""
    from centimators_spark.ml import cramer

    cols = ["q", "d100", "t100", "1.0"]
    names = ["q", "d", "t", "one"]
    k = len(cols)
    sums = []
    for i in range(k):
        for j in range(i, k):
            sums.append(
                f"sum(CAST({cols[i]} * {cols[j]} AS DECIMAL(38,0)))"
                f" AS g_{names[i]}_{names[j]}"
            )
        sums.append(
            f"sum(CAST({cols[i]} * e100 AS DECIMAL(38,0))) AS m_{names[i]}"
        )
    G = [
        [
            f"CAST(g_{names[min(i, j)]}_{names[max(i, j)]} AS DOUBLE)"
            for j in range(k)
        ]
        for i in range(k)
    ]
    mv = [f"CAST(m_{names[i]} AS DOUBLE)" for i in range(k)]
    theta = ", ".join(
        f"{expr} AS x{i}" for i, expr in enumerate(cramer.solve_sql(G, mv))
    )
    return f"""
        WITH s AS (
          SELECT l_orderkey, l_linenumber,
                 CAST(l_quantity AS DOUBLE) AS q,
                 round(l_discount * 100) AS d100,
                 round(l_tax * 100) AS t100,
                 round(l_extendedprice * 100) AS e100
          FROM lineitem
        ), g AS (SELECT {", ".join(sums)} FROM s),
        th AS (SELECT {theta} FROM g)
        SELECT l_orderkey, l_linenumber,
               round((((x3 + q * x0) + d100 * x1) + t100 * x2) / 100, 6)
                 AS prediction
        FROM s CROSS JOIN th
    """


def __funnel_oracle() -> str:
    from centimators_spark.analytics import funnel_oracle_sql

    return funnel_oracle_sql("events", FUNNEL_STAGES)


def __retention_oracle() -> str:
    from centimators_spark.analytics import retention_oracle_sql

    return retention_oracle_sql("events")


def oracle_sql() -> dict[str, str]:
    n1, n2 = VOLUME_NATIONS
    bands_values = ", ".join(
        f"({lo!r}, {hi!r}, {b})" for lo, hi, b in QTY_BANDS
    )
    pivot_cols = ", ".join(
        f"round(sum(CASE WHEN o_orderstatus = '{s}' THEN o_totalprice END), 2)"
        f" AS rev_{s}"
        for s in PIVOT_STATUSES
    )
    from centimators_spark.ml.metrics import (
        autocorr_oracle_sql,
        era_report_oracle_sql,
    )
    from centimators_spark.operators.encoding import one_hot_oracle_sql

    one_hot_exprs = ",\n                   ".join(
        one_hot_oracle_sql("c_mktsegment", MKT_SEGMENTS, prefix="seg")
    )
    return {
        "era_report": era_report_oracle_sql(
            "lineitem",
            "CAST(l_quantity AS BIGINT)",
            "CAST(round(l_extendedprice * 100) AS BIGINT)",
            "CAST(epoch(date_trunc('month', l_shipdate)) AS BIGINT)",
        ),
        "autocorrelation": autocorr_oracle_sql(
            "(SELECT *, CAST(round(l_extendedprice * 100) AS BIGINT)"
            " AS e100 FROM lineitem)",
            "e100",
            group_sql="l_suppkey",
            order_sql=_ORDER_SQL,
            lags=AUTOCORR_LAGS,
            group_alias="l_suppkey",
        ),
        "one_hot_segments": f"""
            SELECT c_custkey, c_mktsegment,
                   {one_hot_exprs}
            FROM customer
        """,
        "grouping_sets_revenue": _GROUPING_SETS_SQL,
        "linear_regression": _ols_oracle_sql(),
        "interval_band_join": f"""
            WITH bands(lo, hi, band) AS (VALUES {bands_values})
            SELECT l_orderkey, l_linenumber, l_quantity, band
            FROM lineitem JOIN bands
              ON l_quantity >= lo AND l_quantity < hi
        """,
        "pivot_revenue": f"""
            SELECT o_orderpriority, {pivot_cols}
            FROM orders GROUP BY o_orderpriority
        """,
        "distinct_counts": """
            SELECT o_orderpriority,
                   count(DISTINCT o_custkey) AS n_cust,
                   count(DISTINCT o_orderdate) AS n_dates,
                   count(*) AS n_orders
            FROM orders GROUP BY o_orderpriority
        """,
        "volume_shipping": f"""
            SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
                   year(l_shipdate) AS l_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                     AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            WHERE (sn.n_name = '{n1}' AND cn.n_name = '{n2}')
               OR (sn.n_name = '{n2}' AND cn.n_name = '{n1}')
            GROUP BY supp_nation, cust_nation, l_year
        """,
        "large_orders": f"""
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   o_totalprice, sum_qty
            FROM orders
            JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
                  FROM lineitem GROUP BY l_orderkey
                  HAVING sum_qty > {LARGE_ORDER_QTY}) b
              ON o_orderkey = b.l_orderkey
            JOIN customer ON o_custkey = c_custkey
        """,
        "salted_join": """
            SELECT o_orderkey, o_custkey AS c_custkey, o_totalprice,
                   c_mktsegment
            FROM orders JOIN customer ON o_custkey = c_custkey
        """,
        "window_navigation": f"""
            SELECT l_orderkey, l_linenumber,
              first_value(l_quantity) OVER wr AS first_qty,
              last_value(l_quantity) OVER wr AS running_last_qty,
              nth_value(l_quantity, 3) OVER wr AS third_qty,
              lead(l_quantity, 2) OVER w AS lead2_qty
            FROM lineitem
            WINDOW
              w AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}),
              wr AS (PARTITION BY l_suppkey ORDER BY {_ORDER_SQL}
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        "event_funnel": __funnel_oracle(),
        "retention_cohorts": __retention_oracle(),
        "above_avg_orders": """
            SELECT o_orderkey, o_totalprice,
                   round((SELECT avg(o_totalprice) FROM orders), 6)
                     AS avg_price
            FROM orders
            WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        """,
        "range_frame_sums": f"""
            SELECT l_orderkey, l_linenumber,
                   sum(l_quantity) OVER w AS qty_30d,
                   count(*) OVER w AS n_30d
            FROM (SELECT l_orderkey, l_linenumber, l_suppkey, l_quantity,
                         CAST(epoch(date_trunc('second', l_shipdate)) AS BIGINT)
                           AS ship_epoch
                  FROM lineitem)
            WINDOW w AS (PARTITION BY l_suppkey ORDER BY ship_epoch
                         RANGE BETWEEN {RANGE_FRAME_SECONDS} PRECEDING
                               AND CURRENT ROW)
        """,
        "cube_revenue": """
            SELECT o_orderpriority, o_orderstatus,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders,
                   CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT)
                     AS gid
            FROM orders
            GROUP BY CUBE(o_orderpriority, o_orderstatus)
        """,
        "string_agg_segment": """
            SELECT c_mktsegment,
                   string_agg(c_name, ',' ORDER BY c_name) AS names,
                   count(*) AS n
            FROM customer WHERE c_custkey <= 100
            GROUP BY c_mktsegment
        """,
        "events_interval_join": """
            SELECT v.event_id, p.event_id AS purchase_event_id, v.user_id,
                   CAST(epoch(date_trunc('second', v.ts)) AS BIGINT)
                     AS ts_epoch,
                   CAST(epoch(date_trunc('second', p.ts)) AS BIGINT)
                     AS purchase_ts_epoch,
                   round(p.value, 6) AS pvalue
            FROM events v
            JOIN events p
              ON v.event_type = 'view' AND p.event_type = 'purchase'
             AND v.user_id = p.user_id
             AND p.ts >= v.ts - INTERVAL 30 MINUTE
             AND p.ts <= v.ts
        """,
        "spearman_by_month": """
            WITH r AS (
              SELECT CAST(epoch(date_trunc('month', l_shipdate)) AS BIGINT) AS era,
                (rank() OVER (PARTITION BY date_trunc('month', l_shipdate)
                              ORDER BY l_quantity)
                 + (count(*) OVER (PARTITION BY date_trunc('month', l_shipdate),
                                   l_quantity) - 1) / 2.0) AS rx,
                (rank() OVER (PARTITION BY date_trunc('month', l_shipdate)
                              ORDER BY l_extendedprice)
                 + (count(*) OVER (PARTITION BY date_trunc('month', l_shipdate),
                                   l_extendedprice) - 1) / 2.0) AS ry
              FROM lineitem
            )
            SELECT era, round(corr(rx, ry), 6) AS spearman FROM r GROUP BY era
        """,
        "events_percentiles": """
            SELECT event_type,
                   round(quantile_cont(value, 0.5), 6) AS p50,
                   round(quantile_cont(value, 0.9), 6) AS p90,
                   round(quantile_cont(value, 0.99), 6) AS p99,
                   count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "asof_join": """
            WITH views AS (
              SELECT event_id, user_id, ts, value FROM events
              WHERE event_type = 'view'
            ), purchases AS (
              SELECT user_id, ts, max(value) AS pvalue FROM events
              WHERE event_type = 'purchase' GROUP BY user_id, ts
            )
            SELECT v.event_id, v.user_id,
                   CAST(epoch(date_trunc('second', v.ts)) AS BIGINT) AS ts_epoch,
                   v.value,
                   CAST(epoch(date_trunc('second', p.ts)) AS BIGINT)
                     AS purchase_ts_epoch,
                   p.pvalue AS purchase_value
            FROM views v
            ASOF LEFT JOIN purchases p
              ON v.user_id = p.user_id AND v.ts >= p.ts
        """,
        "events_windowed_counts": """
            SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS window_start,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM events
            GROUP BY 1, 2
        """,
        "events_sessionize": """
            WITH o AS (
              SELECT user_id, ts, value, event_id,
                CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS brk
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
            ), s AS (
              SELECT *, sum(brk) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS sid
              FROM o
            )
            SELECT user_id,
                   CAST(epoch(date_trunc('second', min(ts))) AS BIGINT)
                     AS session_start,
                   count(*) AS n_events,
                   round(sum(value), 6) AS sum_value
            FROM s GROUP BY user_id, sid
        """,
        "events_json_extract": """
            SELECT event_type,
                   CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT))
                        AS BIGINT) AS sum_k,
                   min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
                   max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "top_orders_per_segment": """
            SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
              SELECT c_mktsegment, o_orderkey, o_totalprice,
                row_number() OVER (PARTITION BY c_mktsegment
                                   ORDER BY o_totalprice DESC, o_orderkey) AS rk
              FROM orders JOIN customer ON o_custkey = c_custkey
            ) WHERE rk <= 3
        """,
        "shipping_priority": """
            SELECT l_orderkey,
                   CAST(epoch(o_orderdate) AS BIGINT) AS o_orderdate_epoch,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-01-01'
              AND l_shipdate > TIMESTAMP '1996-01-01'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "regional_revenue": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
            GROUP BY n_name
        """,
        "sql_returned_revenue": _Q10_SQL,
        "full_outer_activity": """
            WITH a AS (
              SELECT o_custkey AS k, count(*) AS n_orders
              FROM orders GROUP BY o_custkey
            ), b AS (
              SELECT user_id AS k, count(*) AS n_events
              FROM events WHERE user_id <= 2000 GROUP BY user_id
            )
            SELECT coalesce(a.k, b.k) AS k,
                   coalesce(n_orders, 0) AS n_orders,
                   coalesce(n_events, 0) AS n_events,
                   CAST(a.k IS NOT NULL AND b.k IS NOT NULL AS INT) AS in_both
            FROM a FULL OUTER JOIN b ON a.k = b.k
        """,
        "rollup_revenue": """
            SELECT o_orderpriority, o_orderstatus,
                   round(sum(o_totalprice), 2) AS revenue,
                   count(*) AS n_orders,
                   CAST(GROUPING(o_orderpriority, o_orderstatus) AS BIGINT)
                     AS gid
            FROM orders
            GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        """,
        "set_ops_customers": """
            (SELECT c_custkey FROM customer
             WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
             INTERSECT
             SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
            EXCEPT
            SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        """,
        "exists_customers": """
            SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
            FROM customer c
            WHERE EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_totalprice > 300000)
              AND NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_custkey = c.c_custkey
                                AND o.o_orderstatus = 'F')
        """,
        "doc_string_funcs": """
            SELECT doc_id,
                   regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word,
                   length(text) AS len,
                   upper(substring(text, 1, 10)) AS head10,
                   len(string_split(text, ' ')) AS n_tokens,
                   length(text) - length(replace(text, 'a', '')) AS n_a,
                   reverse(substring(text, 1, 6)) AS rev6
            FROM documents
        """,
        "window_distribution": """
            SELECT o_orderkey, c_mktsegment,
                   ntile(4) OVER w AS quartile,
                   round(percent_rank() OVER w, 6) AS pct_rank,
                   round(cume_dist() OVER w, 6) AS cume
            FROM orders JOIN customer ON o_custkey = c_custkey
            WINDOW w AS (PARTITION BY c_mktsegment
                         ORDER BY o_totalprice ASC, o_orderkey ASC)
        """,
    }


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): quarterly revenue per supplier,
    return the supplier(s) achieving the MAX — the view + scalar-max
    decorrelation, planned the scale-correct way: the fact aggregates
    once on its own supplier key (output bounded by |supplier|), the
    scalar max of that tiny frame broadcasts back, and the supplier
    dimension joins broadcast. No window over the fact, no
    re-aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    rev = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("__mx"))
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("__mx"))
        .join(
            F.broadcast(supplier),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.col("s_suppkey"),
            F.col("s_name"),
            F.col("total_revenue"),
        )
    )


_TOP_SUPPLIER_ORACLE = """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
"""


def q_small_lot_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): average yearly
    revenue lost if small-lot orders of one brand's parts were not
    filled — the correlated-average-subquery shape, decorrelated
    the scale-correct way: per-part avg quantity is ONE grouped
    aggregation over the (brand-filtered, broadcast-pruned) fact
    slice, broadcast back as the per-part threshold. l_quantity is
    integer-valued, so the per-part sum (and hence avg = sum/count,
    one IEEE division) is exact and the 0.2·avg threshold compare is
    engine-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    sel = part.where(F.col("p_brand") == "Brand#13").select("p_partkey")
    fact = li.join(
        F.broadcast(sel), F.col("l_partkey") == F.col("p_partkey")
    )
    thr = fact.groupBy("l_partkey").agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("__thr")
    )
    small = fact.join(F.broadcast(thr), "l_partkey").where(
        F.col("l_quantity") < F.col("__thr")
    )
    return small.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
        F.count(F.lit(1)).cast("long").alias("n_small_lots"),
    )


_SMALL_LOT_REVENUE_ORACLE = """
    WITH fact AS (
      SELECT l_partkey, l_quantity, l_extendedprice
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_brand = 'Brand#13'
    ), thr AS (
      SELECT l_partkey, 0.2 * avg(l_quantity) AS t
      FROM fact GROUP BY l_partkey
    )
    SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly,
           CAST(count(*) AS BIGINT) AS n_small_lots
    FROM fact JOIN thr USING (l_partkey)
    WHERE l_quantity < t
"""


def q_volume_dominant_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (nested semi-join chain) re-expressed over the
    available tables (the testdata has no partsupp): suppliers who
    DOMINATE some part — shipped more than 10/3 of their fair share
    of that part's total quantity (share > (10/3)/n_suppliers; an
    absolute share cut degenerates as supplier counts grow with data
    volume, a fair-share multiple does not) —
    listed with their nation. Plan: two grouped aggregations over the
    fact (per (supplier, part), then per part — both map-side partial,
    both bounded by key cardinality), one broadcast join between the
    two tiny aggregates, a distinct supplier key set, and a broadcast
    semi-join into the supplier dimension. Quantity is integer-valued
    → sums exact → the 3·sq·n_sup > 10·tot dominance compare is
    engine-identical integer arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    sup_part = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("__sq")
    )
    part_tot = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("__tot"),
        F.countDistinct("l_suppkey").alias("__ns"),
    )
    dom = (
        sup_part.join(F.broadcast(part_tot), "l_partkey")
        .where(F.col("__sq") * F.col("__ns") * 3 > 10 * F.col("__tot"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supplier.join(
            F.broadcast(dom),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "leftsemi",
        )
        .join(
            F.broadcast(nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )


_VOLUME_DOMINANT_ORACLE = """
    WITH sup_part AS (
      SELECT l_suppkey, l_partkey, sum(l_quantity) AS sq
      FROM lineitem GROUP BY l_suppkey, l_partkey
    ), part_tot AS (
      SELECT l_partkey, sum(l_quantity) AS tot,
             count(DISTINCT l_suppkey) AS ns
      FROM lineitem GROUP BY l_partkey
    ), dom AS (
      SELECT DISTINCT l_suppkey
      FROM sup_part JOIN part_tot USING (l_partkey)
      WHERE sq * ns * 3 > 10 * tot
    )
    SELECT s_suppkey, s_name, n_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE s_suppkey IN (SELECT l_suppkey FROM dom)
"""


# ------------------------------------------- round-10 staged TPC-H shapes


def q_nation_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year): every
    lineitem whose part name contains a color word, profit =
    discounted revenue minus a part-cost charge, grouped by the
    supplier's nation and the order year. (The testdata has no
    partsupp table, so ps_supplycost*l_quantity becomes
    p_retailprice*l_quantity — same join graph, same carriers.)

    Plan (the scale-correct Q9): the LIKE-pruned part dim BROADCASTS
    onto lineitem FIRST (semi-reduces the fact before any shuffle),
    supplier and nation broadcast, and the only data-sized exchange is
    the orderkey shuffle join against orders for the year column.
    Profit sums exact integer carriers (cents x discount-complement
    cents, retail cents x quantity x 100 in the same 1e-4 unit) as
    DECIMAL(38,0); one division at the end, rounded 2dp."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    d = "decimal(38,0)"
    amount = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * F.round((1 - F.col("l_discount")) * 100).cast("long")
        - F.round(F.col("p_retailprice") * 100).cast("long")
        * F.round(F.col("l_quantity")).cast("long")
        * F.lit(100).cast("long")
    )
    pruned = li.join(
        F.broadcast(
            part.where(F.col("p_name").like("%red%")).select(
                "p_partkey", "p_retailprice"
            )
        ),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    return (
        pruned.join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            orders.select("o_orderkey", F.year("o_orderdate").alias("o_year")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("n_name").alias("nation"), "o_year")
        .agg(
            F.round(
                F.sum(amount.cast(d)).cast(d) / 10000, 2
            ).cast("double").alias("sum_profit")
        )
    )


_NATION_PROFIT_ORACLE = """
    SELECT n_name AS nation,
           EXTRACT(year FROM o_orderdate) AS o_year,
           round(sum(CAST(
             CAST(round(l_extendedprice * 100) AS BIGINT)
             * CAST(round((1 - l_discount) * 100) AS BIGINT)
             - CAST(round(p_retailprice * 100) AS BIGINT)
             * CAST(round(l_quantity) AS BIGINT) * 100
           AS DECIMAL(38,0))) / 10000, 2) AS sum_profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
"""


def q_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (ship-mode conditional aggregation): for
    lineitems shipped in one year, per line status count the orders at
    critical priority (1-URGENT / 2-HIGH) vs the rest — the
    filter→join→tiny-key conditional-count plan. (The testdata has no
    l_shipmode/l_commitdate/l_receiptdate; l_linestatus stands in for
    the mode key and the shipdate year for the receipt window — same
    plan shape: pushed fact filter, orderkey shuffle join, conditional
    integer sums on a 2-value group key.)"""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .select("l_orderkey", "l_linestatus")
        .join(
            orders.select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("l_linestatus").alias("line_status"))
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).cast("long").alias(
                "high_line_count"
            ),
            F.sum(F.when(crit, 0).otherwise(1)).cast("long").alias(
                "low_line_count"
            ),
        )
    )


_SHIPMODE_PRIORITY_ORACLE = """
    SELECT l_linestatus AS line_status,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_linestatus
"""


def q_filtered_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship with a NOT-IN
    anti-join): distinct suppliers per (p_brand, p_size) over non-small
    parts outside one brand, EXCLUDING suppliers from a computed
    deny-list (negative account balance — TPC-H's complaints
    predicate). The deny-list is a self-contained subquery → LEFT ANTI
    broadcast join against the fact (never a shuffle: the list is
    bounded by |supplier|); count-distinct is the Expand-based exact
    path."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supplier = load_table(spark, sf_dir, "supplier")
    bad = supplier.where(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(
            F.broadcast(
                part.where(
                    (F.col("p_brand") != "Brand#1")
                    & (F.col("p_type") != "SMALL")
                ).select("p_partkey", "p_brand", "p_size")
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
    )


_FILTERED_SUPPLIER_COUNTS_ORACLE = """
    SELECT p_brand, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'SMALL'
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_size
"""


def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking), explicit — previously
    documented as plan-subsumed by the EXISTS / semi-join family: count
    the quarter's orders that have at least one LATE lineitem
    (l_shipdate more than 90 days after o_orderdate; the testdata has
    no commitdate/receiptdate, so lateness is measured against the
    order date — same correlated-EXISTS shape, same carriers), grouped
    by o_orderpriority.

    Plan (the scale-correct Q4): the quarter filter prunes orders AT
    THE SCAN (PushedFilters), and the EXISTS becomes one LEFT SEMI
    shuffle join on orderkey — lineitem is never widened, duplicates
    never materialize, and the count agg is map-side combined over
    five priority values."""
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-10-01").cast("timestamp"))
    ).select("o_orderkey", "o_orderdate", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    late = o.join(
        li,
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("order_count")
    )


_ORDER_PRIORITY_ORACLE = """
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-07-01'
      AND o_orderdate < TIMESTAMP '1995-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey
          AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
    GROUP BY o_orderpriority
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change), explicit — previously
    documented as plan-subsumed by the filtered-agg family: potential
    revenue from 1995 shipments in the discount band [5%, 7%] with
    quantity < 24. Revenue sums EXACT integer carriers (price cents x
    discount cents, 1e-4 units) as DECIMAL(38,0) — one division at the
    end; the discount band compares the integer cents too, so the
    boundary is ulp-proof on both engines. n_items rides along as the
    integer witness.

    Plan: a single scan — every predicate pushes down, the agg is one
    map-side-combined partial, no join, no wide shuffle (the canonical
    'Q6 is a scan' plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    d = "decimal(38,0)"
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_quantity") < 24)
        )
        .where(disc_c.between(5, 7))
        .agg(
            F.round(
                F.sum((price_c * disc_c).cast(d)).cast(d) / 10000, 2
            ).cast("double").alias("revenue"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


_FORECAST_REVENUE_ORACLE = """
    SELECT round(sum(CAST(
             CAST(round(l_extendedprice * 100) AS BIGINT)
             * CAST(round(l_discount * 100) AS BIGINT)
           AS DECIMAL(38,0))) / 10000, 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_quantity < 24
      AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 7
"""
