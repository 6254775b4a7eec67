"""Core relational operators (SURVEY.md §2.2-§2.6: P1-P9, A1-A6, J1-J6,
W1-W4, Q1-Q5) as declarative DataFrame builders over the star schema.

Everything here is pure ``pyspark.sql.functions`` — no Python UDFs — so every
query stays inside whole-stage codegen, filters/projections push down to the
parquet scan, and Catalyst/AQE pick physical join strategies.  Dimension
tables are explicitly ``broadcast()`` in star joins (J2): at the 100 TB
design point the fact side never shuffles for a dim lookup.

Double-typed aggregates are rounded at fixed precision *in the query* (and
identically in the DuckDB oracle) so value hashes are accumulation-order
independent; ranking windows always carry a unique tiebreak key so top-k /
latest-per-key results are deterministic under ties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.numeric import exact_avg, exact_sum


# --------------------------------------------------------------------------
# Aggregations (A1-A5) over lineitem/orders
# --------------------------------------------------------------------------

def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-02") -> DataFrame:
    """TPC-H Q1 shape: the canonical scan->filter->hash-agg pipeline.

    Partial aggregation (map-side combine) is automatic for hash aggregates;
    the shipdate filter and 7-column projection push down to the scan.
    """
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit(cutoff).cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            exact_sum("l_quantity").alias("sum_qty"),
            exact_sum("l_extendedprice").alias("sum_base_price"),
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "sum_disc_price"
            ),
            exact_sum(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
            ).alias("sum_charge"),
            exact_avg("l_quantity").alias("avg_qty"),
            exact_avg("l_extendedprice").alias("avg_price"),
            exact_avg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def agg_stats_orders(orders: DataFrame) -> DataFrame:
    """A1/A3: count/min/max/avg/sum per group."""
    return orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("min_price"),
        F.max("o_totalprice").alias("max_price"),
        exact_avg("o_totalprice").alias("avg_price"),
        exact_sum("o_totalprice").alias("sum_price"),
    )


def distinct_customers_per_priority(orders: DataFrame) -> DataFrame:
    """A4: exact distinct aggregation (expand+two-phase under the hood)."""
    return orders.groupBy("o_orderpriority").agg(
        F.countDistinct("o_custkey").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def rollup_status_priority(orders: DataFrame) -> DataFrame:
    """A5: hierarchical rollup with grouping_id (matches DuckDB GROUPING)."""
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_sum("o_totalprice").alias("sum_price"),
            F.grouping_id().alias("gid"),
        )
    )


def cube_status_priority(orders: DataFrame) -> DataFrame:
    """A5: full cube over two dimensions."""
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.grouping_id().alias("gid"))
    )


# --------------------------------------------------------------------------
# Projections / filters (P1-P9)
# --------------------------------------------------------------------------

def filter_project_lineitem(lineitem: DataFrame) -> DataFrame:
    """P9 + column pruning: predicate+projection that must reach the scan
    (verify with plans.explain: PushedFilters on l_shipdate/l_returnflag)."""
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_returnflag") == "R")
            & (F.col("l_discount").between(0.02, 0.08))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
        )
    )


def string_funcs_projection(customer: DataFrame) -> DataFrame:
    """P5: upper/substr/concat/like/length/split on dimension strings."""
    return customer.select(
        "c_custkey",
        F.upper(F.col("c_name")).alias("name_upper"),
        F.substring(F.col("c_name"), 1, 8).alias("name_prefix"),
        F.concat_ws("#", F.col("c_mktsegment"), F.col("c_custkey").cast("string")).alias(
            "seg_key"
        ),
        F.length(F.col("c_name")).alias("name_len"),
        F.col("c_name").like("%1%").alias("has_one"),
    )


def datetime_projection(orders: DataFrame) -> DataFrame:
    """P6: year/month/date_trunc/datediff over the canonical time dimension."""
    return orders.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("month_start"),
        F.datediff(F.lit("2001-12-31").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_eoy"
        ),
    )


def math_projection(lineitem: DataFrame) -> DataFrame:
    """P7: arithmetic/round/abs in the projection (codegen'd)."""
    return lineitem.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * F.col("l_quantity")).alias("gross"),
        F.abs(F.col("l_discount") - F.lit(0.05)).alias("disc_dev"),
        (F.col("l_tax") * 100.0).alias("tax_pct"),
    )


def json_props_extraction(events: DataFrame) -> DataFrame:
    """P1/P2 on a real JSON column: extract + cast (reference's JSON_VALUE
    + CAST shape, /root/reference/README.md:178-179)."""
    return events.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
        "event_type",
    )


# --------------------------------------------------------------------------
# Joins (J1-J6)
# --------------------------------------------------------------------------

def order_revenue_by_nation(
    region: DataFrame,
    nation: DataFrame,
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    region_name: str = "ASIA",
) -> DataFrame:
    """TPC-H Q5 shape (J1+J2): star join with every dimension broadcast.

    Only the orders<->lineitem join shuffles; region/nation/customer ride
    along as broadcast hash joins, so the plan is a single shuffle on
    orderkey regardless of fact-table scale.
    """
    dims = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(F.col("r_name") == region_name)
        .select("c_custkey", "n_name")
    )
    return (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(dims), orders.o_custkey == dims.c_custkey)
        .groupBy("n_name")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
    )


def customer_order_counts(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """J3: left outer join preserving customers with zero orders."""
    return (
        customer.join(orders, customer.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(exact_sum("o_totalprice"), F.lit(0.0)).alias("total_spent"),
        )
    )


def customers_with_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """J4: left semi join (EXISTS)."""
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_mktsegment")


def customers_without_orders(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """J4: left anti join (NOT EXISTS)."""
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_mktsegment")


def shipping_priority(
    customer: DataFrame, orders: DataFrame, lineitem: DataFrame, segment: str = "BUILDING"
) -> DataFrame:
    """TPC-H Q3 shape: selective join + agg + deterministic top-10."""
    cutoff = F.lit("1998-03-15").cast("timestamp")
    return (
        customer.filter(F.col("c_mktsegment") == segment)
        .join(orders, customer.c_custkey == orders.o_custkey)
        .filter(F.col("o_orderdate") < cutoff)
        .join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .filter(F.col("l_shipdate") > cutoff)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            exact_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


def lineitems_shipped_within(orders: DataFrame, lineitem: DataFrame, days: int = 60) -> DataFrame:
    """J6: equi+range join — lineitems shipped within ``days`` of their
    order date. The equi key (orderkey) drives a hash join; the range
    predicate is evaluated post-join, so this stays one shuffle (never a
    cartesian)."""
    return (
        lineitem.join(
            orders,
            (lineitem.l_orderkey == orders.o_orderkey)
            & (lineitem.l_shipdate >= orders.o_orderdate)
            & (lineitem.l_shipdate < F.col("o_orderdate") + F.expr(f"INTERVAL {days} DAYS")),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lineitems"),
            exact_sum("l_extendedprice").alias("sum_price"),
        )
    )


# --------------------------------------------------------------------------
# Windows (W1-W4)
# --------------------------------------------------------------------------

def latest_order_per_customer(orders: DataFrame) -> DataFrame:
    """W1/J5: latest-per-key via ranking window — the batch form of the CDC
    upsert merge (SURVEY.md §2.4 J5). Tiebreak on o_orderkey for determinism."""
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
    )


def order_gap_days(orders: DataFrame) -> DataFrame:
    """W2: lag — days since the customer's previous order (CDC-diff shape)."""
    w = W.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"),
            F.lag(F.col("o_orderdate").cast("date")).over(w),
        ).alias("gap_days"),
    )


def cumulative_daily_revenue(orders: DataFrame) -> DataFrame:
    """W3: running aggregate over a pre-aggregated (hence deterministic)
    daily series. Aggregate first, then window — the window input has one
    row per (status, day) so the frame sum is order-stable."""
    daily = (
        orders.groupBy(
            "o_orderstatus", F.col("o_orderdate").cast("date").alias("order_date")
        )
        .agg(F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("day_rev_dec"))
    )
    w = (
        W.partitionBy("o_orderstatus")
        .orderBy("order_date")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return daily.select(
        "o_orderstatus",
        "order_date",
        F.col("day_rev_dec").cast("double").alias("day_rev"),
        F.sum("day_rev_dec").over(w).cast("double").alias("cum_rev"),
    )


def top_orders_per_segment(customer: DataFrame, orders: DataFrame, k: int = 3) -> DataFrame:
    """W4: top-k per group with full deterministic ordering."""
    joined = orders.join(
        F.broadcast(customer.select("c_custkey", "c_mktsegment")),
        orders.o_custkey == F.col("c_custkey"),
    )
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        joined.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("c_mktsegment", "rk", "o_orderkey", "o_totalprice")
    )


# --------------------------------------------------------------------------
# Sorts / limits / set ops (Q1-Q5)
# --------------------------------------------------------------------------

def top_orders_global(orders: DataFrame, k: int = 10) -> DataFrame:
    """Q1+Q2: global order+limit → TakeOrderedAndProject (no full sort at
    scale: per-partition top-k then merge on the driver)."""
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(k)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def union_hi_lo_value_orders(orders: DataFrame) -> DataFrame:
    """Q3: union of two disjoint slices (multi-partition-dir analog)."""
    hi = orders.filter(F.col("o_totalprice") > 150000).withColumn("bucket", F.lit("hi"))
    lo = orders.filter(F.col("o_totalprice") < 5000).withColumn("bucket", F.lit("lo"))
    return hi.unionByName(lo).select("bucket", "o_orderkey", "o_totalprice")


def distinct_status_priority(orders: DataFrame) -> DataFrame:
    """Q4: distinct over a projection."""
    return orders.select("o_orderstatus", "o_orderpriority").distinct()


def intersect_except_customers(orders: DataFrame) -> DataFrame:
    """Q5: intersect + except on key sets, tagged and unioned so one result
    exercises both set operators."""
    a = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    b = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    both = a.intersect(b).withColumn("tag", F.lit("both"))
    only_urgent = a.distinct().exceptAll(b.distinct()).withColumn("tag", F.lit("urgent_only"))
    return both.unionByName(only_urgent).select("tag", "o_custkey")


def salted_aggregate(
    df: DataFrame,
    key_cols: list[str],
    salt_on: str,
    n_salts: int = 8,
) -> DataFrame:
    """Skew-safe two-phase aggregation (count + exact sum of o_totalprice).

    Phase 1 groups by (key, salt) so a pathologically hot key spreads over
    ``n_salts`` reducers; phase 2 re-aggregates the (tiny) partials.
    Decimal partial sums re-aggregate exactly, so the result is identical to
    the single-phase groupBy.
    """
    salted = df.withColumn("__salt", F.pmod(F.hash(F.col(salt_on)), F.lit(n_salts)))
    partial = salted.groupBy(*key_cols, "__salt").agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("__s"),
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("__n").alias("n_orders"),
        F.sum("__s").cast("double").alias("sum_price"),
    )


# --------------------------------------------------------------------------
# As-of join (J6 extension): nearest-prior-event match, no range explosion
# --------------------------------------------------------------------------

def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    payload_cols: list[str],
) -> DataFrame:
    """As-of join: for every left row, the single right row with the
    greatest ``right_ts`` <= ``left_ts`` for the same ``key`` (left rows
    with no prior right row keep NULL payloads). The operator Spark lacks
    natively (DuckDB/kdb ASOF JOIN; Pandas merge_asof).

    Spark-first plan — union-tag + running ``last(ignorenulls)``:

    1. dedup the right side per (key, ts) with an argmax struct (makes tie
       resolution deterministic, which native ASOF leaves unspecified),
    2. union both sides with a tag, right-before-left at equal ts so an
       exactly-simultaneous right row IS visible (<= semantics),
    3. one window per key ordered by (ts, tag): ``last(payload,
       ignorenulls=True)`` over rows-unbounded-preceding carries the most
       recent right payload forward,
    4. keep the left rows.

    ONE shuffle (on key), linear in |left| + |right|: never the range-join
    explosion (|left| x |right per key|) a naive BETWEEN join produces, and
    never a per-left-row sort. At 100 TB both sides shuffle once on the same
    key and the window is a single pass per partition.
    """
    payload = [F.max(F.struct(*payload_cols)).alias("__p")]
    r = (
        right.groupBy(F.col(key).alias("__k"), F.col(right_ts).alias("__ts"))
        .agg(*payload)
        .select("__k", "__ts", F.lit(0).alias("__is_left"), "__p")
    )
    left_cols = left.columns
    l = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
        *[F.col(c) for c in left_cols],
    )
    r_full = r.select(
        "__k", "__ts", "__is_left", "__p",
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in left_cols],
    )
    w = (
        W.partitionBy("__k")
        .orderBy(F.col("__ts").asc(), F.col("__is_left").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    carried = l.unionByName(r_full).withColumn(
        "__match", F.last("__p", ignorenulls=True).over(w)
    )
    out = carried.filter(F.col("__is_left") == 1).select(
        *left_cols,
        *[F.col(f"__match.{p}").alias(f"asof_{p}") for p in payload_cols],
        F.col("__match").isNotNull().alias("asof_matched"),
    )
    return out


def gap_fill_locf(
    df: DataFrame,
    key_col: str,
    date_col: str,
    value_cols: list[str],
) -> DataFrame:
    """Time-series gap filling: a complete per-key daily date spine (each
    key's own min..max day) with missing days filled by last observation
    carried forward (LOCF) — the standard densification step before
    joining time series or charting.

    Shape: per-key min/max aggregate -> ``sequence()`` + ``explode`` builds
    the spine JVM-side (rows generated at the executors, never the driver),
    left join with the actuals on (key, day) — co-partitioned by the same
    keys, one shuffle — then ``last(ignorenulls=True)`` over an unbounded
    preceding frame fills gaps. Spine cardinality is keys x days, generated
    distributed; no collect, no Python.
    """
    day = F.date_trunc("day", F.col(date_col)).alias("day")
    actual = df.groupBy(F.col(key_col), day).agg(
        *[F.first(c).alias(c) for c in value_cols]
    )
    spine = (
        df.groupBy(key_col)
        .agg(
            F.date_trunc("day", F.min(date_col)).alias("d0"),
            F.date_trunc("day", F.max(date_col)).alias("d1"),
        )
        .select(
            key_col,
            F.explode(
                F.sequence("d0", "d1", F.expr("interval 1 day"))
            ).alias("day"),
        )
    )
    joined = spine.join(actual, [key_col, "day"], "left")
    w = (
        W.partitionBy(key_col)
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    filled = joined.select(
        key_col,
        "day",
        *[
            F.last(F.col(c), ignorenulls=True).over(w).alias(c)
            for c in value_cols
        ],
        *[F.col(c).isNull().alias(f"{c}_filled") for c in value_cols],
    )
    return filled


def profile_table(df: DataFrame, cols: list[str]) -> DataFrame:
    """ANALYZE-style one-pass column profile: for each listed column, row
    count, null count, exact distinct count, and min/max (as strings, so
    every column type shares one output schema). ONE aggregate job computes
    every column's stats — the scan happens once regardless of how many
    columns are profiled (count-distinct planning is Spark's expand-based
    multi-distinct, still a single pass over the data); the result is then
    unpivoted driver-free via stack(). The stats feed broadcast-vs-shuffle
    decisions and layout choices (which columns are worth Z-ordering)."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__n, {c}__nulls, {c}__distinct, {c}__min, {c}__max"
        for c in cols
    )
    return one.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS "
        "(column_name, n_rows, n_nulls, n_distinct, min_value, max_value)"
    )
