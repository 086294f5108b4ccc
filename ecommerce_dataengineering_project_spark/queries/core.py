"""Core reference-parity queries (SURVEY §2a-2h) on the fixture tables.

Domain mapping (purchases fact -> lineitem): price=l_extendedprice,
quantity=l_quantity, member_discount=l_discount,
supplement_price=l_tax, transaction_time=l_shipdate. The operator
semantics (and where relevant the exact arithmetic) are the
reference's; the tables are the driver's fixtures.

Float-reproducibility policy: per-row expressions are left exact (same
IEEE expression tree evaluates bit-equal in Spark and DuckDB);
aggregated doubles are rounded on output (double addition is not
associative across partition orders).
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.functions.revenue import final_amount, total_purchase
from ecommerce_dataengineering_project_spark.functions.scalars import (
    round_half_up,
    stable_id,
    starts_with_any,
)
from ecommerce_dataengineering_project_spark.operators.aggregates import (
    daily_sales,
    dedup_keep_first,
    high_watermark,
    incremental_filter,
)
from ecommerce_dataengineering_project_spark.operators.joins import asof_join, broadcast_enrich
from ecommerce_dataengineering_project_spark.operators.windows import (
    running_sum,
    top_k_per_group,
    with_lag_lead,
)
from ecommerce_dataengineering_project_spark.sources.readers import load_table

# Column mapping lineitem -> purchase semantics (SURVEY §2b).
def _amount():
    return final_amount("l_extendedprice", "l_quantity", "l_discount", "l_tax")


_AMOUNT_SQL = "l_extendedprice*l_quantity*(1-l_discount)+l_tax"
_REVENUE_SQL = "l_extendedprice*(1-l_discount)"


def q_daily_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (A1+O1+P5+P7): daily revenue + txn count.

    The reference's one real analytical query
    (anomaly_detection.py:25-33) over the lineitem fact.
    """
    return daily_sales(
        load_table(spark, sf_dir, "lineitem"),
        ts_col="l_shipdate",
        amount=_amount(),
        id_col="l_orderkey",
    )


def q_fct_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold-model projection (P5/P6/P7/P10, fct_purchases.sql:30-47)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").cast("string").alias("transaction_id"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_partkey").cast("string").alias("product_id"),
        F.to_date("l_shipdate").alias("purchase_date"),
        _amount().alias("final_amount"),
        (F.col("l_returnflag") == F.lit("R")).alias("is_member"),
    )


def q_total_purchase_producer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Producer-variant revenue (P8, models/purchase.py:23-25) — kept
    distinct from P7 on purpose (they disagree; SURVEY §7 risk 3)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        total_purchase("l_extendedprice", "l_quantity", "l_discount", "l_tax").alias(
            "total_purchase"
        ),
    )


def q_conditional_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional discount/supplement pricing (P15/P16,
    producer.py:128-141)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "F", F.lit(0.10)).otherwise(F.lit(0.0)).alias(
            "member_discount"
        ),
        F.when(F.col("o_orderpriority").startswith("1"), F.lit(1.99))
        .otherwise(F.lit(0.0))
        .alias("supplement_price"),
    )


def q_string_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String surface (P13/P14/§2h): lower, prefix-set membership,
    money formatting (models/purchase.py:27-43)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower(F.col("p_name")).alias("name_lower"),
        starts_with_any("p_name", ["s", "c"]).alias("has_sc_prefix"),
        F.format_string("$%.2f", F.col("p_retailprice")).alias("price_display"),
    )


def q_scalar_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar math/hash sweep (§2h): abs, round, log1p, sha2 stable id
    (producer.py:145's txn-id hash, made deterministic)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_disc_delta"),
        round_half_up(F.col("l_extendedprice") / 7.0, 3).alias("price_seventh"),
        round_half_up(F.log1p(F.col("l_extendedprice")), 6).alias("log_price"),
        stable_id("l_orderkey", "l_linenumber").alias("txn_id"),
    )


def q_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental only-new-rows filter (P9/A2, fct_purchases.sql:24-27):
    rows newer than (MAX watermark - 30 days)."""
    li = load_table(spark, sf_dir, "lineitem")
    wm = high_watermark(li, "l_shipdate") - timedelta(days=30)
    return incremental_filter(li, "l_shipdate", wm).select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )


def q_broadcast_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension enrichment join (J1/J3): fact x broadcast dim, revenue
    per brand. The fact side never shuffles for the join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        broadcast_enrich(li, part, on=[li.l_partkey == part.p_partkey])
        .groupBy("p_brand")
        .agg(
            round_half_up(F.sum(F.expr(_REVENUE_SQL)), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def q_multi_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way star join (J3 generalization): revenue by region x
    nation — exercises Catalyst join reordering + broadcasts."""
    t = {n: load_table(spark, sf_dir, n) for n in ("customer", "orders", "lineitem", "nation", "region")}
    return (
        t["lineitem"]
        .join(t["orders"], t["lineitem"].l_orderkey == t["orders"].o_orderkey)
        .join(t["customer"], t["orders"].o_custkey == t["customer"].c_custkey)
        .join(F.broadcast(t["nation"]), t["customer"].c_nationkey == t["nation"].n_nationkey)
        .join(F.broadcast(t["region"]), t["nation"].n_regionkey == t["region"].r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            round_half_up(F.sum(F.expr(_REVENUE_SQL)), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by value per priority (§2f, dashboard rankings)."""
    o = load_table(spark, sf_dir, "orders")
    return top_k_per_group(
        o.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        partition_by=["o_orderpriority"],
        order_by=[F.col("o_totalprice").desc(), F.col("o_orderkey").asc()],
        k=3,
    )


def q_ingestion_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dashboard's freshness gauge (reference README.md:78 — the
    71 h ingestion-SLA metric), deterministically: hours each event
    stream lags the most recent ingested event. The global max rides
    in as a broadcast scalar; one groupBy total."""
    e = load_table(spark, sf_dir, "events")
    glob = e.agg(F.max("ts").alias("latest_overall"))
    per_type = e.groupBy("event_type").agg(F.max("ts").alias("latest"))
    lag_hours = (
        F.unix_micros(F.col("latest_overall")) - F.unix_micros(F.col("latest"))
    ) / F.lit(3600.0 * 1e6)
    return per_type.crossJoin(F.broadcast(glob)).select(
        "event_type",
        "latest",
        round_half_up(lag_hours, 6).alias("lag_hours"),
    )


def q_window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family analytics in one pass (§2f): quartile bucket,
    percent_rank, cume_dist per order within its priority class. All
    three are exact rationals over the rank, so the oracle matches
    bit-for-bit; one window sort serves every function."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("int").alias("quartile"),
        round_half_up(F.percent_rank().over(w), 6).alias("pct_rank"),
        round_half_up(F.cume_dist().over(w), 6).alias("cume"),
    )


TRAILING_DAYS = 7


def q_range_frame_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2f RANGE frame (the value-based window arm, physically distinct
    from ROWS frames): per user-event, the count and value-sum of that
    user's events in the trailing 7 days — RANGE BETWEEN 6 days
    PRECEDING AND CURRENT ROW over the event-time axis. One keyed
    window sort; the frame is value-bounded so ties on ts aggregate
    together regardless of row order (what makes RANGE deterministic
    where a ROWS frame would not be).

    Sum is over integer cents (value is 2-dp money in the fixture:
    scale, sum exactly, unscale) — a double running sum's accumulation
    order inside a RANGE frame is engine-private, cents are exact."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    day = 86400
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-(TRAILING_DAYS - 1) * day, 0)
    )
    # floor(x+0.5), not round(): Spark and DuckDB disagree on double
    # rounding (functions/scalars.py) — this form is engine-portable
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_trailing"),
        (F.sum(cents).over(w).cast("double") / 100.0).alias("value_trailing"),
    )


def q_window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2f value-navigation functions: per user, the first and last
    event value in time order plus the 2nd event's type — FIRST_VALUE /
    LAST_VALUE over the full-partition frame and NTH_VALUE(2). The
    props-derived nullable column exercises IGNORE NULLS (first
    non-null JSON k per user), the arm where engines commonly diverge.
    Deterministic: ordered by (ts, event_id) — a total order."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    base = e.withColumn(
        "k_val",
        F.when(
            F.col("event_id") % 5 != 0, F.get_json_object("props", "$.k").cast("int")
        ),
    )
    order = [F.col("ts").asc(), F.col("event_id").asc()]
    w = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    wo = Window.partitionBy("user_id").orderBy(*order)
    return (
        base.select(
            "user_id",
            F.row_number().over(wo).alias("__rn"),
            F.count(F.lit(1)).over(w).alias("n_events"),
            F.first("value").over(w).alias("first_value"),
            F.last("value").over(w).alias("last_value"),
            F.nth_value("event_type", 2).over(w).alias("second_type"),
            F.first("k_val", ignorenulls=True).over(w).alias("first_k"),
        )
        .where(F.col("__rn") == 1)  # one summary row per user, same sort
        .drop("__rn")
    )


def q_running_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-key balance (A4 expressed relationally,
    producer.py:157-181): cumulative shipped quantity per part."""
    li = load_table(spark, sf_dir, "lineitem")
    return running_sum(
        li.select("l_partkey", "l_orderkey", "l_linenumber", "l_shipdate", "l_quantity"),
        partition_by=["l_partkey"],
        order_by=[F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber")],
        value="l_quantity",
        out_col="running_qty",
    ).select("l_partkey", "l_orderkey", "l_linenumber", "running_qty")


def q_lag_lead_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic lag/lead per user over the event stream (§2f)."""
    e = load_table(spark, sf_dir, "events")
    out = with_lag_lead(
        e.select("event_id", "user_id", "ts", "value"),
        partition_by=["user_id"],
        order_by=[F.col("ts"), F.col("event_id")],
        value="value",
    )
    return out.select(
        "event_id",
        "user_id",
        "value",
        "prev_value",
        "next_value",
        (F.col("value") - F.col("prev_value")).alias("delta"),
    )


def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic key dedup (A3, dbt unique_key intent,
    fct_purchases.sql:7): first line per order."""
    li = load_table(spark, sf_dir, "lineitem")
    # (l_orderkey, l_linenumber) is not unique in the synthetic fixture,
    # so the ordering includes l_quantity to stay a total order over the
    # projected columns — deterministic survivor on any engine.
    return dedup_keep_first(
        li.select("l_orderkey", "l_linenumber", "l_quantity"),
        key_cols=["l_orderkey"],
        order_by=[F.col("l_linenumber").asc(), F.col("l_quantity").asc()],
    )


def q_except_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (§2g): positive-balance customers who never
    ordered."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.where(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("custkey"))
        .subtract(o.select(F.col("o_custkey").alias("custkey")))
    )


def q_union_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set union-distinct (§2g) of two customer cohorts."""
    c = load_table(spark, sf_dir, "customer")
    rich = c.where(F.col("c_acctbal") > 1000).select(F.col("c_custkey").alias("custkey"))
    sampled = c.where(F.col("c_custkey") % 7 == 0).select(F.col("c_custkey").alias("custkey"))
    return rich.union(sampled).distinct()


def q_tumbling_window_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window agg (T6's batch shape): hourly event
    counts + value sums."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window(F.col("ts"), "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_half_up(F.sum("value"), 2).alias("total_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def q_json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-enforced JSON parse (P2/P3, streaming_consumer.py:69-71):
    from_json on the props payload, then flatten."""
    e = load_table(spark, sf_dir, "events")
    parsed = e.withColumn("data", F.from_json(F.col("props"), "k INT"))
    return parsed.select("event_id", F.col("data.k").alias("prop_k"))


def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL corpus interchange (S2/K5-analog for the LLM-pipeline
    format): events written as 4 gzip JSONL shards, read back with the
    declared schema, returned verbatim. µs timestamps survive via the
    explicit timestampFormat on both legs (the default JSON format
    ms-truncates — the same pitfall the streaming bronze path guards).
    The oracle is the source table itself: a value-identical round trip
    is the whole claim."""
    from ecommerce_dataengineering_project_spark.sources.readers import (
        read_json_lines,
    )
    from ecommerce_dataengineering_project_spark.sources.writers import (
        write_json_lines,
    )
    from ecommerce_dataengineering_project_spark.streaming.harness import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    path = scratch_dir("jsonl/events", sf_dir)
    write_json_lines(ev.repartition(4), path)
    fmt = {"timestampFormat": "yyyy-MM-dd HH:mm:ss.SSSSSS"}
    return read_json_lines(spark, path, ev.schema, options=fmt)


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC columnar round trip (the second native columnar format):
    events written as ORC, read back, returned verbatim — timestamps
    are µs-native in ORC so no format plumbing is needed (contrast
    jsonl_roundtrip). The oracle is the source table itself."""
    from ecommerce_dataengineering_project_spark.sources.writers import write_orc
    from ecommerce_dataengineering_project_spark.streaming.harness import scratch_dir

    ev = load_table(spark, sf_dir, "events")
    path = scratch_dir("orc/events", sf_dir)
    write_orc(ev.repartition(4), path)
    from ecommerce_dataengineering_project_spark.sources.readers import normalize_ntz

    return normalize_ntz(spark.read.schema(ev.schema).orc(path))


QUARANTINE_MOD = 7  # every 7th event's payload is corrupted in-query


def q_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1's bad-record path: every ~7th props payload is deterministically
    corrupted (non-JSON prefix), then parsed with PERMISSIVE
    ``from_json`` + corrupt-record capture (streaming/bronze_silver.py
    parse_quarantine). Clean rows parse; corrupt rows keep their
    original bytes and flag ``quarantined`` — nothing is silently
    nulled or dropped. The oracle parses the clean rows with DuckDB's
    own JSON engine, an independent check of the parse itself."""
    from ecommerce_dataengineering_project_spark.streaming.bronze_silver import (
        parse_quarantine,
    )
    from pyspark.sql.types import IntegerType, StructField, StructType

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(
            F.col("event_id") % QUARANTINE_MOD == 0,
            F.concat(F.lit("corrupt:"), F.col("props")),
        )
        .otherwise(F.col("props"))
        .alias("value"),
    )
    schema = StructType([StructField("k", IntegerType())])
    return parse_quarantine(e, schema)


def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-sales anomaly scoring, SQL-native (P11/P12 +
    anomaly_detection.py:25-52 re-expressed without sklearn): global
    z-score over the daily aggregate; |z| > 3 flags an anomaly.

    Stats are a 1-row broadcast cross join, not an unpartitioned
    window — the daily aggregate is |days| rows, the stats join adds
    no shuffle at any scale.
    """
    daily = q_daily_sales(spark, sf_dir)
    stats = daily.agg(
        F.avg("daily_total_sales").alias("mu"),
        F.stddev_samp("daily_total_sales").alias("sigma"),
    )
    z = (F.col("daily_total_sales") - F.col("mu")) / F.col("sigma")
    return (
        daily.crossJoin(F.broadcast(stats))
        .select(
            "purchase_date",
            "daily_total_sales",
            round_half_up(F.log1p("daily_total_sales"), 6).alias("log_sales"),
            round_half_up(z, 4).alias("z_score"),
            (F.abs(z) > 3.0).alias("is_anomaly"),
        )
    )


def q_order_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global ORDER BY + LIMIT top-k (O1 + top-k; Spark plans this as
    TakeOrderedAndProject — no full sort at scale)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (J2's nearest-match, scalable form): each event picks
    the user's latest order at-or-before the event time. Single shuffle
    on the key via the union-sentinel window pattern."""
    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_orderdate", "o_orderkey", "o_totalprice"
    )
    # Right side deduped to one row per (key, ts) so tie-breaking is
    # engine-independent.
    o_uniq = dedup_keep_first(
        o, key_cols=["user_id", "o_orderdate"], order_by=[F.col("o_orderkey").desc()]
    )
    joined = asof_join(
        e,
        o_uniq,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        value_cols=["o_orderkey", "o_totalprice"],
    )
    return joined.select(
        "event_id",
        "user_id",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_totalprice").alias("last_order_total"),
    )


def q_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide analytics surface): quantity by linestatus x
    returnflag."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(round_half_up(F.sum("l_quantity"), 2))
    )


def q_grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (§2d beyond rollup/cube): revenue at
    (returnflag), (linestatus), and grand-total levels — the
    asymmetric set neither ROLLUP nor CUBE expresses. grouping_id
    disambiguates NULL-as-group-all from NULL data."""
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__gs_lineitem")
    # D-suffixed double literals: sql_round_half_up's bare 100.0 parses
    # as DECIMAL in Spark SQL (it targets the DuckDB oracle dialect)
    rev = f"FLOOR((SUM({_REVENUE_SQL})) * 100.0D + 0.5D) / 100.0D"
    return spark.sql(
        f"""
        SELECT l_returnflag, l_linestatus,
               {rev} AS revenue,
               CAST(GROUPING_ID(l_returnflag, l_linestatus) AS INT) AS g_id
        FROM __gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def q_unpivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt — the inverse of the pivot surface (§2d wide->long):
    the pivoted quantity matrix back to (linestatus, returnflag, qty)
    rows via DataFrame.unpivot (Spark's native UNPIVOT, one generate
    node, no shuffle beyond the pivot's own agg). Composed with the
    pivot so the pair proves melt(pivot(x)) reproduces the long form.
    DataFrame.unpivot KEEPS null cells (absent status x flag combos);
    the explicit notNull filter applies SQL UNPIVOT's EXCLUDE NULLS
    default, which is what makes the round trip exact."""
    wide = q_pivot_returnflag(spark, sf_dir)
    return wide.unpivot(
        ids=["l_linestatus"],
        values=["A", "N", "R"],
        variableColumnName="l_returnflag",
        valueColumnName="sum_qty",
    ).where(F.col("sum_qty").isNotNull())


def q_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping id (OLAP surface): revenue at (flag,status),
    (flag), and grand-total levels."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            round_half_up(F.sum(F.expr(_REVENUE_SQL)), 2).alias("revenue"),
            F.grouping_id().cast("int").alias("g_id"),
        )
    )


def q_segment_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join: unshipped BUILDING-segment orders by
    pending revenue. Customer/orders filters push to the scans; the
    customer side broadcasts; total order (revenue desc, date, key)
    makes the LIMIT deterministic."""
    c = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-07-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-06-30").cast("timestamp")
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("order_date"))
        .agg(round_half_up(F.sum(F.expr(_REVENUE_SQL)), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("order_date"), F.col("l_orderkey"))
        .limit(10)
    )


def q_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join: local supplier revenue per ASIA
    nation for one order year. Dims (supplier/nation/region/customer)
    broadcast; the only large shuffle is lineitem x orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(s), (F.col("l_suppkey") == F.col("s_suppkey"))
              & (F.col("c_nationkey") == F.col("s_nationkey")))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(round_half_up(F.sum(F.expr(_REVENUE_SQL)), 2).alias("revenue"))
    )


def q_exists_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS: priority counts over orders having at
    least one line shipped after 2000-01-01 — a left-semi join (the
    relational form of EXISTS; no row duplication, one shuffle)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


def q_cube_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): every subtotal combination
    in one pass (§2d beyond rollup; GROUPING SETS expansion is
    map-side, one shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(
            round_half_up(F.sum(F.col("l_quantity")), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


RANGE_TOL_SEC = 60


def q_range_join_coincident(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-user coincidence detection: for each event, how many
    events from OTHER users land within +/-60 s, and their total value.
    A true non-equi (range) join expressed as a binned equi-join
    (operators/joins.range_join_binned) — the plan is a hash join on
    the bin id, never a BNLJ; the oracle states the naive theta join."""
    from ecommerce_dataengineering_project_spark.operators.joins import range_join_binned

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    pairs = range_join_binned(e, e, "ts", "ts", RANGE_TOL_SEC * 1_000_000)
    pairs = pairs.where(F.col("l_user_id") != F.col("r_user_id"))
    return (
        pairs.groupBy(F.col("l_event_id").alias("event_id"))
        .agg(
            F.count(F.lit(1)).alias("n_coincident"),
            round_half_up(F.sum("r_value"), 2).alias("coincident_value"),
        )
    )


QUERIES = {
    "daily_sales": q_daily_sales,
    "range_join_coincident": q_range_join_coincident,
    "segment_top_orders": q_segment_top_orders,
    "region_revenue": q_region_revenue,
    "exists_late_orders": q_exists_late_orders,
    "cube_revenue": q_cube_revenue,
    "fct_purchases": q_fct_purchases,
    "total_purchase_producer": q_total_purchase_producer,
    "conditional_pricing": q_conditional_pricing,
    "string_predicates": q_string_predicates,
    "scalar_functions": q_scalar_functions,
    "incremental_watermark": q_incremental_watermark,
    "broadcast_enrich": q_broadcast_enrich,
    "multi_join_revenue": q_multi_join_revenue,
    "window_topk": q_window_topk,
    "window_analytics": q_window_analytics,
    "ingestion_freshness": q_ingestion_freshness,
    "running_inventory": q_running_inventory,
    "lag_lead_events": q_lag_lead_events,
    "dedup_keep_first": q_dedup_keep_first,
    "except_antijoin": q_except_antijoin,
    "union_segments": q_union_segments,
    "tumbling_window_events": q_tumbling_window_events,
    "json_extract_events": q_json_extract_events,
    "json_quarantine": q_json_quarantine,
    "jsonl_roundtrip": q_jsonl_roundtrip,
    "orc_roundtrip": q_orc_roundtrip,
    "range_frame_activity": q_range_frame_activity,
    "anomaly_zscore": q_anomaly_zscore,
    "order_limit_topk": q_order_limit_topk,
    "asof_join_events": q_asof_join_events,
    "pivot_returnflag": q_pivot_returnflag,
    "unpivot_returnflag": q_unpivot_returnflag,
    "rollup_revenue": q_rollup_revenue,
    "grouping_sets_revenue": q_grouping_sets_revenue,
    "window_first_last": q_window_first_last,
}

ORACLES = {
    # melt(pivot(x)) == the long-form aggregate (EXCLUDE NULLS).
    "unpivot_returnflag": """
        SELECT l_linestatus, l_returnflag,
               FLOOR(SUM(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty
        FROM lineitem GROUP BY 1, 2
    """,
    # RANGE frame over integer epoch-seconds (Spark unix_timestamp
    # truncates to seconds; DATE_DIFF('second', ...) is the same
    # truncation) — sub-second ties share a frame in both engines.
    "range_frame_activity": f"""
        SELECT event_id, user_id, ts,
               COUNT(*) OVER w AS n_trailing,
               CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) OVER w
                    AS DOUBLE) / 100.0 AS value_trailing
        FROM events
        WINDOW w AS (
            PARTITION BY user_id
            ORDER BY DATE_DIFF('second', TIMESTAMP '1970-01-01', ts)
            RANGE BETWEEN {(7 - 1) * 86400} PRECEDING AND CURRENT ROW
        )
    """,
    # A faithful round trip returns the source rows unchanged.
    "jsonl_roundtrip": """
        SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
    "orc_roundtrip": """
        SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
    # Clean rows: DuckDB's own JSON engine parses k (independent of
    # Spark's parser). Corrupt rows: NULL k, original payload kept.
    "json_quarantine": f"""
        SELECT event_id,
               CASE WHEN event_id % {QUARANTINE_MOD} = 0 THEN NULL
                    ELSE CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER)
               END AS k,
               CASE WHEN event_id % {QUARANTINE_MOD} = 0
                    THEN 'corrupt:' || props END AS corrupt_payload,
               event_id % {QUARANTINE_MOD} = 0 AS quarantined
        FROM events
    """,
    "range_join_coincident": f"""
        SELECT a.event_id AS event_id,
               CAST(COUNT(*) AS BIGINT) AS n_coincident,
               FLOOR(SUM(b.value) * 100.0 + 0.5) / 100.0 AS coincident_value
        FROM events a JOIN events b
          ON a.user_id <> b.user_id
         AND ABS(DATE_DIFF('microsecond', b.ts, a.ts)) <= {60 * 1000000}
        GROUP BY 1
    """,
    "exists_late_orders": """
        SELECT o_orderpriority, COUNT(*) AS order_count
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_shipdate >= TIMESTAMP '2000-01-01'
        )
        GROUP BY 1
    """,
    "cube_revenue": """
        SELECT l_returnflag, l_linestatus,
               FLOOR((SUM(l_quantity)) * 100.0 + 0.5) / 100.0 AS sum_qty,
               COUNT(*) AS n_rows
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
    "segment_top_orders": f"""
        SELECT l_orderkey,
               CAST(o_orderdate AS DATE) AS order_date,
               FLOOR((SUM({_REVENUE_SQL})) * 100.0 + 0.5) / 100.0 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-07-01'
          AND l_shipdate > TIMESTAMP '1998-06-30'
        GROUP BY 1, 2
        ORDER BY revenue DESC, order_date, l_orderkey
        LIMIT 10
    """,
    "region_revenue": f"""
        SELECT n_name,
               FLOOR((SUM({_REVENUE_SQL})) * 100.0 + 0.5) / 100.0 AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY 1
    """,
    "daily_sales": f"""
        SELECT CAST(l_shipdate AS DATE) AS purchase_date,
               FLOOR((SUM({_AMOUNT_SQL})) * 100.0 + 0.5) / 100.0 AS daily_total_sales,
               COUNT(l_orderkey) AS daily_transaction_count
        FROM lineitem GROUP BY 1
    """,
    "fct_purchases": f"""
        SELECT CAST(l_orderkey AS VARCHAR) AS transaction_id,
               l_linenumber AS line_number,
               CAST(l_partkey AS VARCHAR) AS product_id,
               CAST(l_shipdate AS DATE) AS purchase_date,
               {_AMOUNT_SQL} AS final_amount,
               l_returnflag = 'R' AS is_member
        FROM lineitem
    """,
    "total_purchase_producer": """
        SELECT l_orderkey, l_linenumber,
               FLOOR((l_quantity*(l_extendedprice+l_tax)*(1-l_discount)) * 100.0 + 0.5) / 100.0 AS total_purchase
        FROM lineitem
    """,
    "conditional_pricing": """
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'F' THEN CAST(0.10 AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS member_discount,
               CASE WHEN o_orderpriority LIKE '1%' THEN CAST(1.99 AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS supplement_price
        FROM orders
    """,
    "string_predicates": """
        SELECT p_partkey,
               LOWER(p_name) AS name_lower,
               SUBSTR(p_name, 1, 1) IN ('s', 'c') AS has_sc_prefix,
               PRINTF('$%.2f', p_retailprice) AS price_display
        FROM part
    """,
    "scalar_functions": """
        SELECT l_orderkey, l_linenumber,
               ABS(l_discount - 0.05) AS abs_disc_delta,
               FLOOR((l_extendedprice / 7.0) * 1000.0 + 0.5) / 1000.0 AS price_seventh,
               FLOOR((LN(1 + l_extendedprice)) * 1000000.0 + 0.5) / 1000000.0 AS log_price,
               SHA256(CONCAT_WS(CHR(31), CAST(l_orderkey AS VARCHAR),
                                CAST(l_linenumber AS VARCHAR))) AS txn_id
        FROM lineitem
    """,
    "incremental_watermark": """
        SELECT l_orderkey, l_linenumber, l_shipdate
        FROM lineitem
        WHERE l_shipdate > (SELECT MAX(l_shipdate) - INTERVAL 30 DAY FROM lineitem)
    """,
    "broadcast_enrich": f"""
        SELECT p_brand,
               FLOOR((SUM({_REVENUE_SQL})) * 100.0 + 0.5) / 100.0 AS revenue,
               COUNT(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1
    """,
    "multi_join_revenue": f"""
        SELECT r_name, n_name,
               FLOOR((SUM({_REVENUE_SQL})) * 100.0 + 0.5) / 100.0 AS revenue,
               COUNT(*) AS n_rows
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation   ON c_nationkey = n_nationkey
        JOIN region   ON n_regionkey = r_regionkey
        GROUP BY 1, 2
    """,
    "window_topk": """
        SELECT * FROM (
            SELECT o_orderkey, o_orderpriority, o_totalprice,
                   CAST(ROW_NUMBER() OVER (
                        PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    "ingestion_freshness": """
        WITH g AS (SELECT MAX(ts) AS latest_overall FROM events)
        SELECT event_type,
               MAX(ts) AS latest,
               FLOOR(((EPOCH_US(g.latest_overall) - EPOCH_US(MAX(ts)))
                      / 3600000000.0) * 1000000.0 + 0.5) / 1000000.0 AS lag_hours
        FROM events, g
        GROUP BY event_type, g.latest_overall
    """,
    "window_analytics": """
        SELECT o_orderkey, o_orderpriority,
               CAST(NTILE(4) OVER w AS INTEGER) AS quartile,
               FLOOR(PERCENT_RANK() OVER w * 1000000.0 + 0.5) / 1000000.0 AS pct_rank,
               FLOOR(CUME_DIST() OVER w * 1000000.0 + 0.5) / 1000000.0 AS cume
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
                     ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
    "running_inventory": """
        SELECT l_partkey, l_orderkey, l_linenumber,
               SUM(l_quantity) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running_qty
        FROM lineitem
    """,
    "lag_lead_events": """
        SELECT event_id, user_id, value,
               LAG(value)  OVER w AS prev_value,
               LEAD(value) OVER w AS next_value,
               value - LAG(value) OVER w AS delta
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    "dedup_keep_first": """
        SELECT l_orderkey, l_linenumber, l_quantity FROM (
            SELECT l_orderkey, l_linenumber, l_quantity,
                   ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                      ORDER BY l_linenumber ASC, l_quantity ASC) AS rn
            FROM lineitem
        ) WHERE rn = 1
    """,
    "except_antijoin": """
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 0
        EXCEPT
        SELECT o_custkey AS custkey FROM orders
    """,
    "union_segments": """
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 1000
        UNION
        SELECT c_custkey AS custkey FROM customer WHERE c_custkey % 7 = 0
    """,
    "tumbling_window_events": """
        SELECT DATE_TRUNC('hour', ts) AS window_start,
               COUNT(*) AS n_events,
               FLOOR((SUM(value)) * 100.0 + 0.5) / 100.0 AS total_value
        FROM events GROUP BY 1
    """,
    "json_extract_events": """
        SELECT event_id,
               CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS prop_k
        FROM events
    """,
    "anomaly_zscore": f"""
        WITH daily AS (
            SELECT CAST(l_shipdate AS DATE) AS purchase_date,
                   FLOOR((SUM({_AMOUNT_SQL})) * 100.0 + 0.5) / 100.0 AS daily_total_sales
            FROM lineitem GROUP BY 1
        ), stats AS (
            SELECT AVG(daily_total_sales) AS mu,
                   STDDEV_SAMP(daily_total_sales) AS sigma
            FROM daily
        )
        SELECT purchase_date, daily_total_sales,
               FLOOR((LN(1 + daily_total_sales)) * 1000000.0 + 0.5) / 1000000.0 AS log_sales,
               FLOOR(((daily_total_sales - mu) / sigma) * 10000.0 + 0.5) / 10000.0 AS z_score,
               ABS((daily_total_sales - mu) / sigma) > 3.0 AS is_anomaly
        FROM daily, stats
    """,
    "order_limit_topk": """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
    """,
    "asof_join_events": """
        WITH o_uniq AS (
            SELECT o_custkey AS user_id, o_orderdate,
                   MAX_BY(o_orderkey, o_orderkey) AS o_orderkey,
                   MAX_BY(o_totalprice, o_orderkey) AS o_totalprice
            FROM orders GROUP BY 1, 2
        )
        SELECT e.event_id, e.user_id,
               o.o_orderkey AS last_orderkey,
               o.o_totalprice AS last_order_total
        FROM events e
        ASOF LEFT JOIN o_uniq o
          ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
    """,
    "pivot_returnflag": """
        SELECT l_linestatus,
               FLOOR((SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END)) * 100.0 + 0.5) / 100.0 AS "A",
               FLOOR((SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END)) * 100.0 + 0.5) / 100.0 AS "N",
               FLOOR((SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END)) * 100.0 + 0.5) / 100.0 AS "R"
        FROM lineitem GROUP BY 1
    """,
    "rollup_revenue": f"""
        SELECT l_returnflag, l_linestatus,
               FLOOR((SUM({_REVENUE_SQL})) * 100.0 + 0.5) / 100.0 AS revenue,
               CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS g_id
        FROM lineitem
        GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    "grouping_sets_revenue": f"""
        SELECT l_returnflag, l_linestatus,
               FLOOR((SUM({_REVENUE_SQL})) * 100.0 + 0.5) / 100.0 AS revenue,
               CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS g_id
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    # Value-navigation window functions; IGNORE NULLS on the seeded
    # nullable column is the arm engines most often get wrong.
    "window_first_last": """
        WITH b AS (
            SELECT user_id, event_id, ts, event_type, value,
                   CASE WHEN event_id % 5 <> 0
                        THEN CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER)
                   END AS k_val
            FROM events
        ),
        w AS (
            SELECT user_id,
                   ROW_NUMBER() OVER win AS rn,
                   COUNT(*) OVER wfull AS n_events,
                   FIRST_VALUE(value) OVER wfull AS first_value,
                   LAST_VALUE(value) OVER wfull AS last_value,
                   NTH_VALUE(event_type, 2) OVER wfull AS second_type,
                   FIRST_VALUE(k_val IGNORE NULLS) OVER wfull AS first_k
            FROM b
            WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id),
                   wfull AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND UNBOUNDED FOLLOWING)
        )
        SELECT user_id, n_events, first_value, last_value, second_type,
               first_k
        FROM w WHERE rn = 1
    """,
}


# One ANSI string, two engines: the SQL front door is exercised with
# the IDENTICAL text DuckDB runs as the oracle (shipping-priority
# shape: unshipped-revenue top-10 with a deterministic tiebreak;
# half-up rounding spelled as FLOOR(x*100+0.5)/100 because both
# engines implement that formula identically, unlike their round()).
_SQL_API_TEXT = """
    SELECT l_orderkey,
           FLOOR(SUM(l_extendedprice * (1 - l_discount)) * 100 + 0.5) / 100
               AS revenue,
           o_orderdate, o_orderpriority
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey ASC
    LIMIT 10
"""


def q_sql_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `spark.sql` entry point (the API arm every DataFrame query
    here deliberately does NOT use): temp views + one ANSI statement,
    run verbatim by both engines. Catalyst plans it identically to the
    DataFrame formulation — same pushdown, same broadcast decisions —
    which is the point: SQL users of the engine lose nothing."""
    for t in ("orders", "lineitem"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_SQL_API_TEXT)


QUERIES["sql_shipping_priority"] = q_sql_shipping_priority
ORACLES["sql_shipping_priority"] = _SQL_API_TEXT
