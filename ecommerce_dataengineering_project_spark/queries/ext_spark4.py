"""Modern-SQL / Spark-4-native surface (SURVEY §2k X24).

The reference exposes its lake to analysts through Athena/Trino SQL
(`athena/` DDL, dbt models such as `fct_purchases.sql`), so the engine
needs the contemporary ANSI surface those users reach for, not just the
operator set the pipeline itself exercises. This module covers the
Spark-4 front door features, each hash-checked against DuckDB running
the equivalent (often verbatim) SQL:

- recursive CTEs (``WITH RECURSIVE`` — SPARK-24497, new in Spark 4):
  bounded-depth reachability over the co-purchase graph;
- correlated ``LATERAL`` subqueries with per-row ORDER BY/LIMIT:
  Catalyst decorrelates to a map-side partial ``WindowGroupLimit``
  top-k + broadcast join — the scale-right plan, no per-row re-scan;
- the VARIANT type (``parse_json``/``variant_get``): semi-structured
  shredding with typed extraction, the open-format answer to the
  reference's JSON payload columns (`models/purchase.py:11`);
- string collations (``COLLATE UTF8_LCASE``): collation-aware grouping
  without materializing a normalized key column;
- SQL UDFs (``CREATE FUNCTION ... RETURNS``): the declarative scalar
  function path — body inlined by Catalyst, zero Python overhead,
  unlike the reference's driver-side Python helpers
  (`models/purchase.py:23-25`);
- ``approx_top_k``: the mergeable frequent-items sketch built-in
  (exact below ``maxItemsTracked``, which the oracle check exploits);
- theta sketches (``theta_sketch_agg`` + union/intersection/
  difference): DataSketches set algebra — the only sketch family whose
  INTERSECTION is first-class, which HLL cannot do. Below the nominal
  entry count (lgk=THETA_LGK -> 16384, explicitly propagated to the
  UNION whose Spark default is a SMALLER lgk=12 — the r14 audit catch,
  see THETA_LGK) theta sketches are in exact mode, so the driver check
  at sf<=0.1 (<=15k customers, verified at sf0.1 itself) is bit-exact
  while the same query at 100 TB degrades gracefully to a
  bounded-error estimate with fixed-size, map-side-combinable state.

Scale notes per query live on the functions; none introduce a Python
row path — everything stays inside codegen/whole-stage JVM execution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.sources.readers import load_table

# ---------------------------------------------------------------------------
# recursive CTE: bounded-depth reachability (WITH RECURSIVE, Spark 4)
# ---------------------------------------------------------------------------

# Shared verbatim with the DuckDB oracle. BFS from the smallest part
# key over "appeared in the same order" edges; min-depth per reached
# part. The frontier is tiny (one seed) and the depth bound caps the
# iteration count, so each recursive step is one equi-join against the
# deduplicated edge relation — at 100 TB the edge build dominates and
# is a single shuffle on l_orderkey; the iterations reuse it.
_RECURSIVE_SQL = """
    WITH RECURSIVE edges AS (
        -- co-purchase edges over the part universe's %4==0 slice: the
        -- recursive term re-evaluates its CTEs per iteration (Spark
        -- does not materialize them), so the edge build is paid
        -- depth+1 times - bounding the universe keeps the bench-scale
        -- cost honest while exercising the identical recursion
        SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        WHERE a.l_partkey % 4 = 0 AND b.l_partkey % 4 = 0
    ),
    reach(part, depth) AS (
        SELECT CAST(MIN(l_partkey) AS BIGINT) AS part, 0 AS depth
        FROM lineitem WHERE l_partkey % 4 = 0
        UNION ALL
        SELECT e.dst AS part, r.depth + 1 AS depth
        FROM reach r JOIN edges e ON e.src = r.part
        WHERE r.depth < 2
    )
    SELECT part, CAST(MIN(depth) AS INT) AS min_depth
    FROM reach
    GROUP BY part
"""


def q_recursive_cte_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: 3-level co-purchase reachability via ``WITH RECURSIVE``.

    The iterative-DataFrame twin is ``operators/graph.py`` (PageRank /
    connected components); this is the declarative arm analysts get
    through the SQL front door — same engine, one ANSI statement.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_RECURSIVE_SQL)


# ---------------------------------------------------------------------------
# correlated LATERAL subquery with per-group ORDER BY ... LIMIT
# ---------------------------------------------------------------------------

_LATERAL_SQL = """
    SELECT c.c_custkey, c.c_mktsegment, t.o_orderkey, t.o_totalprice
    FROM customer c JOIN LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 3
    ) t ON true
"""


def q_lateral_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: top-3 orders per customer as a correlated LATERAL join.

    Catalyst decorrelates this into ``WindowGroupLimit`` (partial
    map-side top-k BEFORE the shuffle) + one hash join — verified in
    tests/test_spark4.py; the naive reading (re-run the subquery per
    customer row) never executes. The window-function twin is
    ``window_topk``; this is the SQL-standard spelling.
    """
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# VARIANT: semi-structured shredding with typed extraction
# ---------------------------------------------------------------------------


def q_variant_shred_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: JSON payload -> VARIANT -> typed shred -> aggregate.

    The reference lands raw JSON event payloads and extracts fields
    downstream (`models/purchase.py:11`, silver-layer casts); VARIANT
    is the Spark-4 way: parse ONCE into a binary semi-structured value,
    extract with path + target type, no per-field re-parse of the text.
    ``variant_get`` stays inside codegen (no Python). The oracle shreds
    the same payloads with DuckDB's JSON functions — typed results must
    match exactly.

    Scale: at 100 TB the win is parse-once + columnar-binary storage of
    the variant; shredded reads prune to the referenced paths.
    """
    e = load_table(spark, sf_dir, "events")
    shredded = e.select(F.parse_json("props").alias("v")).select(
        F.variant_get("v", "$.k", "int").alias("k"),
        F.variant_get("v", "$.k", "bigint").alias("k_long"),
    )
    return shredded.groupBy("k").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("k_long").alias("k_sum"),
    )


# ---------------------------------------------------------------------------
# collation-aware grouping
# ---------------------------------------------------------------------------


def q_collated_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: case-insensitive grouping via ``COLLATE UTF8_LCASE``.

    A mixed-case source label (even doc_ids upper-cased — deterministic
    skew the fixture doesn't have naturally) groups under the LCASE
    collation without materializing ``lower(key)``: the collation rides
    the comparison, so the same plan shape works for any collation
    (accent-insensitive, locale) where a normalize-the-key rewrite
    cannot. Output key is re-anchored to binary collation (min value)
    so the result schema is a plain string for the driver hash.
    """
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        F.when(F.col("doc_id") % 2 == 0, F.upper("source"))
        .otherwise(F.col("source"))
        .alias("k")
    )
    return (
        keyed.groupBy(F.collate("k", "UTF8_LCASE").alias("kc"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.collate(F.col("kc"), "UTF8_BINARY").alias("src_ci"),
            "n",
        )
        # the group representative under a case-insensitive collation is
        # whichever spelling a partition saw first — normalize for the
        # order-insensitive value hash
        .withColumn("src_ci", F.lower("src_ci"))
    )


# ---------------------------------------------------------------------------
# SQL UDFs (CREATE FUNCTION ... RETURNS) — declarative scalar functions
# ---------------------------------------------------------------------------


def q_sql_udf_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: SQL UDF (Spark 4 ``CREATE FUNCTION ... RETURN expr``).

    The reference computes purchase amounts in driver-side Python
    helpers (`models/purchase.py:23-25`); a SQL UDF is the engine-native
    packaging: named, catalogued, and INLINED by Catalyst into the
    calling plan — the optimized plan is identical to writing the
    expression by hand (pinned in tests/test_spark4.py), so there is no
    per-call overhead, unlike any Python UDF. The oracle states the
    inlined expression directly.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_amount(
            p DOUBLE, d DOUBLE, t DOUBLE) RETURNS DOUBLE
        RETURN p * (1 - d) * (1 + t)
        """
    )
    return spark.sql(
        """
        SELECT l_returnflag,
               FLOOR(SUM(net_amount(l_extendedprice, l_discount, l_tax))
                     * 1e2 + 0.5) / 1e2 AS net_revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        GROUP BY l_returnflag
        """
    )


# ---------------------------------------------------------------------------
# approx_top_k: mergeable frequent-items sketch built-in
# ---------------------------------------------------------------------------


def q_approx_topk_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24/X5: ``approx_top_k`` — frequent items as ONE aggregate.

    Complements the hand-built Misra-Gries summaries in
    ``operators/sketches.py`` (heavy_hitter_tokens): this is the
    built-in, JVM-side, map-side-combinable form. Below
    ``maxItemsTracked`` the sketch tracks every item exactly, so over
    the 5-value ``event_type`` domain the counts are exact and fully
    oracle-checkable; past the budget (the 100-TB regime over an
    unbounded domain) the same query returns guaranteed-overcount-free
    top-k — the error-bound contract at high cardinality is pinned in
    tests/test_spark4.py.
    """
    e = load_table(spark, sf_dir, "events")
    topk = e.select(
        F.expr("approx_top_k(event_type, 10)").alias("tk")
    ).select(F.explode("tk").alias("t"))
    return topk.select(
        F.col("t.item").alias("event_type"), F.col("t.count").alias("n")
    )


# ---------------------------------------------------------------------------
# theta sketches: distinct-set ALGEBRA (union / intersection / difference)
# ---------------------------------------------------------------------------


# Theta nominal entries: the sketches AND the union must carry it.
# r14 audit catch (the institutionalized verify-at-the-largest-decade
# rule, VERDICT r13 item 6, second application after r13's HLL coupon
# boundary): Spark's `theta_union(a, b)` DEFAULT lgNomEntries is 12,
# so the union result downsampled to ~4096 retained hashes and the r9
# docstring's "sf0.1 15k under 16384" claim was FALSE for the union
# term — measured n_union 14907 != 14999 at sf0.1 while intersection
# and difference (which carry no nominal cap) stayed exact. The
# driver's sf0.01 board (1.5k < 4096) was never wrong; the claim was.
# Passing lgk explicitly to the union restores the full 2^14 window
# (bisected on this build: exact at 16384 distinct, off-by-one at
# 16385), now guarded per decade in tests/test_exactness_windows.py.
THETA_LGK = 14


def q_theta_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24/X5: customer-set overlap across half-years via theta sketches.

    HLL (X5, `operators/sketches.py`) only unions; theta sketches keep
    the hashed sample, so INTERSECTION and DIFFERENCE are first-class —
    the sketch answer to "how many buyers did H1 and H2 share?" without
    an exact-distinct shuffle. State is fixed-size (lgk=THETA_LGK ->
    <=16384 retained hashes) and map-side combinable. Below the nominal
    entry count — propagated to the UNION too, see THETA_LGK note — the
    whole algebra is EXACT (sf0.01 has 1.5k customers, sf0.1 15k; both
    verified AT their decade), which makes this driver-checkable
    bit-for-bit against DuckDB's exact COUNT(DISTINCT ...); the
    estimate-mode error contract at higher cardinality is pinned in
    tests/test_spark4.py.
    """
    o = load_table(spark, sf_dir, "orders")
    mid = F.lit("1996-07-01").cast("timestamp")
    sk = o.agg(
        F.theta_sketch_agg(
            F.when(F.col("o_orderdate") < mid, F.col("o_custkey")),
            F.lit(THETA_LGK),
        ).alias("a"),
        F.theta_sketch_agg(
            F.when(F.col("o_orderdate") >= mid, F.col("o_custkey")),
            F.lit(THETA_LGK),
        ).alias("b"),
    )
    return sk.select(
        F.theta_sketch_estimate(F.theta_union("a", "b", F.lit(THETA_LGK)))
        .cast("bigint")
        .alias("n_union"),
        F.theta_sketch_estimate(F.theta_intersection("a", "b"))
        .cast("bigint")
        .alias("n_both"),
        F.theta_sketch_estimate(F.theta_difference("a", "b"))
        .cast("bigint")
        .alias("n_only_h1"),
    )


QUERIES = {
    "recursive_cte_reach": q_recursive_cte_reach,
    "lateral_topk_orders": q_lateral_topk_orders,
    "variant_shred_events": q_variant_shred_events,
    "collated_source_stats": q_collated_source_stats,
    "sql_udf_pricing": q_sql_udf_pricing,
    "approx_topk_event_types": q_approx_topk_event_types,
    "theta_segment_overlap": q_theta_segment_overlap,
}

ORACLES = {
    "recursive_cte_reach": _RECURSIVE_SQL,
    "lateral_topk_orders": _LATERAL_SQL,
    "variant_shred_events": """
        SELECT CAST(json_extract(props, '$.k') AS INTEGER) AS k,
               COUNT(*) AS n,
               CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum
        FROM events
        GROUP BY 1
    """,
    "collated_source_stats": """
        SELECT lower(k) AS src_ci, COUNT(*) AS n
        FROM (SELECT CASE WHEN doc_id % 2 = 0 THEN UPPER(source)
                          ELSE source END AS k
              FROM documents)
        GROUP BY lower(k)
    """,
    "sql_udf_pricing": """
        SELECT l_returnflag,
               FLOOR(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax))
                     * 100.0 + 0.5) / 100.0 AS net_revenue,
               COUNT(*) AS n_lines
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "approx_topk_event_types": """
        SELECT event_type, COUNT(*) AS n
        FROM events
        GROUP BY event_type
    """,
    "theta_segment_overlap": """
        SELECT CAST(COUNT(DISTINCT CASE WHEN in_a THEN k END) +
                    COUNT(DISTINCT CASE WHEN in_b AND NOT in_a THEN k END)
                    AS BIGINT) AS n_union,
               CAST(COUNT(DISTINCT CASE WHEN in_a AND in_b THEN k END)
                    AS BIGINT) AS n_both,
               CAST(COUNT(DISTINCT CASE WHEN in_a AND NOT in_b THEN k END)
                    AS BIGINT) AS n_only_h1
        FROM (SELECT o_custkey AS k,
                     bool_or(o_orderdate < TIMESTAMP '1996-07-01') AS in_a,
                     bool_or(o_orderdate >= TIMESTAMP '1996-07-01') AS in_b
              FROM orders GROUP BY 1)
    """,
}


# ---------------------------------------------------------------------------
# Spark Declarative Pipelines (X26): the reference's dbt models + Airflow
# DAG as ONE declarative graph, via the official pyspark.pipelines API
# ---------------------------------------------------------------------------


def q_sdp_pipeline_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X26: medallion slice as a Spark Declarative Pipeline.

    The reference wires fct_purchases (dbt model) and the daily mart
    through Airflow task order (`sales_pipeline_dag.py:65-107`); here
    the SAME graph is three decorated datasets with NO explicit edges —
    `plans/sdp_local.run_pipeline` discovers the order from dataset
    references (the daily MV is deliberately declared BEFORE the fact
    MV it reads, so the run exercises deferred resolution). Output is
    the daily mart, oracle-checked against daily_sales' base SQL.
    """
    from pyspark import pipelines as pl

    from ecommerce_dataengineering_project_spark.functions.scalars import (
        round_half_up,
    )
    from ecommerce_dataengineering_project_spark.plans.sdp_local import run_pipeline
    from ecommerce_dataengineering_project_spark.streaming.harness import scratch_dir

    def define() -> None:
        @pl.materialized_view(name="daily_sales_sdp")
        def daily() -> DataFrame:  # declared first, resolved second
            f = spark.table("fct_purchases_sdp")
            return f.groupBy("purchase_date").agg(
                round_half_up(F.sum("final_amount"), 2).alias("daily_total_sales"),
                F.count(F.lit(1)).alias("daily_transaction_count"),
            )

        @pl.temporary_view(name="lineitem_sdp")
        def src() -> DataFrame:
            return load_table(spark, sf_dir, "lineitem")

        @pl.materialized_view(name="fct_purchases_sdp")
        def fct() -> DataFrame:
            li = spark.table("lineitem_sdp")
            return li.select(
                F.col("l_shipdate").cast("date").alias("purchase_date"),
                F.expr("l_extendedprice*l_quantity*(1-l_discount)+l_tax").alias(
                    "final_amount"
                ),
            )

    root = scratch_dir("sdp/daily", sf_dir)
    result = run_pipeline(spark, define, root)
    # declaration order was daily, src, fct — execution order must be
    # dependency order (flows are named after their datasets)
    assert result.runs.index("lineitem_sdp") < result.runs.index(
        "fct_purchases_sdp"
    ) < result.runs.index("daily_sales_sdp")
    return result.tables["daily_sales_sdp"]


QUERIES["sdp_pipeline_daily"] = q_sdp_pipeline_daily

ORACLES["sdp_pipeline_daily"] = """
    SELECT CAST(l_shipdate AS DATE) AS purchase_date,
           FLOOR((SUM(l_extendedprice*l_quantity*(1-l_discount)+l_tax)) * 100.0 + 0.5) / 100.0
               AS daily_total_sales,
           COUNT(*) AS daily_transaction_count
    FROM lineitem GROUP BY 1
"""


# ---------------------------------------------------------------------------
# SQL pipe syntax (|>) — Spark 4's composable query form
# ---------------------------------------------------------------------------

_PIPE_SQL = """
    FROM lineitem
    |> EXTEND CAST(l_shipdate AS DATE) AS purchase_date,
              l_extendedprice*l_quantity*(1-l_discount)+l_tax AS amt
    |> AGGREGATE FLOOR(SUM(amt) * 1e2 + 0.5) / 1e2 AS daily_total_sales,
                 COUNT(*) AS daily_transaction_count
       GROUP BY purchase_date
"""


def q_pipe_syntax_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: the flagship daily mart in SQL PIPE syntax (Spark 4 `|>`,
    SPARK-49555 — the linear FROM-first form popularized by GoogleSQL).
    Same Catalyst plan as the nested-SELECT spelling (each pipe stage
    is sugar for one relational operator), so this is purely front-door
    surface — the oracle is the classic rendering and must hash-match.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_PIPE_SQL)


QUERIES["pipe_syntax_sales"] = q_pipe_syntax_sales

ORACLES["pipe_syntax_sales"] = """
    SELECT CAST(l_shipdate AS DATE) AS purchase_date,
           FLOOR(SUM(l_extendedprice*l_quantity*(1-l_discount)+l_tax) * 100.0 + 0.5) / 100.0
               AS daily_total_sales,
           COUNT(*) AS daily_transaction_count
    FROM lineitem GROUP BY 1
"""


# ---------------------------------------------------------------------------
# exact median / deterministic mode (ordered-set aggregates)
# ---------------------------------------------------------------------------


def q_stats_median_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24/§2d: exact ``median`` and deterministic ``mode`` built-ins.

    median is the exact percentile-0.5 (sort-based — the exact twin of
    percentile_approx in X5, worth its shuffle only on bounded groups);
    mode uses Spark 4's deterministic form (``mode(col, true)``: ties
    break to the LOWEST value) so the result is engine-comparable — the
    oracle re-derives the same tie-break with a count/value-ordered
    window, since DuckDB's bare mode() keeps arbitrary ties.
    """
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag,
               median(l_quantity) AS med_qty,
               median(l_extendedprice) AS med_price,
               mode(l_linestatus, true) AS mode_status
        FROM lineitem
        GROUP BY l_returnflag
        """
    )


QUERIES["stats_median_mode"] = q_stats_median_mode

ORACLES["stats_median_mode"] = """
    WITH counts AS (
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n
        FROM lineitem GROUP BY 1, 2
    ),
    modes AS (
        SELECT l_returnflag, l_linestatus,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag
                                  ORDER BY n DESC, l_linestatus ASC) AS rn
        FROM counts
    ),
    meds AS (
        SELECT l_returnflag,
               median(l_quantity) AS med_qty,
               median(l_extendedprice) AS med_price
        FROM lineitem GROUP BY 1
    )
    SELECT m.l_returnflag, m.med_qty, m.med_price,
           md.l_linestatus AS mode_status
    FROM meds m JOIN modes md
      ON m.l_returnflag = md.l_returnflag AND md.rn = 1
"""


# ---------------------------------------------------------------------------
# ANSI-mode safe arithmetic: the try_* function family
# ---------------------------------------------------------------------------


def q_ansi_try_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: ``try_divide`` / ``try_add`` — ANSI SQL error semantics
    made total. Under ANSI mode (the Spark 4 default) division by zero
    and integer overflow RAISE; the try_* family returns NULL instead,
    which is the behavior a 100-TB batch job needs (one poisoned row
    must not kill a 6-hour run — the quarantine pattern, applied to
    arithmetic). The oracle spells the same totality with guards
    (NULLIF / CASE), proving try_* == guarded-expression semantics.

    Scale note (measured r12): try_* catches a JVM exception PER
    FAILING ROW — ~17 µs each. With the overflow arm failing on EVERY
    row this query ran 10.3 s at sf0.1; failing on the mod-99 1% it
    runs 0.34 s (a ~30x cliff; a never-failing arm measures 0.12 s,
    so the remaining gap IS the 1% exception cost). try_* is priced
    for RARE poison; an expression that fails on a data-sized fraction
    of rows needs a guard expression, not a try. Both NULL and
    non-NULL paths stay exercised at every fixture sf (63 mod-99 rows
    at sf0.001).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("try_divide(l_extendedprice, l_quantity - 30.0)").alias(
            "price_per_extra_unit"
        ),
        # 9223372036854775709 + 98 == Long.MAX; only the mod-99 rows
        # (1%) overflow to NULL
        F.expr("try_add(9223372036854775709L, l_orderkey % 100)").alias(
            "near_overflow"
        ),
    )


QUERIES["ansi_try_math"] = q_ansi_try_math

ORACLES["ansi_try_math"] = """
    SELECT l_orderkey,
           l_linenumber,
           l_extendedprice / NULLIF(l_quantity - 30.0, 0.0) AS price_per_extra_unit,
           CASE WHEN l_orderkey % 100 = 99 THEN NULL
                ELSE CAST(9223372036854775709 + (l_orderkey % 100) AS BIGINT)
           END AS near_overflow
    FROM lineitem
"""


# ---------------------------------------------------------------------------
# parameterized SQL + IDENTIFIER binding (injection-safe templating)
# ---------------------------------------------------------------------------


def q_parameterized_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: named-parameter SQL with an IDENTIFIER-bound table name —
    the engine-native answer to string-formatted SQL (values bind as
    literals, identifiers through the IDENTIFIER clause; neither can
    inject). The reference templates its Athena DDL/queries with
    Python f-strings; this is the safe form of that pattern.
    """
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderpriority, COUNT(*) AS n,
               FLOOR(SUM(o_totalprice) * 1e2 + 0.5) / 1e2 AS total_price
        FROM IDENTIFIER(:tbl)
        WHERE o_orderstatus = :status
        GROUP BY o_orderpriority
        """,
        args={"tbl": "orders", "status": "F"},
    )


QUERIES["parameterized_sql"] = q_parameterized_sql

ORACLES["parameterized_sql"] = """
    SELECT o_orderpriority, COUNT(*) AS n,
           FLOOR(SUM(o_totalprice) * 100.0 + 0.5) / 100.0 AS total_price
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# native XML IO (Spark 4: spark-xml went built-in)
# ---------------------------------------------------------------------------


def q_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K5-family, X24: events through the NATIVE XML file format
    (spark-xml was absorbed into Spark 4 core — unlike avro, no
    external jar). Timestamps ride as formatted strings (µs precision,
    same lossless pattern as jsonl_roundtrip: XML's default timestamp
    handling is not µs-safe) and are re-cast on read; the oracle is
    the source table.

    Write fan-out (r14, fifth decade wave): XML's per-row string
    serialization is the dominant CPU term, so the write must keep the
    SESSION's parallelism — the original fixed ``repartition(4)``
    capped serialization at 4 cores forever (measured 5.98x across the
    sf0.1→sf1 decade on a 2.22x scan floor; the cap is exactly the
    kind of fixed fan-out that strangles a 1000-executor write). The
    round-robin exchange only fires when the scan is narrower than the
    session — at lake scale the scan already carries the
    parallelism."""
    from ecommerce_dataengineering_project_spark.streaming.harness import scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_s"),
        "user_id",
        "event_type",
        "value",
    )
    par = spark.sparkContext.defaultParallelism
    if ev.rdd.getNumPartitions() < par:
        ev = ev.repartition(par)
    path = scratch_dir("xml/events", sf_dir)
    (
        ev.write.format("xml")
        .option("rowTag", "event")
        .mode("overwrite")
        .save(path)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "event")
        .schema("event_id BIGINT, ts_s STRING, user_id BIGINT, event_type STRING, value DOUBLE")
        .load(path)
    )
    return back.select(
        "event_id",
        F.to_timestamp("ts_s", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
        "user_id",
        "event_type",
        "value",
    )


QUERIES["xml_roundtrip"] = q_xml_roundtrip

ORACLES["xml_roundtrip"] = """
    SELECT event_id, ts, user_id, event_type, value FROM events
"""


# ---------------------------------------------------------------------------
# SQL scripting (BEGIN...END compound statements) + session variables
# ---------------------------------------------------------------------------


def q_sql_scripting_compound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: SQL scripting (Spark 4 BEGIN...END, SQL/PSM) — DECLARE'd
    variables, a pure-variable WHILE loop, and IF/ELSE control flow
    branching on a scanned aggregate, returning the final SELECT. The
    procedural glue the reference keeps in Python driver scripts
    (producer.py's control loops) expressed inside the engine, where a
    DBA can run it with no Python runtime at all. Scans stay in the
    branches (2 total) — the loop runs on variables only, so the
    script costs the same as the plain query."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        BEGIN
          DECLARE n BIGINT;
          DECLARE checksum INT DEFAULT 0;
          DECLARE i INT DEFAULT 0;
          WHILE i < 10 DO
            SET checksum = checksum + i;
            SET i = i + 1;
          END WHILE;
          SET n = (SELECT COUNT(*) FROM lineitem);
          IF n > 1000 THEN
            SELECT l_returnflag,
                   COUNT(*) AS n_lines,
                   'large' AS corpus_size,
                   checksum AS loop_checksum
            FROM lineitem GROUP BY l_returnflag;
          ELSE
            SELECT l_returnflag,
                   COUNT(*) AS n_lines,
                   'small' AS corpus_size,
                   checksum AS loop_checksum
            FROM lineitem GROUP BY l_returnflag;
          END IF;
        END
        """
    )


QUERIES["sql_scripting_compound"] = q_sql_scripting_compound

# every fixture SF has >1000 lineitems, and sum(0..9) = 45
ORACLES["sql_scripting_compound"] = """
    SELECT l_returnflag,
           COUNT(*) AS n_lines,
           'large' AS corpus_size,
           45 AS loop_checksum
    FROM lineitem GROUP BY l_returnflag
"""


def q_session_variables_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X24: session variables (DECLARE/SET VARIABLE) — engine-held
    state between statements: the cutoff is computed ONCE into a
    variable by one statement and consumed by the next as a plan
    literal (no re-evaluation, no correlated subquery). The incremental
    watermark pattern (P9/A2) spelled in pure SQL."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    spark.sql("DECLARE OR REPLACE VARIABLE price_cutoff DOUBLE")
    spark.sql(
        "SET VARIABLE price_cutoff = (SELECT FLOOR(AVG(o_totalprice)) FROM orders)"
    )
    return spark.sql(
        """
        SELECT o_orderstatus,
               COUNT(*) AS n_above,
               MIN(o_totalprice) AS min_above
        FROM orders
        WHERE o_totalprice > price_cutoff
        GROUP BY o_orderstatus
        """
    )


QUERIES["session_variables_sql"] = q_session_variables_sql

ORACLES["session_variables_sql"] = """
    SELECT o_orderstatus,
           COUNT(*) AS n_above,
           MIN(o_totalprice) AS min_above
    FROM orders
    WHERE o_totalprice > (SELECT FLOOR(AVG(o_totalprice)) FROM orders)
    GROUP BY o_orderstatus
"""


# ---------------------------------------------------------------------------
# UDTF with a TABLE argument (PARTITION BY ... ORDER BY ...) — §2j arm
# ---------------------------------------------------------------------------


def q_udtf_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2j/X24: a Python UDTF consuming a TABLE ARGUMENT with
    ``PARTITION BY user_id ORDER BY ts`` — the engine shuffles and
    sorts, the UDTF sees each user's ordered history exactly once and
    emits one summary row (count, distinct types, max inter-event gap).
    Arrow-batched (``useArrow``); the same per-key ordered-iteration
    contract as applyInPandas but addressable from PURE SQL
    (``FROM fn(TABLE(...) PARTITION BY ...)``). Oracle recomputes the
    gaps with a lag window."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="user_id BIGINT, n_events BIGINT, n_types INT, max_gap_us BIGINT", useArrow=True)
    class UserSessionStats:
        def __init__(self) -> None:
            self.user = None
            self.n = 0
            self.types: set = set()
            self.prev_us = None
            self.max_gap = None

        @staticmethod
        def _epoch_us(ts):
            # exact integer arithmetic: ts.timestamp()*1e6 routes through
            # float64 and can truncate 1µs low on unlucky timestamps,
            # mismatching the oracle's exact epoch_us (ADVICE r8)
            import datetime as dt

            epoch = dt.datetime(
                1970, 1, 1, tzinfo=dt.timezone.utc if ts.tzinfo else None
            )
            return (ts - epoch) // dt.timedelta(microseconds=1)

        def eval(self, row) -> None:
            self.user = row["user_id"]
            self.n += 1
            self.types.add(row["event_type"])
            ts = row["ts"]
            us = self._epoch_us(ts) if ts is not None else None
            if us is not None and self.prev_us is not None:
                gap = us - self.prev_us
                if self.max_gap is None or gap > self.max_gap:
                    self.max_gap = gap
            if us is not None:
                self.prev_us = us

        def terminate(self):
            if self.user is not None:
                yield self.user, self.n, len(self.types), self.max_gap

    spark.udtf.register("user_session_stats", UserSessionStats)
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        """
        SELECT * FROM user_session_stats(
            TABLE(SELECT user_id, ts, event_type FROM events
                  WHERE event_type = 'purchase')
            PARTITION BY user_id ORDER BY (ts, event_type)
        )
        """
    )


QUERIES["udtf_user_sessions"] = q_udtf_user_sessions

ORACLES["udtf_user_sessions"] = """
    WITH g AS (
        SELECT user_id, event_type,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_type) AS gap
        FROM events
        WHERE event_type = 'purchase'
    )
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(COUNT(DISTINCT event_type) AS INT) AS n_types,
           CAST(MAX(gap) AS BIGINT) AS max_gap_us
    FROM g GROUP BY user_id
"""


_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def q_transpose_region_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 ``DataFrame.transpose``: rows <-> columns for a small
    summary relation — the index column's values become the transposed
    column names, every metric becomes a row (values unify to the
    least common type, DOUBLE here). The BI hand-off shape (metrics as
    rows, one column per region) done engine-side instead of in a
    notebook. Oracle rebuilds the transposed relation with explicit
    conditional aggregates."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    base = (
        region.join(nation, nation.n_regionkey == region.r_regionkey)
        .join(customer, customer.c_nationkey == nation.n_nationkey, "left")
        .groupBy("r_name")
        .agg(
            F.countDistinct("n_nationkey").cast("double").alias("n_nations"),
            F.count("c_custkey").cast("double").alias("n_customers"),
        )
        .orderBy("r_name")
    )
    return base.transpose()


QUERIES["transpose_region_stats"] = q_transpose_region_stats


def _transpose_oracle() -> str:
    def row(metric: str, expr: str) -> str:
        cols = ", ".join(
            f"CAST(SUM(CASE WHEN r_name = '{r}' THEN {expr} ELSE 0 END) "
            f'AS DOUBLE) AS "{r}"'
            for r in _REGIONS
        )
        return f"SELECT '{metric}' AS key, {cols} FROM base"

    return f"""
        WITH base AS (
            SELECT r.r_name,
                   COUNT(DISTINCT n.n_nationkey) AS n_nations,
                   COUNT(c.c_custkey) AS n_customers
            FROM region r
            JOIN nation n ON n.n_regionkey = r.r_regionkey
            LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
            GROUP BY 1
        )
        {row("n_customers", "n_customers")}
        UNION ALL
        {row("n_nations", "n_nations")}
    """


ORACLES["transpose_region_stats"] = _transpose_oracle()
