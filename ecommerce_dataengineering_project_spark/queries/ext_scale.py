"""Scale-lever queries: the three mechanisms that keep a 100 TB scan
from touching 100 TB — manifest-stats file skipping over the
transaction log, bloom-filter semi-join reduction ahead of a shuffle,
and Z-order multi-dimensional clustering.

All three are oracle-checked at VALUE level: skipping and bloom
pruning are optimizations whose results must equal the plain
filter/join (stats skip only provably-dead files; blooms have no
false negatives and the real join removes false positives), and the
Morton key is pure integer arithmetic whose SQL is engine-portable —
the oracle runs the literally-same expression string.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.functions.scalars import round_half_up
from ecommerce_dataengineering_project_spark.operators.bloom import bloom_semi_join
from ecommerce_dataengineering_project_spark.operators.zorder import (
    clamp_sql,
    morton_sql,
)
from ecommerce_dataengineering_project_spark.sources.readers import load_table
from ecommerce_dataengineering_project_spark.sources.txlog import TxTable, recreate
from ecommerce_dataengineering_project_spark.streaming.harness import scratch_dir

N_RANGE_COMMITS = 4


def _cents_base(li: DataFrame, *extra_dims: str) -> DataFrame:
    """(purchase_date, l_returnflag[, extra dims], amount_cents)
    projection shared by the MV-routing arms. Integer-cent measure:
    FLOOR(amount*100+0.5) per ROW, summed as BIGINT — exact under ANY
    grouping, so an MV's two-level sum (partials at the MV grain,
    rolled up to the request grain) is bit-identical to the oracle's
    one-level sum. A raw double measure is NOT: its partial sums round
    differently at half-cent boundaries (caught by the sf0.001 parity
    sweep — two dates flipped a cent). The amount formula itself is
    core.py's _AMOUNT_SQL — ONE definition per module boundary, not
    one per query."""
    from ecommerce_dataengineering_project_spark.queries.core import _AMOUNT_SQL

    cents = F.floor(F.expr(_AMOUNT_SQL) * 100 + F.lit(0.5)).cast("bigint")
    return li.select(
        F.col("l_shipdate").cast("date").alias("purchase_date"),
        "l_returnflag",
        *extra_dims,
        cents.alias("amount_cents"),
    )


def _cents_oracle_sql(
    dims: tuple[str, ...], total_alias: str, count_alias: str
) -> str:
    """Base-table oracle at grain (purchase_date, *dims): GROUP BY is
    derived from the dim LIST, not a pre-baked SQL fragment — a
    two-dim caller used to silently group by only the first two
    ordinals (ADVICE r11)."""
    from ecommerce_dataengineering_project_spark.queries.core import _AMOUNT_SQL

    dims_sql = "".join(f"{d},\n           " for d in dims)
    group_by = ", ".join(str(i + 1) for i in range(len(dims) + 1))
    return f"""
    SELECT CAST(l_shipdate AS DATE) AS purchase_date,
           {dims_sql}CAST(SUM(CAST(FLOOR(({_AMOUNT_SQL}) * 100 + 0.5)
                    AS BIGINT)) AS BIGINT) AS {total_alias},
           COUNT(l_orderkey) AS {count_alias}
    FROM lineitem GROUP BY {group_by}
"""


def _range_committed_orders(spark: SparkSession, sf_dir: str) -> tuple[TxTable, int]:
    """Stage orders as N_RANGE_COMMITS transaction-log commits split by
    o_orderkey range, so each commit's files carry DISJOINT key ranges
    in their manifest stats — the layout a streaming ingest keyed on a
    monotone id produces naturally. Reused across calls while the
    input's own directory holds all N_RANGE_COMMITS versions (the
    fixtures are immutable)."""
    root = scratch_dir("txlog/orders_ranged", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    max_key = orders.agg(F.max("o_orderkey")).collect()[0][0]
    table = TxTable(root)
    if len(table.versions()) != N_RANGE_COMMITS:
        table = recreate(root)
        q = max_key // N_RANGE_COMMITS + 1
        for i in range(N_RANGE_COMMITS):
            table.append(
                orders.where(
                    (F.col("o_orderkey") >= i * q) & (F.col("o_orderkey") < (i + 1) * q)
                )
            )
    return table, max_key


def q_txlog_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-stats data skipping (sources/txlog.py scan): a key-range
    read over the range-committed table resolves its file list from the
    log's per-file min/max BEFORE the engine lists or opens anything —
    only ~1/4 of the snapshot's files survive (tests/test_txlog.py pins
    the skip count); the oracle is the plain predicate, because
    skipping only ever drops provably-dead files."""
    table, max_key = _range_committed_orders(spark, sf_dir)
    hi = max_key // N_RANGE_COMMITS  # inside commit 1's range only
    return table.scan(spark, "o_orderkey", lo=None, hi=hi).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


# Shared Spark/DuckDB Morton expression: x = customer key, y = day of
# year of the order date — two business dimensions a point query might
# filter on independently.
_Z_BITS = 16
_Z_EXPR = morton_sql(
    clamp_sql("o_custkey", _Z_BITS),
    clamp_sql("dayofyear(o_orderdate)", _Z_BITS),
    _Z_BITS,
)


def q_zorder_orders_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key (operators/zorder.py): the bit-interleave
    of (o_custkey, dayofyear(o_orderdate)) — the sort key an OPTIMIZE
    ZORDER pass would range-partition on so file stats go tight in both
    dimensions. Map-only pure-codegen arithmetic; the oracle evaluates
    the literally-same expression string."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.expr(_Z_EXPR).alias("z_key"),
    )


def q_bloom_semi_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom semi-join reduction (operators/bloom.py): lineitem is
    pre-filtered map-side by a bitmap of the urgent orders' keys before
    the join shuffle — at 100 TB the probe shuffle shrinks to ~the
    matching fraction (plus fpp) while broadcast stays off the table
    for build sides beyond executor memory. The bloom never drops a
    true match and the real join removes false positives, so the
    oracle is the plain join."""
    import pyarrow.parquet as pq

    li = load_table(spark, sf_dir, "lineitem")
    urgent = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey")
    )
    # Size the filter from the parquet footer rowcount (driver-side
    # metadata read, no Spark job) instead of an extra
    # distinct().count() over the build side: urgent is ~1/5 of orders;
    # //4 overestimates, which only lowers the realized fpp. At 100 TB
    # the same number comes from the table format's manifest rowcounts.
    # Works for a single fixture file or a Spark-written directory;
    # any other layout falls back to letting bloom_semi_join count.
    path = os.path.join(sf_dir, "orders.parquet")
    try:
        if os.path.isdir(path):
            import glob

            n_rows = sum(
                pq.read_metadata(f).num_rows
                for f in glob.glob(os.path.join(path, "*.parquet"))
            )
        else:
            n_rows = pq.ParquetFile(path).metadata.num_rows
        # zero matches (nested/partitioned layout) is NOT a size
        # estimate — fall back to the counted path like any other
        # unreadable layout, never a one-key filter with fpp ~1
        n_est = max(1, n_rows // 4) if n_rows else None
    except Exception:
        n_est = None
    pruned = bloom_semi_join(
        li, urgent, "l_orderkey", "o_orderkey", fpp=0.01, n_keys=n_est
    )
    return (
        pruned.join(urgent, pruned.l_orderkey == urgent.o_orderkey)
        .groupBy("o_orderkey")
        .agg(
            round_half_up(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("urgent_revenue"),
            F.count("l_linenumber").alias("n_lines"),
        )
    )


def _zopt_orders(spark: SparkSession, sf_dir: str) -> TxTable:
    """Monotone-key ingest (4 range commits) followed by OPTIMIZE
    ZORDER on (o_custkey, o_totalprice/16) — the lakehouse loop whose
    endpoint is a snapshot where every file's bounding box is tight in
    BOTH business dimensions. The /16 scale keeps the price dimension
    inside the 16-bit interleave width so the curve doesn't degrade to
    custkey-major order. Cached per process (fixtures are immutable):
    5 versions == fully staged."""
    from ecommerce_dataengineering_project_spark.operators.zorder import optimize_zorder

    root = scratch_dir("txlog/orders_zopt", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    table = TxTable(root)
    if len(table.versions()) != N_RANGE_COMMITS + 1:
        table = recreate(root)
        max_key = orders.agg(F.max("o_orderkey")).collect()[0][0]
        q = max_key // N_RANGE_COMMITS + 1
        for i in range(N_RANGE_COMMITS):
            table.append(
                orders.where(
                    (F.col("o_orderkey") >= i * q) & (F.col("o_orderkey") < (i + 1) * q)
                ).repartition(2)
            )
        optimize_zorder(
            table,
            spark,
            "o_custkey",
            "CAST(o_totalprice / 16 AS BIGINT)",
            n_files=16,
            bits=16,
        )
    return table


def q_txlog_zorder_2d_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end Z-order payoff: a TWO-dimension range query
    resolved through ``scan_multi`` against the OPTIMIZEd snapshot —
    conjunctive manifest pruning intersects the query box with each
    file's (custkey, totalprice) bounding box, so the scan plans over
    a corner of the layout instead of the whole table
    (tests/test_scale_levers.py pins the multiplicative skip). Oracle
    is the plain conjunction: pruning only ever drops provably-dead
    files and the real predicates re-apply for exactness."""
    table = _zopt_orders(spark, sf_dir)
    return table.scan_multi(
        spark,
        [("o_custkey", 1, 750), ("o_totalprice", 1000.0, 80000.0)],
    ).select("o_orderkey", "o_custkey", "o_totalprice")


QUERIES = {
    "txlog_pruned_read": q_txlog_pruned_read,
    "zorder_orders_key": q_zorder_orders_key,
    "bloom_semi_reduce": q_bloom_semi_reduce,
    "txlog_zorder_2d_scan": q_txlog_zorder_2d_scan,
}

ORACLES = {
    "txlog_pruned_read": f"""
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_orderkey <= (SELECT CAST(FLOOR(MAX(o_orderkey) / {N_RANGE_COMMITS})
                                        AS BIGINT) FROM orders)
    """,
    "zorder_orders_key": f"""
        SELECT o_orderkey, {_Z_EXPR} AS z_key FROM orders
    """,
    "txlog_zorder_2d_scan": """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_custkey BETWEEN 1 AND 750
          AND o_totalprice BETWEEN 1000.0 AND 80000.0
    """,
    "bloom_semi_reduce": """
        SELECT o.o_orderkey,
               FLOOR((SUM(l.l_extendedprice * (1 - l.l_discount))) * 100.0 + 0.5)
                   / 100.0 AS urgent_revenue,
               COUNT(l.l_linenumber) AS n_lines
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY o.o_orderkey
    """,
}


N_BLOOM_COMMITS = 4


def _bloom_committed_orders(spark: SparkSession, sf_dir: str) -> TxTable:
    """Orders staged as N_BLOOM_COMMITS commits split by o_orderkey
    range, each carrying a per-file Bloom index on o_custkey —
    customer keys scatter uniformly across order-key ranges, so every
    file's [min, max] on o_custkey spans the whole domain and range
    pruning keeps everything: exactly the layout bloom indexes exist
    for. Staged once per process (the fixtures are immutable)."""
    root = scratch_dir("txlog/orders_bloom", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    table = TxTable(root)
    if len(table.versions()) != N_BLOOM_COMMITS:
        table = recreate(root)
        max_key = orders.agg(F.max("o_orderkey")).collect()[0][0]
        q = max_key // N_BLOOM_COMMITS + 1
        for i in range(N_BLOOM_COMMITS):
            table.append(
                orders.where(
                    (F.col("o_orderkey") >= i * q)
                    & (F.col("o_orderkey") < (i + 1) * q)
                ),
                bloom_cols=("o_custkey",),
            )
    return table


def q_txlog_bloom_point_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-index point lookup (sources/txlog.py scan_point): one
    customer's orders resolved from the LOG ALONE — per-file Bloom
    filters on o_custkey, probed driver-side with the pure-Python
    xxh64 twin of Spark's xxhash64, prune files a min/max range check
    never could (every file spans the whole customer domain). No false
    negatives, and the exact predicate removes false positives, so the
    oracle is the plain filter. The probed key is the smallest
    customer key (deterministic, present at every SF)."""
    table = _bloom_committed_orders(spark, sf_dir)
    target = load_table(spark, sf_dir, "orders").agg(
        F.min("o_custkey")
    ).collect()[0][0]
    return table.scan_point(spark, "o_custkey", int(target)).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


QUERIES["txlog_bloom_point_read"] = q_txlog_bloom_point_read

ORACLES["txlog_bloom_point_read"] = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey = (SELECT MIN(o_custkey) FROM orders)
"""


# ------------------------------------------------ bucketed co-location
N_BUCKETS = 8


def _bucketed_fact_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Write orders and lineitem as EXTERNAL BUCKETED tables (8 buckets
    on the order key, sorted within buckets) once per (process, sf).
    Bucketing is THE write-once co-location lever at 100 TB: every
    subsequent join or aggregation keyed on the bucket column reads
    pre-shuffled, pre-sorted inputs — the fact-join exchange moves from
    every query to the single write."""
    from ecommerce_dataengineering_project_spark.sources.writers import (
        write_bucketed_table,
    )

    base = scratch_dir("bucketed", sf_dir)
    key = re.sub(r"\W", "_", os.path.basename(base))
    t_orders, t_lineitem = f"bkt_orders_{key}", f"bkt_lineitem_{key}"
    cat = spark.catalog
    if not (cat.tableExists(t_orders) and cat.tableExists(t_lineitem)):
        write_bucketed_table(
            load_table(spark, sf_dir, "orders").select(
                "o_orderkey", "o_orderpriority"
            ),
            t_orders,
            ["o_orderkey"],
            N_BUCKETS,
            sort_cols=["o_orderkey"],
            path=os.path.join(base, "orders"),
        )
        write_bucketed_table(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            t_lineitem,
            ["l_orderkey"],
            N_BUCKETS,
            sort_cols=["l_orderkey"],
            path=os.path.join(base, "lineitem"),
        )
    return t_orders, t_lineitem


def q_bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-co-located fact join (sources/writers.write_bucketed_table):
    revenue per order priority over lineitem JOIN orders where BOTH
    sides are bucketed by the join key with equal bucket counts, so the
    sort-merge join runs with ZERO exchange — the plan reads the
    bucketed scans directly (pinned by
    tests/test_layout.py::test_bucketed_join_query_plan_is_shuffle_free).
    The merge hint pins SMJ (a tiny fixture side would auto-broadcast;
    at real scale SMJ-over-buckets is what the optimizer picks). The
    oracle is the plain join — co-location is pure physical layout,
    results must be identical."""
    t_orders, t_lineitem = _bucketed_fact_tables(spark, sf_dir)
    li, od = spark.table(t_lineitem), spark.table(t_orders)
    return (
        li.hint("merge")
        .join(od, li["l_orderkey"] == od["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(
            F.expr(
                "FLOOR((SUM(l_extendedprice * (1 - l_discount))) * 100.0D + 0.5D)"
                " / 100.0D"
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


QUERIES["bucketed_join_revenue"] = q_bucketed_join_revenue

ORACLES["bucketed_join_revenue"] = """
    SELECT o_orderpriority,
           FLOOR((SUM(l_extendedprice * (1 - l_discount))) * 100.0 + 0.5)
               / 100.0 AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
"""


# ---------------------------------------------- change data feed (CDF)
def _cdf_committed_orders(spark: SparkSession, sf_dir: str) -> TxTable:
    """Deterministic CDF scenario: v1 appends even order keys, v2
    appends odd ones, v3 is a file-scoped MERGE that deletes keys
    ending in 3 and re-prices keys ending in 7 (+1000.0). Reused per
    (process, sf) — the fixtures are immutable."""
    root = scratch_dir("txlog/orders_cdf", sf_dir)
    table = TxTable(root)
    if len(table.versions()) != 3:
        table = recreate(root)
        orders = load_table(spark, sf_dir, "orders")
        table.append(orders.where(F.col("o_orderkey") % 2 == 0))
        table.append(orders.where(F.col("o_orderkey") % 2 != 0))
        feed = orders.where(F.col("o_orderkey") % 10 == 3).select(
            "*", F.lit(1).alias("seq"), F.lit("D").alias("op")
        ).unionByName(
            orders.where(F.col("o_orderkey") % 10 == 7)
            .withColumn("o_totalprice", F.col("o_totalprice") + F.lit(1000.0))
            .select("*", F.lit(1).alias("seq"), F.lit("U").alias("op"))
        )
        table.merge(spark, feed, ["o_orderkey"])
    return table


def q_txlog_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change Data Feed (sources/txlog.py read_changes) — the Delta CDF
    twin (reference surface: pipeline/spark/delta_to_iceberg.py's
    incremental-consumer role): row-level net changes per commit,
    reconstructed from the file-level log by exceptAll-ing each
    commit's added files against its removed files. An append surfaces
    as pure inserts; a file-scoped MERGE surfaces ONLY its net changes
    (update = delete of the pre-image + insert of the post-image;
    rows the rewrite carried through unchanged cancel out). The oracle
    derives the same feed from the base table with pure SQL."""
    table = _cdf_committed_orders(spark, sf_dir)
    return table.read_changes(spark, from_version=1).select(
        "o_orderkey", "o_totalprice", "_change_type", "_commit_version"
    )


QUERIES["txlog_change_feed"] = q_txlog_change_feed

ORACLES["txlog_change_feed"] = """
    SELECT o_orderkey, o_totalprice,
           'insert' AS _change_type, 2 AS _commit_version
    FROM orders WHERE o_orderkey % 2 <> 0
    UNION ALL
    SELECT o_orderkey, o_totalprice + 1000.0, 'insert', 3
    FROM orders WHERE o_orderkey % 10 = 7
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'delete', 3
    FROM orders WHERE o_orderkey % 10 = 7
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'delete', 3
    FROM orders WHERE o_orderkey % 10 = 3
"""


def q_mv_cdf_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance OVER the change feed: a per-priority
    revenue MV materialized at v1 is brought current by applying
    read_changes' net row deltas (insert adds, delete subtracts — the
    classic delta algebra for SUM/COUNT views), never rescanning the
    base. At 100 TB the delta is one merge's rewritten slice while a
    recompute is the whole table. Revenue is summed in integer CENTS so
    the incremental sum is bit-exact against the oracle's full
    recompute (float addition order would otherwise differ between the
    two computation shapes). The oracle IS the full recompute of the
    final state — the equivalence this operator exists to guarantee."""
    table = _cdf_committed_orders(spark, sf_dir)
    cents = (
        F.round(F.col("o_totalprice") * 100.0).cast("bigint").alias("cents")
    )
    mv0 = (
        table.read(spark, version=1)
        .select("o_orderpriority", cents)
        .groupBy("o_orderpriority")
        .agg(F.sum("cents").alias("rev_cents"), F.count(F.lit(1)).alias("n_orders"))
    )
    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(F.lit(-1))
    delta = (
        table.read_changes(spark, from_version=1)
        .select("o_orderpriority", cents, sign.alias("sgn"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.col("cents") * F.col("sgn")).alias("d_rev"),
            F.sum("sgn").alias("d_n"),
        )
    )
    m, d = mv0.alias("m"), delta.alias("d")
    return (
        m.join(d, F.col("m.o_orderpriority") == F.col("d.o_orderpriority"), "full_outer")
        .select(
            F.coalesce(F.col("m.o_orderpriority"), F.col("d.o_orderpriority")).alias(
                "o_orderpriority"
            ),
            (
                (F.coalesce(F.col("rev_cents"), F.lit(0)) + F.coalesce(F.col("d_rev"), F.lit(0)))
                / F.lit(100.0)
            ).alias("revenue"),
            (
                F.coalesce(F.col("n_orders"), F.lit(0)) + F.coalesce(F.col("d_n"), F.lit(0))
            ).alias("n_orders"),
        )
        .where(F.col("n_orders") > 0)
    )


QUERIES["mv_cdf_refresh"] = q_mv_cdf_refresh

# The oracle recomputes the FINAL table state from scratch: evens
# untouched, odds minus deleted (%10=3), re-priced (%10=7) +1000.
ORACLES["mv_cdf_refresh"] = """
    WITH final_state AS (
        SELECT o_orderpriority,
               CASE WHEN o_orderkey % 10 = 7
                    THEN o_totalprice + 1000.0 ELSE o_totalprice END AS price
        FROM orders
        WHERE o_orderkey % 10 <> 3
    )
    SELECT o_orderpriority,
           SUM(CAST(ROUND(price * 100.0) AS BIGINT)) / 100.0 AS revenue,
           COUNT(*) AS n_orders
    FROM final_state
    GROUP BY o_orderpriority
"""


def q_txlog_delete_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-scoped DELETE WHERE (sources/txlog.py delete_where — the
    Delta retention-delete shape): a fresh range-committed orders table
    deletes the middle half of commit 2's key span; manifest stats
    scope the rewrite to that commit's files, every other file carries
    verbatim. The oracle is the plain anti-predicate — a delete's
    result must equal filtering the original data."""
    root = scratch_dir("txlog/orders_del", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    max_key = orders.agg(F.max("o_orderkey")).collect()[0][0]
    q = max_key // N_RANGE_COMMITS + 1
    lo, hi = q + q // 4, q + (3 * q) // 4  # middle half of commit 2's span
    table = TxTable(root)
    # rebuild when absent or stale: the final state is version 5 (4
    # range appends + 1 delete commit)
    if table.versions() != [1, 2, 3, 4, 5]:
        table = recreate(root)
        for i in range(N_RANGE_COMMITS):
            table.append(
                orders.where(
                    (F.col("o_orderkey") >= i * q) & (F.col("o_orderkey") < (i + 1) * q)
                )
            )
        table.delete_where(spark, "o_orderkey", lo=lo, hi=hi)
    return table.read(spark).select("o_orderkey", "o_custkey", "o_totalprice")


QUERIES["txlog_delete_where"] = q_txlog_delete_where

ORACLES["txlog_delete_where"] = f"""
    WITH b AS (
        SELECT CAST(FLOOR(MAX(o_orderkey) / {N_RANGE_COMMITS}) AS BIGINT) + 1 AS q
        FROM orders
    )
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders, b
    WHERE NOT (o_orderkey BETWEEN b.q + b.q // 4 AND b.q + (3 * b.q) // 4)
"""


def q_txlog_expect_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expectations + dead-letter table (sources/txlog.py
    append_or_quarantine — the DLT expect_or_drop batch twin): orders
    ingested under two CHECK constraints; passing rows land in the main
    table, violating rows in the quarantine table tagged with the
    constraint names they failed. The query returns the quarantine
    content; the oracle derives the same rows + tags from the base
    table with plain SQL."""
    main_root = scratch_dir("txlog/orders_dlq_m", sf_dir)
    q_root = scratch_dir("txlog/orders_dlq_q", sf_dir)
    main, dlq = TxTable(main_root), TxTable(q_root)
    if len(main.versions()) < 3 or len(dlq.versions()) < 1:
        orders = load_table(spark, sf_dir, "orders")
        main, dlq = recreate(main_root), recreate(q_root)
        # seed an empty-but-typed snapshot so constraints can be added
        main.append(orders.limit(0))
        main.add_constraint(spark, "price_cap", "o_totalprice <= 300000.0")
        main.add_constraint(spark, "key_positive", "o_orderkey > 0")
        main.append_or_quarantine(orders, dlq)
    return dlq.read(spark).select(
        "o_orderkey", "o_totalprice", "_violations"
    )


QUERIES["txlog_expect_quarantine"] = q_txlog_expect_quarantine

ORACLES["txlog_expect_quarantine"] = """
    SELECT o_orderkey, o_totalprice,
           CONCAT_WS(',',
               CASE WHEN NOT COALESCE(o_orderkey > 0, FALSE)
                    THEN 'key_positive' END,
               CASE WHEN NOT COALESCE(o_totalprice <= 300000.0, FALSE)
                    THEN 'price_cap' END
           ) AS _violations
    FROM orders
    WHERE NOT COALESCE(o_orderkey > 0, FALSE)
       OR NOT COALESCE(o_totalprice <= 300000.0, FALSE)
"""


def q_txlog_convert_in_place(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy format adoption (sources/txlog.convert_to_txlog — the
    CONVERT TO DELTA twin of the reference's delta_to_iceberg.py
    conversion job): a plain range-partitioned parquet directory of
    orders becomes a transaction-log table IN PLACE (v1 manifest lists
    the existing files, stats harvested from their footers, no byte
    rewritten), and the very first scan prunes files by key range from
    the log alone. The oracle is the plain predicate — adoption and
    pruning must not change results."""
    from ecommerce_dataengineering_project_spark.sources.txlog import convert_to_txlog

    root = scratch_dir("txlog/orders_conv", sf_dir)
    orders = load_table(spark, sf_dir, "orders")
    max_key = orders.agg(F.max("o_orderkey")).collect()[0][0]
    hi = max_key // 4
    table = TxTable(root)
    if table.versions() != [1]:
        import shutil

        shutil.rmtree(root, ignore_errors=True)
        orders.repartitionByRange(4, "o_orderkey").write.parquet(root)
        table = convert_to_txlog(root, spark)
    return table.scan(spark, "o_orderkey", lo=None, hi=hi).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


QUERIES["txlog_convert_in_place"] = q_txlog_convert_in_place

ORACLES["txlog_convert_in_place"] = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey <= (SELECT CAST(FLOOR(MAX(o_orderkey) / 4) AS BIGINT)
                         FROM orders)
"""


def q_txlog_time_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time file pruning (the most common lakehouse predicate):
    events committed as four event-time quartile ranges — the layout
    any time-ordered ingest produces — then a time-window scan resolves
    its file list from the manifest's ISO-8601 timestamp stats before
    the engine lists anything. Timestamp stats exist because the commit
    writer pins TIMESTAMP_MICROS (Spark's default INT96 carries no
    parquet min/max). Oracle: the plain timestamp predicate."""
    import datetime as dt

    root = scratch_dir("txlog/events_tspruned", sf_dir)
    ev = load_table(spark, sf_dir, "events")
    b = ev.agg(F.min("ts").alias("mn"), F.max("ts").alias("mx")).collect()[0]
    span_us = (b.mx - b.mn) // dt.timedelta(microseconds=1)
    cuts = [b.mn + dt.timedelta(microseconds=(span_us * i) // 4) for i in range(5)]
    table = TxTable(root)
    if len(table.versions()) != 4:
        table = recreate(root)
        for i in range(4):
            upper = (
                F.col("ts") < F.lit(cuts[i + 1])
                if i < 3
                else F.col("ts") <= F.lit(cuts[4])
            )
            table.append(ev.where((F.col("ts") >= F.lit(cuts[i])) & upper))
    return table.scan(spark, "ts", lo=None, hi=cuts[1]).select(
        "event_id", "user_id", "ts"
    )


QUERIES["txlog_time_pruned_read"] = q_txlog_time_pruned_read

ORACLES["txlog_time_pruned_read"] = """
    WITH b AS (
        SELECT epoch_us(MIN(ts)) AS mn, epoch_us(MAX(ts)) AS mx FROM events
    )
    SELECT event_id, user_id, ts
    FROM events, b
    WHERE epoch_us(ts) <= b.mn + (b.mx - b.mn) // 4
"""


def q_mv_routed_daily_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X25 MV routing: daily_sales answered WITHOUT touching lineitem.

    Builds a (purchase_date x l_returnflag) materialized aggregate with
    algebraic sum/count partials, then ROUTES the coarser daily request
    through `plans/mv_router.route` — a compensating roll-up over MV
    rows instead of a full fact scan (the dbt-mart pattern the
    reference routes to by hand: models/fct_purchases.sql downstream
    marts). The oracle is daily_sales' own SQL over the base table: the
    rewrite must be value-identical. Routing REFUSALS (finer grain,
    underivable measure) are pinned in tests/test_mv_router.py.
    """
    from ecommerce_dataengineering_project_spark.plans.mv_router import build_mv, route

    base = _cents_base(load_table(spark, sf_dir, "lineitem"))
    mv = build_mv(
        spark,
        base,
        name="sales_by_day_flag",
        dims=("purchase_date", "l_returnflag"),
        measures={"sales": ("sum+count", F.col("amount_cents"))},
        path=scratch_dir("mv/sales_by_day_flag", sf_dir),
    )
    routed = route(
        spark,
        mv,
        dims=("purchase_date",),
        measures={
            "daily_total_cents": ("sum", "sales"),
            "daily_transaction_count": ("count", "sales"),
        },
    )
    assert routed is not None  # request is routable by construction
    return routed.select(
        "purchase_date", "daily_total_cents", "daily_transaction_count"
    )


QUERIES["mv_routed_daily_sales"] = q_mv_routed_daily_sales

ORACLES["mv_routed_daily_sales"] = _cents_oracle_sql(
    (), "daily_total_cents", "daily_transaction_count"
)


def q_mv_route_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X25's COST path (`plans/mv_router.route_best`, VERDICT r10 item
    8): when several registered MVs can answer a request, pick the
    cheapest by grain cardinality — the multi-MV optimizer decision
    `mv_routed_daily_sales` (single MV) doesn't exercise. Three MVs
    register: a FINE grain (day x flag x linestatus), a COARSE grain
    (day x flag — strictly fewer rows), and a non-qualifying one (flag
    only: coarser than the request, correctly refused). The (day,
    flag) request qualifies on both fine and coarse; route_best must
    choose the coarse MV (asserted) and, because the request grain
    EQUALS the MV grain, serve it on the scan+project fast path —
    zero exchanges, pinned in tests/test_mv_router.py. Values are
    per-row integer cents (two-level-sum policy), so every candidate
    MV is bit-identical to the base-table oracle."""
    from ecommerce_dataengineering_project_spark.plans.mv_router import build_mv, route_best

    # each MV-routing arm builds its own candidate set (build_mv always
    # overwrites): sharing mv_routed_daily_sales' day-x-flag MV would
    # couple query correctness to registry execution ORDER, and the
    # build cost is part of what this arm measures
    base = _cents_base(load_table(spark, sf_dir, "lineitem"), "l_linestatus")
    mvs = [
        build_mv(
            spark,
            base,
            name=name,
            dims=dims,
            measures={"sales": ("sum+count", F.col("amount_cents"))},
            path=scratch_dir(f"mv/{name}", sf_dir),
        )
        for name, dims in (
            ("sales_fine", ("purchase_date", "l_returnflag", "l_linestatus")),
            ("sales_coarse", ("purchase_date", "l_returnflag")),
            ("sales_flag_only", ("l_returnflag",)),
        )
    ]
    picked = route_best(
        spark,
        mvs,
        dims=("purchase_date", "l_returnflag"),
        measures={
            "flag_total_cents": ("sum", "sales"),
            "flag_count": ("count", "sales"),
        },
    )
    assert picked is not None
    plan, chosen = picked
    # the cost decision IS the operator: both grains qualify, the
    # coarser one is cheaper (fewer rows) and must win
    assert chosen.name == "sales_coarse", chosen.name
    return plan.select("purchase_date", "l_returnflag", "flag_total_cents", "flag_count")


QUERIES["mv_route_best"] = q_mv_route_best

ORACLES["mv_route_best"] = _cents_oracle_sql(
    ("l_returnflag",), "flag_total_cents", "flag_count"
)


def q_athena_manifest_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: the Delta->Athena leg — expose a txlog table to engines
    with no log reader via a symlink-format manifest
    (`sources/txlog.generate_symlink_manifest`; the reference's
    delta_to_iceberg.py / athena DDL flow). The query builds a
    two-commit table, generates the manifest, and reads it back
    THROUGH the manifest only (never the log); the oracle recomputes
    the same rows from the base table. DuckDB consuming the same
    manifest as a stand-in Athena is pinned in
    tests/test_manifest_compact.py."""
    from ecommerce_dataengineering_project_spark.sources.txlog import (
        generate_symlink_manifest,
        read_via_manifest,
        recreate,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = recreate(
        scratch_dir("txlog/manifest", sf_dir)
    )
    table.append(o.where(F.col("o_orderkey") % 2 == 0))
    table.append(o.where(F.col("o_orderkey") % 2 == 1))
    generate_symlink_manifest(table)
    return read_via_manifest(spark, table.root)


QUERIES["athena_manifest_read"] = q_athena_manifest_read

ORACLES["athena_manifest_read"] = """
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
"""


def q_txlog_auto_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: auto-compaction — eight small streaming-style appends leave
    a file-count debt; `auto_compact` (post-commit hook shape) rewrites
    the snapshot into a few bin-packed files as a NEW commit when the
    count crosses the threshold. Results are layout-invariant (the
    oracle is the plain base-table SQL); the file-count drop, history
    retention, and below-threshold no-op are pinned in
    tests/test_manifest_compact.py."""
    from ecommerce_dataengineering_project_spark.sources.txlog import (
        auto_compact,
        recreate,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    table = recreate(
        scratch_dir("txlog/autocompact", sf_dir)
    )
    for b in range(8):
        table.append(e.where(F.col("event_id") % 8 == b).repartition(4))
    compacted_version = auto_compact(spark=spark, table=table, max_files=16, target_files=4)
    assert compacted_version is not None  # 32 files > threshold
    return table.read(spark).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")).alias(
            "total_cents"
        ),
    )


QUERIES["txlog_auto_compact"] = q_txlog_auto_compact

ORACLES["txlog_auto_compact"] = """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_cents
    FROM events
    GROUP BY event_type
"""


def q_txlog_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: DELETE via DELETION VECTORS — the matching rows' (file,
    row position) pairs land in the manifest and every read filters
    them positionally (`_metadata.row_index`); NO data file is
    rewritten, which is what makes small/point deletes (GDPR erasure,
    bad-record retraction) O(matches) instead of O(touched files) at
    100 TB. Old versions time-travel to the pre-delete rows; compaction
    doubles as DV purge. Full oracle: the surviving rows must equal the
    plain NOT-predicate filter; the no-rewrite/CDF/rollback contracts
    are pinned in tests/test_deletion_vectors.py."""
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = recreate(scratch_dir("txlog/dv", sf_dir))
    table.append(o.repartition(4))
    table.delete_where_dv(spark, "o_orderkey % 97 = 0")
    return table.read(spark).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")).alias(
            "total_cents"
        ),
    )


QUERIES["txlog_delete_vectors"] = q_txlog_delete_vectors

ORACLES["txlog_delete_vectors"] = """
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    WHERE o_orderkey % 97 <> 0
    GROUP BY o_orderstatus
"""


def q_txlog_update_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: UPDATE via deletion vectors in ONE atomic commit — matched
    rows' positions enter the dv map (pre-image delete) and their
    rewritten forms append as new files (post-image insert) under the
    same version CAS; touched files are never rewritten. The change
    feed shows the commit as the preimage/postimage pair
    (tests/test_deletion_vectors.py). Oracle: the final relation must
    equal a plain CASE over the base table."""
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = recreate(
        scratch_dir("txlog/updv", sf_dir)
    )
    table.append(o.repartition(4))
    table.update_where_dv(
        spark, "o_orderkey % 101 = 0", {"o_totalprice": "o_totalprice + 1e6"}
    )
    return table.read(spark).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        ).alias("total_cents"),
    )


QUERIES["txlog_update_dv"] = q_txlog_update_dv

ORACLES["txlog_update_dv"] = """
    SELECT o_orderstatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(
               (CASE WHEN o_orderkey % 101 = 0
                     THEN o_totalprice + 1e6
                     ELSE o_totalprice END) * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY o_orderstatus
"""


def q_txlog_rename_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: COLUMN MAPPING — rename + drop as metadata-only commits
    (sources/txlog.py rename_column/drop_column, the Delta
    columnMapping twin): ZERO files rewritten, reads remap
    physical->logical at the `_read_files` choke point, a post-rename
    APPEND translates back so every file keeps one physical schema,
    and stats pruning follows the logical name. At 100 TB a rename is
    one manifest write instead of a table rewrite. Full oracle: the
    mapped read must equal the plain aliased scan; the time-travel /
    collision / purge contracts are pinned in
    tests/test_column_mapping.py."""
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    table = recreate(scratch_dir("txlog/rename", sf_dir))
    table.append(o.where(F.col("o_orderkey") % 2 == 0).repartition(4))
    table.rename_column("o_totalprice", "price")
    table.drop_column("o_orderstatus")
    # the post-rename append arrives with LOGICAL names
    table.append(
        o.where(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", F.col("o_totalprice").alias("price"))
        .repartition(4)
    )
    got = table.read(spark, merge_schema=True)
    return got.groupBy((F.col("o_orderkey") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("price") * 100 + F.lit(0.5)).cast("bigint")).alias(
            "total_cents"
        ),
    )


QUERIES["txlog_rename_column"] = q_txlog_rename_column

ORACLES["txlog_rename_column"] = """
    SELECT o_orderkey % 10 AS bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY 1
"""
