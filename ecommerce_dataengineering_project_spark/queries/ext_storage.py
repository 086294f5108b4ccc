"""Storage-layer queries: transaction-log time travel
(sources/txlog.py) and binary-file corpus ingest — plus the
``mapInArrow`` arm of the §2j UDF surface.

Reference parity: the reference's silver/gold tables are Delta/Iceberg
snapshots (streaming_consumer.py:81-88, delta_to_iceberg.py:44-52);
``time_travel_read`` proves the snapshot-isolation semantics on the
parquet tx-log stand-in with a value-level oracle. ``binary_files_
ingest`` is the multimodal lake-ingest front door (one opaque file per
asset, Spark's ``binaryFile`` source) exercised on real files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.sources.readers import load_table
from ecommerce_dataengineering_project_spark.sources.txlog import recreate
from ecommerce_dataengineering_project_spark.streaming.harness import scratch_dir

CUTOFF = "1998-01-01"
BIN_MOD = 10  # every 10th document becomes a standalone file


def q_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two atomic commits (orders before/after the cutoff), then a
    time-travel read of version 1 — the snapshot must contain exactly
    the first commit's rows even though the table has moved on. The
    oracle recomputes the first commit's predicate directly."""
    orders = load_table(spark, sf_dir, "orders")
    table = recreate(scratch_dir("txlog/orders", sf_dir))
    table.append(orders.filter(F.col("o_orderdate") < F.lit(CUTOFF)))
    table.append(orders.filter(F.col("o_orderdate") >= F.lit(CUTOFF)))
    return table.read(spark, version=1)


def q_binary_files_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-asset ingest: a sample of documents staged as one text
    file each (``partitionBy(doc_id)`` text sink), read back through
    the ``binaryFile`` source, identity recovered from the partition
    path and content decoded byte-exactly. ``n_bytes`` is the file
    length as the source reports it (text + the sink's newline); the
    oracle recomputes it from the source table's UTF-8 bytes."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % BIN_MOD == 0
    )
    path = scratch_dir("binfiles/docs", sf_dir)
    # staging one file per doc is file-creation bound (~8 s for 500
    # dirs at sf0.1); the fixtures are immutable, so a completed stage
    # (_SUCCESS marker) in this input's own directory is reused
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        docs.select("doc_id", "text").write.mode("overwrite").partitionBy(
            "doc_id"
        ).text(path)
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.txt")
        .load(path)
    )
    decoded = F.col("content").cast("string")
    return raw.select(
        F.regexp_extract("path", r"doc_id=(\d+)", 1).cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.substring(decoded, 1, F.length(decoded) - 1).alias("text_back"),
    )


QUERIES = {
    "time_travel_read": q_time_travel_read,
    "binary_files_ingest": q_binary_files_ingest,
}

ORACLES = {
    "time_travel_read": f"""
        SELECT * FROM orders WHERE o_orderdate < TIMESTAMP '{CUTOFF} 00:00:00'
    """,
    "binary_files_ingest": f"""
        SELECT doc_id,
               CAST(OCTET_LENGTH(ENCODE(text)) + 1 AS BIGINT) AS n_bytes,
               text AS text_back
        FROM documents
        WHERE doc_id % {BIN_MOD} = 0
    """,
}


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE semantics (operators/cdc.py apply_cdc) — the Delta
    ``WHEN MATCHED UPDATE / DELETE / WHEN NOT MATCHED INSERT`` loop the
    upsert-only merge can't model. The feed is derived from orders:
    seq-1 price updates for every 5th key, seq-2 DELETES for every 10th
    (overriding half the updates — latest-wins is exercised, not
    assumed), and brand-new insert keys for every 7th."""
    from ecommerce_dataengineering_project_spark.operators.cdc import apply_cdc

    orders = load_table(spark, sf_dir, "orders")
    cols = orders.columns
    u1 = orders.where(F.col("o_orderkey") % 5 == 0).select(
        *[c for c in cols if c != "o_totalprice"],
        (F.col("o_totalprice") + F.lit(1000.0)).alias("o_totalprice"),
    ).select(*cols).withColumn("seq", F.lit(1)).withColumn("op", F.lit("U"))
    d2 = (
        orders.where(F.col("o_orderkey") % 10 == 0)
        .select(*cols)
        .withColumn("seq", F.lit(2))
        .withColumn("op", F.lit("D"))
    )
    ins = orders.where(F.col("o_orderkey") % 7 == 0).select(
        (F.col("o_orderkey") + F.lit(100000000)).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ).withColumn("seq", F.lit(1)).withColumn("op", F.lit("I"))
    changes = u1.unionByName(d2).unionByName(ins)
    return apply_cdc(orders, changes, ["o_orderkey"])


QUERIES["cdc_apply"] = q_cdc_apply

ORACLES["cdc_apply"] = """
    WITH changes AS (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               o_totalprice + 1000.0 AS o_totalprice,
               o_orderdate, o_orderpriority, 1 AS seq, 'U' AS op
        FROM orders WHERE o_orderkey % 5 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority, 2 AS seq, 'D' AS op
        FROM orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 100000000 AS o_orderkey, o_custkey,
               'N' AS o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority, 1 AS seq, 'I' AS op
        FROM orders WHERE o_orderkey % 7 = 0
    ),
    latest AS (
        SELECT * FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_orderkey ORDER BY seq DESC, op DESC) AS rn
            FROM changes) WHERE rn = 1
    )
    SELECT b.o_orderkey, b.o_custkey, b.o_orderstatus, b.o_totalprice,
           b.o_orderdate, b.o_orderpriority
    FROM orders b ANTI JOIN latest l ON b.o_orderkey = l.o_orderkey
    UNION ALL
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM latest WHERE op <> 'D'
"""


GEN_ROWS = 10_000


def q_generator_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's event producer as a custom Python DataSource
    (sources/pyds.py): partition-parallel, Arrow-batched, and —
    unlike the reference's ``random.random()`` producer — derived from
    overflow-free integer-hash arithmetic, so DuckDB reproduces every
    generated row from RANGE() and the source itself is hash-checked."""
    from ecommerce_dataengineering_project_spark.sources import pyds

    pyds.register(spark)
    return (
        spark.read.format("ecommerce_events")
        .option("rows", GEN_ROWS)
        .option("partitions", 4)
        .load()
    )


QUERIES["generator_source"] = q_generator_source

ORACLES["generator_source"] = f"""
    WITH ids AS (SELECT UNNEST(RANGE(0, {GEN_ROWS})) AS event_id),
    h AS (
        SELECT event_id,
               ((event_id % 999983) * 1000003) % 999983 AS h
        FROM ids
    )
    SELECT event_id,
           h % 1000 AS user_id,
           CASE ((h // 1000) % 5)
               WHEN 0 THEN 'view' WHEN 1 THEN 'click' WHEN 2 THEN 'cart'
               WHEN 3 THEN 'purchase' ELSE 'refund' END AS event_type,
           h % 100000 AS amount_cents
    FROM h
"""


def q_datasource_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19 write arm: a batch job through the custom Python DataSource
    SINK (`sources/pyds_sink.py`), read back manifest-scoped, then
    aggregated — the full two-phase-commit path (task-staged uuid part
    files -> driver commit -> atomic manifest) under the driver's
    oracle check. The reference's equivalent is the connector-provided
    Delta append (streaming_consumer.py:83-90); this is the engine's
    own sink with the same all-or-nothing visibility contract.

    `mode("overwrite")` exercises the SaveMode plumbing AND makes the
    query idempotent across runs (re-runs replace, never double)."""
    from ecommerce_dataengineering_project_spark.sources import pyds_sink

    pyds_sink.register(spark)
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
    )
    path = scratch_dir("jsonl_sink/returns", sf_dir)
    (
        li.repartition(4)
        .write.format("ecommerce_jsonl_sink")
        .mode("overwrite")
        .option("path", path)
        .save()
    )
    back = pyds_sink.read_jsonl_sink(
        spark, path, "l_orderkey BIGINT, l_linenumber INT, qty BIGINT"
    )
    return back.groupBy("l_linenumber").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("qty").alias("qty_sum"),
    )


QUERIES["datasource_write_roundtrip"] = q_datasource_write_roundtrip

ORACLES["datasource_write_roundtrip"] = """
    SELECT l_linenumber,
           COUNT(*) AS n_lines,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty_sum
    FROM lineitem
    WHERE l_returnflag = 'R'
    GROUP BY l_linenumber
"""


PUSH_LO, PUSH_HI = 4_000, 9_000


def q_generator_pushdown_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X19 read-path upgrade: FILTER PUSHDOWN through the Python
    DataSource API (Spark 4.1 ``pushFilters``). The range predicate on
    event_id reaches the reader before partition planning, so shards
    outside [PUSH_LO, PUSH_HI) are never scheduled as tasks — the
    Python-API analog of parquet row-group pruning (partition-count
    contract pinned in tests/test_pyds_pushdown.py). Values are the
    same deterministic integer-hash stream as generator_source, so the
    pruned scan is fully oracle-checked against DuckDB RANGE() under
    the same predicate."""
    from ecommerce_dataengineering_project_spark.sources import pyds

    pyds.register(spark)
    df = (
        spark.read.format("ecommerce_events")
        .option("rows", 20_000)
        .option("partitions", 8)
        .load()
        .where(
            (F.col("event_id") >= PUSH_LO) & (F.col("event_id") < PUSH_HI)
        )
    )
    return df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount_cents").alias("cents"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


QUERIES["generator_pushdown_scan"] = q_generator_pushdown_scan

ORACLES["generator_pushdown_scan"] = f"""
    WITH ids AS (SELECT UNNEST(RANGE({PUSH_LO}, {PUSH_HI})) AS event_id),
    h AS (
        SELECT event_id,
               ((event_id % 999983) * 1000003) % 999983 AS h
        FROM ids
    )
    SELECT CASE ((h // 1000) % 5)
               WHEN 0 THEN 'view' WHEN 1 THEN 'click' WHEN 2 THEN 'cart'
               WHEN 3 THEN 'purchase' ELSE 'refund' END AS event_type,
           COUNT(*) AS n,
           CAST(SUM(h % 100000) AS BIGINT) AS cents,
           MIN(event_id) AS min_id,
           MAX(event_id) AS max_id
    FROM h
    GROUP BY 1
"""


PRUNE_DAY = "2024-01-15"


def q_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partition pruning as a driver-visible query (the
    plan-level contract lives in tests/test_plans.py; this makes the
    RESULT of pruning oracle-checked too): events written
    date-partitioned once, then a single-day read whose filter resolves
    at PLANNING time from directory names — zero non-matching files
    opened (`PartitionFilters` in the scan, pinned in
    tests/test_layout.py). The txlog's manifest-stats skipping is the
    finer-grained sibling; this is the classic directory layout every
    lake starts with."""
    path = scratch_dir("hivepart/events", sf_dir)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        (
            ev.repartition("event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(path)
        )
    back = spark.read.parquet(path).where(
        F.col("event_date") == F.lit(PRUNE_DAY).cast("date")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")).alias(
            "cents"
        ),
    )


QUERIES["partition_pruned_read"] = q_partition_pruned_read

ORACLES["partition_pruned_read"] = f"""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE CAST(ts AS DATE) = DATE '{PRUNE_DAY}'
    GROUP BY event_type
"""


DPP_DOW = "Monday"


def q_dpp_partitioned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning as a driver-visible query (the plan
    contract lives in tests/test_plans.py; this oracle-checks the
    RESULT): the date-partitioned events layout joined to a tiny
    calendar dimension filtered on a NON-partition attribute (day
    name). Which fact directories survive is unknowable at planning —
    static pushdown can't help — so Spark broadcasts the filtered dim
    and prunes the fact scan at RUNTIME with a DynamicPruning
    subquery. The mechanism every 100 TB star join lives on: the
    fact side reads only the matched partitions' files."""
    path = scratch_dir("hivepart/events", sf_dir)
    marker = os.path.join(path, "_SUCCESS")
    if not os.path.exists(marker):
        ev = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        (
            ev.repartition("event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(path)
        )
    fact = spark.read.parquet(path)
    # calendar dim: one row per day of 2024H1; the filter column is
    # derived, not a partition value
    dim = (
        spark.range(0, 182)
        .select(
            F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias(
                "event_date"
            )
        )
        .withColumn("day_name", F.date_format("event_date", "EEEE"))
        .where(F.col("day_name") == DPP_DOW)
    )
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint")
            ).alias("cents"),
        )
    )


QUERIES["dpp_partitioned_join"] = q_dpp_partitioned_join

ORACLES["dpp_partitioned_join"] = f"""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
    FROM events
    WHERE DAYNAME(CAST(ts AS DATE)) = '{DPP_DOW}'
      AND CAST(ts AS DATE) BETWEEN DATE '2024-01-01' AND DATE '2024-06-30'
    GROUP BY event_type
"""
