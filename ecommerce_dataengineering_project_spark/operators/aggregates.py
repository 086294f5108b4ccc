"""Aggregations (SURVEY §2d: A1-A4) + incremental high-watermark (P9/A2).

Everything is groupBy/agg (map-side partial aggregation + one shuffle).
``dedup_keep_first`` is the deterministic form of the reference's dbt
``unique_key`` intent (fct_purchases.sql:7) — ``dropDuplicates`` picks an
arbitrary survivor, which can't be oracle-checked and isn't reproducible
across runs, so we rank and keep rank 1.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, DoubleType, LongType, StructField, StructType

from ecommerce_dataengineering_project_spark.functions.scalars import round_half_up

# The columns ``daily_sales`` returns. A reader of a persisted result
# passes it to skip the Spark job that infers a parquet schema.
DAILY_SALES_SCHEMA = StructType(
    [
        StructField("purchase_date", DateType()),
        StructField("daily_total_sales", DoubleType()),
        StructField("daily_transaction_count", LongType()),
    ]
)


def daily_sales(
    df: DataFrame,
    ts_col: str,
    amount: Column,
    id_col: str,
) -> DataFrame:
    """The reference's one real analytical query (A1+O1,
    anomaly_detection.py:25-33): revenue + txn count per day.

    Sum is rounded to cents on output so results are reproducible
    across engines and partition orders (double addition is not
    associative).

    The result has one row per calendar day, so it is sorted in a
    single partition: ``repartition(1).sortWithinPartitions`` is one
    ``SinglePartition`` exchange, where ``orderBy`` adds a sampling job
    to pick range bounds. The exchange sits after the hash aggregate,
    which keeps its own partitioning, so the fact scan and the partial
    and final aggregation stay parallel. ``coalesce(1)`` would not: it
    adds no exchange, so Catalyst runs the final aggregation in the
    one task that writes the result.
    """
    return (
        df.groupBy(F.to_date(F.col(ts_col)).alias("purchase_date"))
        .agg(
            round_half_up(F.sum(amount), 2).alias("daily_total_sales"),
            F.count(F.col(id_col)).alias("daily_transaction_count"),
        )
        .repartition(1)
        .sortWithinPartitions("purchase_date")
    )


def high_watermark(df: DataFrame, ts_col: str):
    """Global MAX watermark scalar (A2, fct_purchases.sql:26).

    Driver-side scalar fetch of a 1-row aggregate — the same shape the
    reference's dbt incremental macro produces. The aggregate itself is
    distributed; only one value crosses to the driver.
    """
    return df.agg(F.max(ts_col)).first()[0]


def incremental_filter(df: DataFrame, ts_col: str, watermark) -> DataFrame:
    """Only-new-rows predicate (P9, fct_purchases.sql:24-27).

    With a partition-by-date layout this predicate prunes whole
    partitions before any IO — the scan never touches processed days.
    """
    if watermark is None:
        return df
    return df.where(F.col(ts_col) > F.lit(watermark))


def dedup_keep_first(
    df: DataFrame,
    key_cols: list[str],
    order_by: list[Column],
) -> DataFrame:
    """One row per key, deterministically (A3, dbt unique_key intent).

    ``order_by`` defines which duplicate survives (rank 1). One shuffle
    on the key; AQE handles skewed keys.
    """
    w = Window.partitionBy(*key_cols).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def mergeable_partials(
    df, day_col, amount_col, split_col=None
):
    """Per-day mergeable partial aggregates ``(day, psum, pcount)`` —
    the stored state of an incrementally maintained daily rollup.
    ``split_col`` (optional) keeps sub-day partials separate (e.g. one
    partial per ingest batch), which is what makes refresh additive."""
    from pyspark.sql import functions as F

    keys = [F.to_date(day_col).alias("day")]
    if split_col is not None:
        keys.append(F.col(split_col))
    return df.groupBy(*keys).agg(
        F.sum(amount_col).alias("psum"),
        F.count(F.lit(1)).alias("pcount"),
    )


def merge_partials(*partials):
    """Merge partial-aggregate relations into the final rollup:
    re-aggregation over partials only — the base FACT rows are never
    rescanned, which is the entire point of incremental materialized-
    view maintenance (at 100 TB the fact scan is the cost; partials
    are date-cardinality). Sum/count are mergeable; the cents rounding
    happens once, at the final boundary."""
    from functools import reduce

    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.functions.scalars import (
        round_half_up,
    )

    all_p = reduce(lambda a, b: a.unionByName(b), [p.select("day", "psum", "pcount") for p in partials])
    return all_p.groupBy("day").agg(
        round_half_up(F.sum("psum"), 2).alias("revenue"),
        F.sum("pcount").alias("n_orders"),
    )
