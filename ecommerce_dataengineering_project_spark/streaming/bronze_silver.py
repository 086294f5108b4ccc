"""Bronze->silver streaming normalization (SURVEY §2a S1/K3, §2b P1-P4).

The reference's one real Spark job: Kafka JSON bytes -> cast string ->
``from_json`` against a declared StructType -> flatten -> stamp
``ingestion_timestamp`` -> partitioned Delta append
(streaming_consumer.py:55-88). Re-expressed here over any Kafka-shaped
stream (a ``value`` string column), source-agnostic.

Schema-drift tolerance: the reference producer emits ``add_supplements``
(models/purchase.py:11) while the consumer schema declares
``add_supplement`` (streaming_consumer.py:25-35), so ``from_json``
silently nulls the column — a real bug SURVEY flags as
not-to-reproduce. ``parse_with_drift`` parses against a schema that
includes every alias and coalesces alias groups into the canonical
column, so both producer generations land in one silver schema.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    TimestampType,
)

# Consumer-declared purchase schema (streaming_consumer.py:25-35), with
# the canonical name `add_supplement` plus the producer's drifted alias.
PURCHASE_SCHEMA = StructType(
    [
        StructField("transaction_time", TimestampType()),
        StructField("transaction_id", StringType()),
        StructField("product_id", StringType()),
        StructField("price", DoubleType()),
        StructField("quantity", IntegerType()),
        StructField("is_member", BooleanType()),
        StructField("member_discount", DoubleType()),
        StructField("add_supplement", BooleanType()),
        StructField("supplement_price", DoubleType()),
    ]
)

PURCHASE_DRIFT_ALIASES = {"add_supplement": ["add_supplement", "add_supplements"]}

# The click-event stream the medallion DAG carries from bronze to silver.
EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

# Lossless timestamp round-trip through JSON (default to_json format
# truncates to milliseconds; events carry microseconds). The NTZ format
# covers an NTZ column that reaches the round-trip un-normalized.
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
EVENT_JSON_OPTIONS = {"timestampFormat": _TS_FMT, "timestampNTZFormat": _TS_FMT}
EVENT_DRIFT_ALIASES = {"value": ["value", "amount"]}


def _widen_schema(schema: StructType, aliases: dict[str, list[str]]) -> StructType:
    fields: list[StructField] = []
    for f in schema.fields:
        for name in aliases.get(f.name, [f.name]):
            fields.append(StructField(name, f.dataType, True))
    return StructType(fields)


def parse_with_drift(
    kafka_shaped: DataFrame,
    schema: StructType,
    aliases: dict[str, list[str]] | None = None,
    value_col: str = "value",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """P1+P2+P3: cast->from_json->flatten, tolerant of field renames.

    Works identically on batch and streaming DataFrames — the plan is
    pure narrow projections, so on a stream it adds zero state and at
    100 TB it pipelines inside one codegen stage with the scan.
    """
    aliases = aliases or {}
    wide = _widen_schema(schema, aliases)
    parsed = kafka_shaped.withColumn(
        "__data", F.from_json(F.col(value_col).cast("string"), wide, options or {})
    )
    cols: list[Column] = []
    for f in schema.fields:
        group = aliases.get(f.name, [f.name])
        # _widen_schema REPLACED the canonical name with the alias
        # names: a single-alias group is a pure rename and must read
        # group[0], not f.name (which the widened struct lacks)
        src = (
            F.coalesce(*[F.col(f"__data.{g}") for g in group])
            if len(group) > 1
            else F.col(f"__data.{group[0]}")
        )
        cols.append(src.alias(f.name))
    return parsed.select(*cols)


def parse_quarantine(
    df: DataFrame,
    schema: StructType,
    value_col: str = "value",
    corrupt_col: str = "corrupt_payload",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """P1 with the bad-record path made explicit: PERMISSIVE
    ``from_json`` with a corrupt-record column, so malformed payloads
    are QUARANTINED (original bytes preserved, ``quarantined=true``)
    instead of silently nulled — the ingest contract a production
    bronze->silver hop needs (the reference's consumer has no bad-path
    at all; a malformed Kafka message nulls every field and vanishes).

    Returns the parsed columns + ``corrupt_payload`` (NULL for clean
    rows) + ``quarantined``. Downstream splits on the flag: clean rows
    continue to silver, quarantined originals land in a dead-letter
    sink for replay. Narrow projections only — batch and streaming
    plans are identical and stateless.

    Sibling: ``operators/quality.parse_with_quarantine`` splits good
    from bad by an all-schema-fields-null heuristic and resolves drift
    aliases; this variant uses the parser's own corrupt-record
    verdict, so valid-but-schema-foreign JSON passes (as NULLs) while
    only genuinely malformed payloads quarantine."""
    wide = StructType(
        list(schema.fields) + [StructField(corrupt_col, StringType(), True)]
    )
    opts = dict(options or {})
    opts.update(
        {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": corrupt_col}
    )
    parsed = df.withColumn(
        "__data", F.from_json(F.col(value_col).cast("string"), wide, opts)
    )
    return parsed.select(
        *[c for c in df.columns if c != value_col],
        *[F.col(f"__data.{f.name}").alias(f.name) for f in schema.fields],
        F.col(f"__data.{corrupt_col}").alias(corrupt_col),
        F.col(f"__data.{corrupt_col}").isNotNull().alias("quarantined"),
    )


def to_kafka_shape(df: DataFrame, options: dict[str, str] | None = None) -> DataFrame:
    """K1: serialize every column into one JSON ``value`` string
    (producer.py:187-193's ``json.dumps(vars(message))``)."""
    return df.select(F.to_json(F.struct(*df.columns), options or {}).alias("value"))


def events_to_kafka(events: DataFrame, *keep: str) -> DataFrame:
    """Click events as Kafka-shaped bronze: the ``EVENT_SCHEMA`` columns
    serialized into one JSON ``value`` string, plus the ``keep``
    columns unchanged."""
    value = F.to_json(F.struct(*EVENT_SCHEMA.fieldNames()), EVENT_JSON_OPTIONS)
    return events.select(value.alias("value"), *keep)


def parse_events(kafka_shaped: DataFrame) -> DataFrame:
    """The inverse of ``events_to_kafka``: ``EVENT_SCHEMA`` rows, with
    ``amount`` accepted as a drifted name for ``value``."""
    return parse_with_drift(
        kafka_shaped, EVENT_SCHEMA, EVENT_DRIFT_ALIASES, options=EVENT_JSON_OPTIONS
    )


def stream_events_to_silver(
    spark: SparkSession, bronze_dir: str, silver_dir: str, checkpoint_dir: str
) -> None:
    """The streaming consumer's bronze->silver hop over the parquet
    files of ``events_to_kafka`` bronze in ``bronze_dir``: one
    ``availableNow`` run parses every file the checkpoint has not yet
    committed and appends it to the parquet sink ``silver_dir``, then
    stops. A re-run with the same checkpoint finds nothing new and
    writes nothing, so replaying the hop after a crash is a no-op.
    With no ``maxFilesPerTrigger``, the run takes every new file in one
    micro-batch."""
    bronze = spark.readStream.schema("value STRING").parquet(bronze_dir)
    q = (
        parse_events(bronze)
        .writeStream.format("parquet")
        .option("path", silver_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
