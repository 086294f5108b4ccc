"""Network streaming ingest over a TCP socket — the S1 arm that
actually crosses a network boundary in this environment.

The reference consumes Kafka (pipeline/spark/streaming_consumer.py:
55-66); this sandbox has no broker or connector jar (KAFKA_PROBE.md),
so the engine's Kafka surface is builders (streaming/kafka_io.py) plus
the custom Python DataSource (sources/pyds.py). What neither covers is
a real NETWORK hop: Spark's built-in ``socket`` source does — a TCP
server emits newline-delimited JSON, ``readStream.format("socket")``
consumes it, and the same drift-tolerant ``from_json`` parse used for
the Kafka value column turns lines into typed rows. Swapping this for
a real topic is a two-line change (format + options), which is the
point: everything downstream of the source is source-agnostic.

Delivery contract: the socket source is NOT replayable (no offsets —
Spark docs mark it at-most-once, test/dev only). That is exactly the
property the Kafka/pyds arms add back; this module's job is the
network ingest + parse shape, and its tests pin row fidelity on a
cooperative local server, not crash recovery.
"""

from __future__ import annotations

import socket
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


class LineServer:
    """One-shot localhost TCP server: accept a single client, write
    every line, keep the connection open until ``close()`` (closing
    right after the payload would fail the source's reconnect probes
    mid-query). Ephemeral port by default — read it from ``.port``."""

    def __init__(self, lines: list[str], host: str = "127.0.0.1", port: int = 0):
        self._lines = lines
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self._srv.bind((host, port))
        self._srv.listen(1)
        self.host, self.port = self._srv.getsockname()
        self._conn: socket.socket | None = None
        self._lock = threading.Lock()
        self._closed = False
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()

    def _serve(self) -> None:
        try:
            conn, _ = self._srv.accept()
            # registration races close(): take the lock and re-check,
            # so a connection accepted mid-shutdown is closed here
            # instead of leaking for the process lifetime
            with self._lock:
                if self._closed:
                    conn.close()
                    return
                self._conn = conn
            payload = ("\n".join(self._lines) + "\n").encode("utf-8")
            conn.sendall(payload)
            # leave the socket open: the streaming query polls it until
            # the run is stopped; close() tears it down
        except OSError:
            pass  # server closed before/while accepting: shutdown path

    def close(self) -> None:
        with self._lock:
            self._closed = True
            conn, self._conn = self._conn, None
        for s in (conn, self._srv):
            if s is not None:
                try:
                    s.close()
                except OSError:
                    pass


def socket_json_stream(
    spark: SparkSession,
    host: str,
    port: int,
    schema: StructType,
    aliases: dict[str, list[str]] | None = None,
) -> DataFrame:
    """``readStream.format("socket")`` -> drift-tolerant JSON parse.

    The parse path is the SAME one the Kafka value column takes
    (streaming/bronze_silver.parse_with_drift when aliases are given,
    plain from_json otherwise), so the socket, file-staged, and custom
    DataSource arms all converge on one silver schema."""
    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )  # one string column named ``value`` — the Kafka wire shape
    if aliases:
        from ecommerce_dataengineering_project_spark.streaming.bronze_silver import parse_with_drift

        return parse_with_drift(raw, schema, aliases)
    return raw.select(
        F.from_json(F.col("value"), schema).alias("r")
    ).select("r.*")


def run_socket_ingest(
    spark: SparkSession,
    server: LineServer,
    schema: StructType,
    sink_dir: str,
    ckpt_dir: str,
    expected_rows: int,
    timeout_s: float = 60.0,
    aliases: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Bounded drive of the socket stream: start the query against
    ``server``, poll the parquet sink until ``expected_rows`` arrived
    (the socket source has no natural end-of-stream), then stop and
    return the sink as a batch DataFrame."""
    import shutil
    import time

    shutil.rmtree(sink_dir, ignore_errors=True)
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    out = socket_json_stream(spark, server.host, server.port, schema, aliases)
    q = (
        out.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt_dir)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            # fail FAST on a dead query: without this, a connect/parse
            # failure would burn the whole timeout and then surface as
            # a misleading missing-sink error
            if q.exception() is not None:
                raise q.exception()
            try:
                if spark.read.parquet(sink_dir).count() >= expected_rows:
                    break
            except Exception:
                pass  # sink not created yet
            time.sleep(0.2)
    finally:
        q.stop()
        q.awaitTermination(30)
        from ecommerce_dataengineering_project_spark.streaming.harness import _capture_plan

        _capture_plan(sink_dir, q)
    return spark.read.schema(out.schema).parquet(sink_dir)
