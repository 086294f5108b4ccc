"""Z-order (Morton) clustering: a space-filling-curve sort key that
makes file-level min/max statistics selective on MULTIPLE columns at
once — the layout lever behind Delta's OPTIMIZE ZORDER BY and
Databricks/Iceberg multi-dimensional clustering.

Why it matters at 100 TB: a range-partitioned layout on column A gives
perfect skipping on A and none on B; interleaving the bits of A and B
into one sort key gives ~sqrt-grade skipping on EACH — a predicate on
either column prunes most files (Morton 1966; the standard data-
skipping result). Pair with the transaction log's per-file min/max
manifest stats (sources/txlog.py) or plain parquet row-group stats:
the curve bounds each file's footprint in (A, B) space, so the stats
become tight in both dimensions.

The key is pure integer arithmetic (`>> & <<` unrolled per bit) —
whole-stage codegen on the Spark side, and the SAME expression string
is valid DuckDB SQL, so queries built on it are oracle-checked
bit-for-bit. Columns must first be mapped to non-negative ints of
``bits`` width (bucketize / clamp — the helpers below); the mapping is
monotone so range predicates survive it.

BALANCE THE WIDTHS: the curve only clusters both dimensions if both
use comparable bit widths — interleave a 16-bit x with a 10-bit y and
x's six surplus high bits sit above every y bit, so the sort degrades
to x-major and y stats stay file-wide (measured: zero y-skipping).
Scale each column into the shared ``bits`` range first (shift a wider
id down, or map through quantile ranks the way Delta's OPTIMIZE
ZORDER range-partitions per-column ranks before interleaving).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def morton_sql(x_sql: str, y_sql: str, bits: int = 16) -> str:
    """Bit-interleave SQL for two non-negative ``bits``-wide ints:
    x occupies even bit positions, y odd. Valid in Spark SQL and
    DuckDB unchanged (both support >> << & and BIGINT arithmetic), so
    one generated string serves the engine and the oracle."""
    if bits * 2 > 62:
        raise ValueError("morton key must fit a signed 64-bit int")
    # every term fully parenthesized: SQL gives `+` HIGHER precedence
    # than `<<`, so `a << 0 + b << 1` would parse as `a << (0 + b) << 1`
    terms = []
    for b in range(bits):
        terms.append(f"(((({x_sql}) >> {b}) & 1) << {2 * b})")
        terms.append(f"(((({y_sql}) >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


def clamp_sql(col_sql: str, bits: int) -> str:
    """Clamp a non-negative integer expression into ``bits`` width
    (monotone: order is preserved up to the cap)."""
    cap = (1 << bits) - 1
    return f"LEAST(CAST({col_sql} AS BIGINT), {cap})"


def morton_key(x_sql: str, y_sql: str, bits: int = 16) -> Column:
    """The interleaved key as a Spark column (pure codegen)."""
    return F.expr(morton_sql(clamp_sql(x_sql, bits), clamp_sql(y_sql, bits), bits))


def zorder_write(
    df: DataFrame,
    path: str,
    x_sql: str,
    y_sql: str,
    n_files: int,
    bits: int = 16,
    mode: str = "overwrite",
) -> None:
    """OPTIMIZE ZORDER-style layout: range-partition on the Morton key
    (one exchange with a sampled range boundary pass — the same cost
    profile as any sorted write), sort within partitions, one parquet
    file per partition. Each file then covers a compact square-ish
    region of (x, y) space, so min/max stats are tight on BOTH columns.
    """
    keyed = df.withColumn("__z", morton_key(x_sql, y_sql, bits))
    (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def zorder_layout(
    df: DataFrame, x_sql: str, y_sql: str, n_files: int, bits: int = 16
) -> DataFrame:
    """The same clustering as ``zorder_write`` but returned as a
    DataFrame (range-exchanged + sorted on the Morton key, key
    dropped), for sinks that take a frame — e.g. a transaction-log
    OPTIMIZE commit."""
    keyed = df.withColumn("__z", morton_key(x_sql, y_sql, bits))
    return (
        keyed.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
    )


def optimize_zorder(
    table,
    spark,
    x_sql: str,
    y_sql: str,
    n_files: int,
    bits: int = 16,
) -> int:
    """Delta ``OPTIMIZE ... ZORDER BY``: rewrite the latest snapshot
    z-ordered as a NEW commit (history intact — old versions still
    time-travel; VACUUM reclaims the old layout's files after the
    retention window). Because the txlog manifest re-harvests per-file
    min/max at commit time, the rewrite immediately makes
    ``table.scan`` selective on BOTH clustered columns — the full
    ingest -> optimize -> skip loop a lakehouse runs at 100 TB.

    Concurrency boundary: the rewrite targets the snapshot read at
    entry and publishes through the version CAS, so a commit landing
    between read and publish makes the CAS raise
    ``ConcurrentCommitError`` — the conflict is DETECTED, never
    silently dropped (a silent win would exclude the concurrent
    append's rows from the optimized snapshot). Recovery is Delta's:
    re-run the OPTIMIZE against the new latest version
    (tests/test_txlog.py::test_optimize_zorder_detects_concurrent_append).

    Returns the new version number. ``table`` is a
    ``sources.txlog.TxTable`` (duck-typed to avoid a module cycle).
    """
    # Pin the snapshot ONCE, before the read: sampling versions() again
    # after read() would let an append landing in between publish-race
    # silently (our version number would skip past it and the CAS
    # would not fire) — the version and manifest below are the same
    # read the rewrite is built from, so any concurrent commit makes
    # the publish CAS raise.
    v, man = table._latest()
    # merge_schema: after additive evolution the snapshot's files may
    # carry different column sets — a single-footer schema would drop
    # evolved columns from the rewrite while the manifest still
    # records them
    clustered = zorder_layout(
        table.read(spark, version=v, merge_schema=True),
        x_sql, y_sql, n_files, bits,
    )
    # the rewrite writes PHYSICAL names, so the column mapping carries;
    # compact() is the purge path
    files, stats = table._write_commit_data(clustered, v + 1, man)
    return table._publish(
        v + 1, files, f"optimize-zorder:{x_sql},{y_sql}", stats, base=man
    )
