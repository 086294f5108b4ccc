"""Stream a transaction-log table — Delta's ``readStream.format
("delta")`` (the reference's downstream-of-Delta consumption mode,
delta_to_iceberg.py:23-25) as a Spark 4 Python DataSource over
sources/txlog.py.

Offsets ARE versions: ``initialOffset`` = the version the stream
starts after (0 = from the beginning), ``latestOffset`` = the table's
current latest manifest, and the rows of micro-batch (start, end] are
exactly the files ADDED by those commits — resolved from the immutable
manifests, so checkpoint replay (``partitions(start, end)`` re-called
after a crash) re-derives the identical batch: exactly-once into any
idempotent sink.

Append-only contract (Delta's): a commit that REMOVES files
(merge/delete/overwrite/rollback) between the offsets raises unless
``ignoreChanges=true``, which degrades to "new files only" exactly like
Delta's option of the same name (rewritten rows re-emit; consumers
dedup downstream).

Scale shape: this is the partition-parallel ``DataSourceReader`` API,
not the driver-mediated Simple variant — each added file is one input
partition and executors read it with pyarrow. Still Python-mediated
per batch; at true 100 TB the native Delta/Iceberg source is the scan
path (absent here — DELTA_PROBE.md), and this source is its semantic
twin over the same manifest mechanics.
"""

from __future__ import annotations

import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from ecommerce_dataengineering_project_spark.sources.txlog import (
    log_versions,
    read_manifest,
)


def _purges_mapping(root: str, v: int, man_v: dict, cache: dict) -> bool:
    """Whether commit ``v`` purged a non-empty column mapping by full
    rewrite (compact()/overwrite(); structurally: mapping went
    non-empty -> empty with every file replaced, rollback excluded
    since it restores files and mapping together). Files from commits
    BEFORE such a rewrite speak a physical naming that post-rewrite
    mappings cannot re-express — the regime-floor refusals in
    partitions() both key on this predicate. An expired or absent
    predecessor is treated as mapped: refusal is loud, null-padding is
    silent. ``cache`` memoizes manifests across calls."""
    if man_v.get("colmap") or man_v.get("dropped"):
        return False  # mapping survives: not a purge
    act = str(man_v.get("action", ""))
    if act.startswith("rollback") or v == 1:
        # rollback restores files+mapping together; v1 is table
        # creation (no predecessor to protect)
        return False
    prev_man = cache.get(v - 1)
    if prev_man is None and v - 1 > 0:
        try:
            prev_man = read_manifest(root, v - 1)
            cache[v - 1] = prev_man
        except FileNotFoundError:
            prev_man = None  # expired: assume it was mapped
    prev_mapped = prev_man is None or bool(
        prev_man.get("colmap") or prev_man.get("dropped")
    )
    if not prev_mapped:
        return False
    full_rewrite = prev_man is None or not (
        set(man_v["files"]) & set(prev_man["files"])
    )
    return act == "overwrite" or act.startswith("optimize-compact") or full_rewrite


class TxLogStreamDataSource(DataSource):
    """``spark.readStream.format("txlog_stream").option("path", root)``."""

    @classmethod
    def name(cls) -> str:
        return "txlog_stream"

    def schema(self) -> str:
        root = self.options["path"]
        vs = log_versions(root)
        if not vs:
            raise FileNotFoundError(f"no commits in {root}")
        schema = read_manifest(root, vs[-1]).get("schema") or []
        if not schema:
            raise ValueError(
                f"{root}: table has no recorded schema — stream sources "
                "need one (append with a schema-bearing writer first)"
            )
        return ", ".join(f"`{n}` {t}" for n, t in schema)

    def streamReader(self, schema) -> "TxLogStreamReader":
        return TxLogStreamReader(self.options, schema)


class TxLogStreamReader(DataSourceStreamReader):
    def __init__(self, options, schema=None):
        self.root = options["path"]
        self.ignore_changes = str(
            options.get("ignoreChanges", "false")
        ).lower() in ("true", "1")
        self.start_version = int(options.get("startingVersion", 0))
        # declared output columns: pre-evolution files lack columns the
        # latest schema carries — read() null-pads and reorders each
        # batch to this list (the mergeSchema read semantics)
        self.columns = [f.name for f in schema.fields] if schema else None
        # column mapping at STREAM START: files hold physical names,
        # the declared schema logical ones — read() renames per batch.
        # A mid-stream mapping change is refused in partitions().
        vs = log_versions(self.root)
        man = read_manifest(self.root, vs[-1]) if vs else {}
        self.colmap = man.get("colmap", {})
        self.dropped = set(man.get("dropped", []))
        # mapping-change guard applies only to commits LANDING after
        # this point: historical commits read fine — files stay
        # physical-named across metadata-only rename/drop and read()
        # presents them under the start-time logical view, like
        # Delta's latest-schema history reads. The one exception —
        # pre-compact files whose physical names a later compact()
        # purged from the mapping — is refused per-commit in
        # partitions().
        self.cm_version = vs[-1] if vs else 0
        # newest mapping-purging rewrite anywhere in the retained log,
        # resolved lazily on the first partitions() call (NOT here —
        # reader construction must stay manifest-IO-free and
        # crash-proof). Guards the ADVICE r10 hole the window-scoped
        # scan cannot see: a WAL-replayed window ENTIRELY BEFORE the
        # purge contains no purge commit, so without this floor its
        # pre-rewrite files would be emitted and silently null-padded
        # under the post-rewrite start-time mapping.
        self._log_regime_floor: int | None = None

    def initialOffset(self):
        return {"version": self.start_version}

    def latestOffset(self):
        vs = log_versions(self.root)
        return {"version": vs[-1] if vs else 0}

    def partitions(self, start, end):
        lo, hi = int(start["version"]), int(end["version"])
        if hi <= lo:
            return []
        if (self.colmap or self.dropped) and lo > 0:
            # Restart safety: a checkpoint whose last committed offset
            # was written under a PREVIOUS mapping era means the sink
            # already holds batches under the old logical names —
            # resuming it would mix schemas silently (the exact flip
            # the mid-stream guard below refuses for live streams). A
            # fresh checkpoint (lo == 0) is always fine: nothing was
            # emitted, history replays under the current mapping like
            # Delta's latest-schema reads.
            era_start = None
            for v in reversed(log_versions(self.root)):
                try:
                    m = read_manifest(self.root, v)
                except FileNotFoundError:
                    # expired region: era boundary unknowable past it —
                    # the earliest retained consistent version stands
                    break
                if (
                    m.get("colmap", {}) == self.colmap
                    and set(m.get("dropped", [])) == self.dropped
                ):
                    era_start = v
                else:
                    break
            if era_start is not None and lo < era_start:
                raise ValueError(
                    f"txlog_stream: checkpointed offset v{lo} was committed "
                    "under a previous column mapping (the current one was "
                    f"established at v{era_start}) — the sink holds the old "
                    "schema; restart with a fresh checkpoint"
                )
        try:
            mans = {lo: read_manifest(self.root, lo)} if lo > 0 else {}
        except FileNotFoundError:
            raise ValueError(
                f"txlog_stream: checkpointed offset v{lo} was expired "
                "(expire_snapshots removed its manifest) — restart with a "
                "fresh checkpoint or option('startingVersion', <retained>)"
            ) from None
        prev = set(mans[lo]["files"]) if lo > 0 else set()
        window = [v for v in log_versions(self.root) if lo < v <= hi]
        for v in window:
            mans[v] = read_manifest(self.root, v)
        # Physical-regime floor: the newest commit whose full rewrite
        # purged a non-empty column mapping (_purges_mapping) — files
        # from EARLIER commits speak a naming the start-time mapping
        # (expressed against the post-rewrite regime) cannot
        # re-express. Two scans compose: the window-scoped pass
        # catches a purge the replay CROSSES, and a forward sweep of
        # the versions AFTER the first window's end (memoized once per
        # reader) catches the ADVICE r10 hole — a WAL-replayed window
        # whose end offset PREDATES the purge, so the window itself
        # contains no purge commit. Versions after hi are sufficient:
        # a purge at or before lo only precedes post-rewrite files (no
        # window commit can be below such a floor), a purge inside
        # (lo, hi] is the window pass's case, and purges landing after
        # the sweep arrive inside later windows, where the window pass
        # sees them. A live stream's first window ends at the latest
        # version, so its sweep is EMPTY — the guard costs nothing off
        # the replay path.
        if self._log_regime_floor is None:
            floor = 0
            for v in log_versions(self.root):
                if v <= hi:
                    continue
                if v not in mans:
                    try:
                        mans[v] = read_manifest(self.root, v)
                    except FileNotFoundError:
                        # expired between the listing and the read: we
                        # can no longer prove it was NOT a purge, and
                        # this floor is memoized for the reader's
                        # lifetime — take the module's bias (loud
                        # refusal beats silent null-padding) and floor
                        # here. Rare race: retention keeps a version
                        # suffix, so an expired v > hi implies the
                        # expiry swept past the replay window between
                        # our two reads.
                        floor = v
                        continue
                if _purges_mapping(self.root, v, mans[v], mans):
                    floor = v
            self._log_regime_floor = floor
        regime_floor = self._log_regime_floor
        for v in window:
            if v > regime_floor and _purges_mapping(self.root, v, mans[v], mans):
                regime_floor = v
        parts: list[InputPartition] = []
        for v in window:
            man = mans[v]
            cur = set(man["files"])
            if (prev - cur) and not self.ignore_changes:
                raise ValueError(
                    f"txlog_stream: commit v{v} ({man.get('action')}) removed "
                    "files — the stream is append-only; set "
                    "ignoreChanges=true to emit new files anyway "
                    "(rewritten rows will re-emit, Delta semantics)"
                )
            # deletion-vector commits change ROWS without changing the
            # file list — every bit as much a non-append as a rewrite
            # (already-emitted rows are now deleted upstream). Same
            # contract as Delta readStream over a DV delete: refuse
            # unless ignoreChanges, which degrades to new-files-only
            # (this source also does not re-apply DVs to files it
            # already emitted; downstream consumers own the deletes).
            if v > 1 and (v - 1) in mans:
                prev_dv = mans[v - 1].get("dv", {})
            elif v > 1:
                try:
                    prev_dv = read_manifest(self.root, v - 1).get("dv", {})
                except FileNotFoundError:
                    # expired predecessor: compare against this
                    # commit's own dv (no observable change)
                    prev_dv = man.get("dv", {})
            else:
                prev_dv = {}
            if man.get("dv", {}) != prev_dv and not self.ignore_changes:
                raise ValueError(
                    f"txlog_stream: commit v{v} ({man.get('action')}) changed "
                    "deletion vectors — set ignoreChanges=true to continue "
                    "with new files only (DV-deleted rows will NOT be "
                    "retracted downstream, Delta semantics)"
                )
            # column-mapping commits change the logical schema; this
            # source emits raw file bytes remapped under the stream's
            # START-TIME mapping, so any commit whose mapping differs
            # from that one must stop the stream (Delta readStream
            # needs a schemaTrackingLocation to follow renames).
            # Commits carrying the start-time mapping — including the
            # historical rename that established it — are fine.
            if v > self.cm_version and (
                man.get("colmap", {}) != self.colmap
                or set(man.get("dropped", [])) != self.dropped
            ):
                raise ValueError(
                    f"txlog_stream: commit v{v} ({man.get('action')}) has a "
                    "different column mapping (rename_column/drop_column) "
                    "than the stream's start-time schema — restart the "
                    "stream with a fresh checkpoint to pick up the new one"
                )
            # Pre-rewrite files would be silently null-padded by the
            # start-time mapping (see the regime-floor scan above) —
            # refuse them loudly instead (fresh checkpoint and
            # ignoreChanges replays both reach here).
            new_files = sorted(cur - prev)
            if new_files and v < regime_floor:
                raise ValueError(
                    f"txlog_stream: commit v{v} predates the physical "
                    f"rewrite at v{regime_floor} that purged a column "
                    "mapping — its files carry pre-rewrite physical column "
                    "names the stream's start-time mapping cannot "
                    "re-express. To replay the full post-rewrite snapshot, "
                    f"use option('startingVersion', {regime_floor - 1}) "
                    "with ignoreChanges=true (offsets are exclusive, so "
                    f"that window starts AT the v{regime_floor} rewrite, "
                    "whose files hold the complete rewritten table); "
                    f"option('startingVersion', {regime_floor}) replays "
                    "only commits after it"
                )
            for f in new_files:
                parts.append(InputPartition(os.path.join(self.root, f)))
            prev = cur
        return parts

    def read(self, partition):
        import pyarrow as pa
        import pyarrow.parquet as pq

        for b in pq.ParquetFile(partition.value).iter_batches():
            if self.colmap or self.dropped:
                # physical -> logical (start-time column mapping)
                names = [
                    self.colmap.get(n, n)
                    for n in b.schema.names
                    if n not in self.dropped
                ]
                cols = [
                    b.column(i)
                    for i, n in enumerate(b.schema.names)
                    if n not in self.dropped
                ]
                b = pa.RecordBatch.from_arrays(cols, names=names)
            if self.columns is None or b.schema.names == self.columns:
                yield b
                continue
            # additive evolution: null-pad missing columns, drop
            # since-removed ones, and match the declared order
            arrays, names = [], []
            have = {n: b.column(i) for i, n in enumerate(b.schema.names)}
            for n in self.columns:
                arrays.append(
                    have.get(n, pa.nulls(b.num_rows, pa.null()))
                )
                names.append(n)
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    def commit(self, end):
        pass  # manifests are immutable; nothing to clean up


def register(spark) -> None:
    """Session-correct registration (same 4.1 quirk handling as
    sources/pyds.register)."""
    from ecommerce_dataengineering_project_spark.sources.pyds import (
        _register_datasource,
    )

    _register_datasource(spark, TxLogStreamDataSource)
