"""Minimal parquet transaction log: versioned snapshots, atomic
commits, time travel, and rollback — the *semantics* of the
reference's Delta/Iceberg tables (streaming_consumer.py:81-88,
delta_to_iceberg.py:44-52) on plain parquet, since neither format's
jars exist in this environment (see ``DELTA_PROBE.md``).

Design (a deliberately tiny Delta-log shape):
- ``<root>/data/c<version>/part-*.parquet`` — each commit's data files,
  written *before* the commit is published.
- ``<root>/_txlog/v<version>.json`` — one manifest per version listing
  every data file visible in that snapshot (full-snapshot manifests,
  not deltas: O(files) per commit, O(1) resolution at read time).
- Publishing = write manifest to a temp name + ``os.link`` to the
  final name — atomic on POSIX AND exclusive (link fails with EEXIST
  if the version was already published), so a reader never observes a
  partial commit and two racing writers can never both win the same
  version: the loser gets ``ConcurrentCommitError`` and must re-read
  the latest snapshot and retry — exactly Delta's optimistic-
  concurrency loop (its "win the N+1 log entry" rule on a
  put-if-absent store). A crash between data write and publish leaves
  an *unreferenced* data dir, invisible to every reader.

Every commit is the previous manifest plus what that commit changes
(Delta's "previous snapshot + actions" rule), decided in one place,
``TxTable._publish``:
- file-keyed fields (``stats``, ``bloom``, ``dv``) keep the previous
  manifest's entries for the files still listed, then take the
  commit's own entries. Rewritten files lose theirs with the file; a
  metadata-only commit lists the same files, so its deletion vectors
  carry (dropping them would resurrect every DV-deleted row);
- table-level fields (``txn``, ``schema``, ``constraints``, ``colmap``,
  ``dropped``) keep the previous value unless the commit sets a new
  one. A full rewrite that writes logical names as physical
  (``overwrite``, ``compact``) sets an empty column mapping.

At 100 TB the manifest would list lake-relative paths exactly as here;
only the listing itself would move into the engine's catalog. Readers
pass explicit file lists to ``spark.read.parquet`` so partition pruning
and pushdown behave identically to a plain scan.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
import urllib.parse
import uuid

from pyspark.sql import DataFrame, SparkSession

from ecommerce_dataengineering_project_spark.sources.readers import normalize_ntz

_LOG_DIR = "_txlog"


def log_versions(root: str) -> list[int]:
    """The committed versions of the table at ``root``, ascending
    (``[]`` when it has no log)."""
    log = os.path.join(root, _LOG_DIR)
    if not os.path.isdir(log):
        return []
    return sorted(
        int(f[1:-5])
        for f in os.listdir(log)
        if f.startswith("v") and f.endswith(".json")
    )


def manifest_path(root: str, version: int) -> str:
    return os.path.join(root, _LOG_DIR, f"v{version}.json")


def read_manifest(root: str, version: int) -> dict:
    with open(manifest_path(root, version)) as fh:
        return json.load(fh)


def _norm_time_bound(b):
    """datetime/date -> the naive-UTC ISO-8601 string the manifest
    stats use (tz-aware values converted to UTC, offset dropped);
    anything else passes through. One function serves stats harvesting
    and every pruning bound so the two sides can never drift."""
    if isinstance(b, _dt.datetime):
        if b.tzinfo is not None:
            b = b.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return b.isoformat()
    if isinstance(b, _dt.date):
        return b.isoformat()
    return b


class ConstraintViolationError(ValueError):
    """A write's rows violate a table CHECK constraint (Delta's
    ``ALTER TABLE ADD CONSTRAINT ... CHECK`` semantics): the commit is
    rejected before publish; nothing becomes visible."""


class ConcurrentCommitError(RuntimeError):
    """Another writer published this version first (optimistic
    concurrency): the commit's data files are orphaned (invisible;
    VACUUM collects them) and the writer should re-read + retry."""


class SchemaMismatchError(ValueError):
    """Writer-side schema enforcement (Delta's metaData check): the
    incoming DataFrame's schema is incompatible with the table's
    recorded schema under the requested mode."""


def _file_minmax(path: str) -> dict[str, list]:
    """Per-file [min, max] from the parquet footer (row-group stats
    folded across groups) for JSON-safe scalar columns — pure metadata,
    no data read. This is what Delta add-actions / Iceberg manifests
    carry; keeping it in the commit manifest lets the reader prune
    files from the LOG alone, before the engine ever lists or opens
    them (footer-level skipping still applies inside survivors).

    Soundness rule: a column's file-level range is emitted ONLY if
    every row group either contributes a usable [min, max] or is
    provably all-null (null_count == num_rows). A row group that holds
    data but lacks stats (e.g. parquet-mr omits Statistics when a
    string min/max exceeds its 4 KB cap) or whose stats we cannot
    represent (invalid UTF-8, exotic types) poisons the WHOLE column
    for this file — emitting the other groups' range would under-cover
    the file and let candidate_files() prune a file that contains
    matching rows (silent wrong results). Omitted columns are
    conservatively kept by the reader."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict[str, list] = {}
    poisoned: set[str] = set()
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        for ci in range(g.num_columns):
            col = g.column(ci)
            name = col.path_in_schema
            if name in poisoned:
                continue
            st = col.statistics
            if (
                st is not None
                and not st.has_min_max
                and st.null_count is not None
                and st.null_count == g.num_rows
            ):
                continue  # provably all-null group: no range, still sound
            usable = st is not None and st.has_min_max
            if usable:
                mn, mx = st.min, st.max
                if isinstance(mn, bytes):
                    try:
                        mn, mx = mn.decode("utf-8"), mx.decode("utf-8")
                    except UnicodeDecodeError:
                        usable = False
                # timestamps/dates become NAIVE-UTC ISO-8601 strings:
                # JSON-safe, and lexicographic order == chronological
                # order (fixed field widths; a bare second is a strict
                # prefix of its fractional form), so the pruning
                # comparison needs no type machinery — callers'
                # datetime bounds are normalized identically by
                # _norm_time_bound. tz-aware values (Spark writes
                # isAdjustedToUTC) are converted to UTC and the offset
                # suffix DROPPED — a '+00:00' suffix would compare
                # GREATER than the equal-instant naive bound and
                # wrongly prune a file whose min equals an inclusive
                # upper bound (silent missing rows).
                if usable and isinstance(mn, (_dt.datetime, _dt.date)):
                    mn, mx = _norm_time_bound(mn), _norm_time_bound(mx)
                if usable and (
                    not isinstance(mn, (int, float, str)) or isinstance(mn, bool)
                ):
                    usable = False
            if not usable:
                poisoned.add(name)
                out.pop(name, None)
                continue
            if name in out:
                out[name] = [min(out[name][0], mn), max(out[name][1], mx)]
            else:
                out[name] = [mn, mx]
    return out


class TxTable:
    """Single-writer versioned parquet table with snapshot reads."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(os.path.join(root, _LOG_DIR), exist_ok=True)

    # ------------------------------------------------------------- log
    def versions(self) -> list[int]:
        return log_versions(self.root)

    def _manifest(self, version: int) -> dict:
        return read_manifest(self.root, version)

    def _head(self) -> tuple[int, dict]:
        """``(latest version, its manifest)``, or ``(0, {})`` for an
        empty log."""
        vs = self.versions()
        return (vs[-1], self._manifest(vs[-1])) if vs else (0, {})

    def _latest(self) -> tuple[int, dict]:
        """``(latest version, its manifest)``; raises on an empty log."""
        v, man = self._head()
        if not v:
            raise FileNotFoundError(f"no commits in {self.root}")
        return v, man

    def _snapshot(self, version: int | None) -> tuple[int, dict]:
        """The pinned ``version`` and its manifest, or the latest."""
        if version is None:
            return self._latest()
        return version, self._manifest(version)

    def _publish(
        self,
        version: int,
        files: list[str],
        action: str,
        stats: dict[str, dict] | None = None,
        *,
        base: dict | None = None,
        txn: dict[str, int] | None = None,
        schema: list | None = None,
        bloom: dict[str, dict] | None = None,
        constraints: dict[str, str] | None = None,
        dv: dict[str, list] | None = None,
        colmap: dict[str, str] | None = None,
        dropped: list[str] | None = None,
    ) -> int:
        """Atomic commit of ``base`` (the manifest this commit builds
        on; none for a table's first) carried forward by the module's
        rule, with this commit's ``files`` and changed fields.

        The manifest is written to a temp name, then hard-linked into
        the log. The link is the commit point AND the conflict check in
        one syscall — ``os.rename`` would silently overwrite a
        concurrent winner (check-then-rename has a TOCTOU window), while
        ``os.link`` fails with EEXIST, giving true compare-and-swap on
        the version number."""
        base = base or {}
        listed = set(files)

        def carry(key: str, new: dict | None) -> dict:
            kept = {f: e for f, e in base.get(key, {}).items() if f in listed}
            return {**kept, **(new or {})}

        def pick(key: str, new, empty):
            return new if new is not None else base.get(key) or empty

        manifest = {
            "version": version,
            "action": action,
            "files": sorted(files),
            # per-file column min/max (Delta add-action / Iceberg
            # manifest stats): lets scan() prune files from the log alone
            "stats": carry("stats", stats),
            # Delta SetTransaction twin: per-writer-app highest committed
            # transaction version, the watermark idempotent streaming
            # appends dedup against
            "txn": pick("txn", txn, {}),
            # Delta metaData twin: the table's recorded schema ([name,
            # simpleString] pairs) — what writer-side enforcement
            # validates new commits against
            "schema": pick("schema", schema, []),
            # per-file Bloom filter index (Delta/Iceberg bloom column
            # index twin): point-lookup pruning on high-cardinality
            # columns where min/max ranges cannot help — see
            # candidate_files_point
            "bloom": carry("bloom", bloom),
            # Delta CHECK-constraint twin ({name: sql_expr}): every writer
            # path validates its NEW rows against these before publish —
            # see _validate_constraints
            "constraints": pick("constraints", constraints, {}),
            # DELETION VECTORS (Delta DV twin): per-file sorted row
            # positions deleted WITHOUT rewriting the file — every read
            # path filters them out positionally via _metadata.row_index
            # (see _read_files)
            "dv": carry("dv", dv),
            # COLUMN MAPPING (Delta columnMapping twin): rename/drop
            # columns as metadata-only commits, zero files rewritten.
            # ``colmap`` maps the PHYSICAL name in the parquet files to
            # the current LOGICAL name (non-identity entries only);
            # ``dropped`` lists physical names reads must hide
            "colmap": pick("colmap", colmap, {}),
            "dropped": pick("dropped", dropped, []),
        }
        final = manifest_path(self.root, version)
        # Unique per ATTEMPT (pid alone is not enough: two threads in
        # one process racing the same version would share the tmp path,
        # and the second open() would truncate the first's manifest
        # before its os.link — the CAS winner could publish the loser's
        # file list under its own version).
        tmp = os.path.join(
            os.path.dirname(final),
            f".v{version}.{os.getpid()}.{uuid.uuid4().hex[:8]}.json.tmp",
        )
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        try:
            os.link(tmp, final)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"version {version} was committed by another writer; "
                "re-read the latest snapshot and retry"
            ) from None
        finally:
            os.unlink(tmp)
        return version

    # ----------------------------------------------------- constraints
    @staticmethod
    def _validate_constraints(df: DataFrame, constraints: dict[str, str]) -> None:
        """Writer-side CHECK enforcement (Delta constraint semantics:
        each row must evaluate every constraint to TRUE — a NULL result
        is a violation). ONE aggregation job validates all constraints
        over the new data only (never the table): per constraint a
        conditional sum of violating rows, map-side combined."""
        if not constraints:
            return
        from pyspark.sql import functions as F

        counts = df.agg(
            *[
                F.sum(
                    F.when(
                        ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(False)),
                        1,
                    ).otherwise(0)
                ).alias(name)
                for name, expr in sorted(constraints.items())
            ]
        ).collect()[0]
        bad = {
            name: int(counts[name] or 0)
            for name in constraints
            if (counts[name] or 0) > 0
        }
        if bad:
            detail = ", ".join(
                f"{n} ({c} rows, CHECK {constraints[n]!r})"
                for n, c in sorted(bad.items())
            )
            raise ConstraintViolationError(
                f"write rejected: constraint(s) violated: {detail}"
            )

    def constraints(self) -> dict[str, str]:
        """The table's active CHECK constraints ({name: sql_expr})."""
        return dict(self._head()[1].get("constraints", {}))

    def add_constraint(self, spark: SparkSession, name: str, expr: str) -> int:
        """Delta ``ALTER TABLE ADD CONSTRAINT name CHECK (expr)``:
        validates the EXISTING snapshot first (a constraint the current
        data violates is rejected — Delta does the same scan), then
        publishes a metadata-only commit recording it. Every subsequent
        writer path validates its new rows against the recorded set."""
        v, man = self._latest()
        cons = dict(man.get("constraints", {}))
        if name in cons:
            raise ValueError(f"constraint {name!r} already exists")
        if man["files"]:
            self._validate_constraints(self.read(spark, merge_schema=True), {name: expr})
        cons[name] = expr
        return self._publish(
            v + 1, man["files"], f"add-constraint:{name}", base=man, constraints=cons
        )

    def drop_constraint(self, name: str) -> int:
        """Metadata-only commit removing a CHECK constraint."""
        v, man = self._latest()
        cons = dict(man.get("constraints", {}))
        if name not in cons:
            raise KeyError(f"no constraint {name!r}")
        del cons[name]
        return self._publish(
            v + 1, man["files"], f"drop-constraint:{name}", base=man, constraints=cons
        )

    # ------------------------------------------------- column mapping
    def _colmap_preflight(self, name: str) -> tuple[int, dict]:
        """Shared checks for rename_column/drop_column: a recorded
        schema must exist and name a column ``name`` that no CHECK
        constraint references (Delta blocks both the same way — a
        constraint expression holds the old name as text). Returns
        ``(version, manifest)`` read ONCE — the caller must publish at
        ``version + 1`` so a commit racing in between fails the
        hard-link CAS instead of being silently erased by a re-read."""
        import re as _re

        v, man = self._latest()
        schema = man.get("schema") or []
        if not schema:
            raise ValueError(
                "column mapping needs a recorded schema (old manifests "
                "without one cannot name their columns)"
            )
        if name not in {n for n, _ in schema}:
            raise KeyError(f"no column {name!r} in the table schema")
        word = _re.compile(rf"\b{_re.escape(name)}\b")
        offender = [
            c for c, expr in man.get("constraints", {}).items() if word.search(expr)
        ]
        if offender:
            raise ValueError(
                f"column {name!r} is referenced by CHECK constraint(s) "
                f"{offender}: drop them first (their expressions hold "
                "the name as text)"
            )
        return v, man

    def rename_column(self, old: str, new: str) -> int:
        """Delta column-mapping ``RENAME COLUMN``: a metadata-only
        commit — ZERO files rewritten. The manifest's ``colmap``
        records physical(file)->logical(current) and every read path
        remaps at the ``_read_files`` choke point; every write path
        translates back to physical, so all files keep ONE physical
        schema. Time travel to pre-rename versions shows the old name
        (each snapshot reads under its own mapping); ``compact()``
        purges the mapping by physical rewrite. Streaming reads opened
        before the rename keep their start-time schema (Spark's
        contract; Delta requires a schemaTrackingLocation to follow
        renames mid-stream)."""
        v, man = self._colmap_preflight(old)
        schema = man.get("schema") or []
        names = {n for n, _ in schema}
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        colmap = dict(man.get("colmap", {}))
        reverse = {log: phys for phys, log in colmap.items()}
        phys = reverse.get(old, old)
        # the new logical name must not shadow an occupied or retired
        # PHYSICAL slot: old files hold bytes under those names
        phys_taken = (
            {reverse.get(n, n) for n in names}
            | set(man.get("dropped", []))
        ) - {phys}
        if new in phys_taken:
            raise ValueError(
                f"{new!r} is an in-use or retired physical column name "
                "— run compact() to purge the mapping first"
            )
        if phys == new:
            colmap.pop(phys, None)  # renamed back to its physical name
        else:
            colmap[phys] = new
        new_schema = [[new if n == old else n, t] for n, t in schema]
        return self._publish(
            v + 1,
            man["files"],
            f"rename-column:{old}->{new}",
            base=man,
            schema=new_schema,
            colmap=colmap,
        )

    def drop_column(self, name: str) -> int:
        """Delta column-mapping ``DROP COLUMN``: metadata-only — the
        physical bytes stay in the files, reads hide them from this
        version on (time travel still sees them in old versions).
        Re-adding a column under the dropped name is refused until
        ``compact()`` physically purges the old bytes."""
        v, man = self._colmap_preflight(name)
        schema = man.get("schema") or []
        if len(schema) == 1:
            raise ValueError("cannot drop the table's last column")
        colmap = dict(man.get("colmap", {}))
        reverse = {log: phys for phys, log in colmap.items()}
        phys = reverse.get(name, name)
        colmap.pop(phys, None)
        dropped = sorted(set(man.get("dropped", [])) | {phys})
        new_schema = [[n, t] for n, t in schema if n != name]
        return self._publish(
            v + 1,
            man["files"],
            f"drop-column:{name}",
            base=man,
            schema=new_schema,
            colmap=colmap,
            dropped=dropped,
        )

    # ---------------------------------------------------------- schema
    @staticmethod
    def _df_schema(df: DataFrame) -> list:
        return [[f.name, f.dataType.simpleString()] for f in df.schema.fields]

    @staticmethod
    def _check_schema(prev: list | None, new: list, mode: str) -> list:
        """Writer-side enforcement (Delta metaData semantics) and the
        evolved schema to record. ``mode``:

        - ``"merge"`` (default — matches this table's additive-evolution
          reads): columns present in BOTH must keep their type; the
          write may add or omit columns (omissions null-fill at read).
          Recorded schema = previous order + new columns appended.
        - ``"strict"``: name->type must match exactly (order-insensitive)
          — the Delta default for production tables.

        Old manifests without a recorded schema validate nothing
        (conservative: can't reject what was never declared)."""
        if mode not in ("merge", "strict"):
            raise ValueError(f"schema_mode {mode!r}: use 'merge' or 'strict'")
        if not prev:
            return new
        prev_map = {n: t for n, t in prev}
        new_map = {n: t for n, t in new}
        clashes = {
            n: (prev_map[n], new_map[n])
            for n in prev_map.keys() & new_map.keys()
            if prev_map[n] != new_map[n]
        }
        if clashes:
            raise SchemaMismatchError(
                f"column type changes are never mergeable: {clashes}"
            )
        if mode == "strict" and prev_map.keys() != new_map.keys():
            raise SchemaMismatchError(
                f"strict mode: columns differ (table has "
                f"{sorted(prev_map)}, write has {sorted(new_map)})"
            )
        return prev + [[n, t] for n, t in new if n not in prev_map]

    # ----------------------------------------------------------- write
    @staticmethod
    def _phys_name(man: dict, logical: str) -> str:
        """The parquet-file (physical) name of a logical column under
        the manifest's column mapping (identity when unmapped)."""
        reverse = {log: phys for phys, log in man.get("colmap", {}).items()}
        return reverse.get(logical, logical)

    def _to_physical(self, df: DataFrame, man: dict) -> DataFrame:
        """Translate a LOGICAL-named frame to PHYSICAL names before a
        data write, so every file of the table shares one physical
        schema regardless of renames. Refuses writes that would
        collide with retired physical names — re-using the name of a
        dropped column (or of a renamed column's old slot) would make
        old files' bytes resurface under the new column on a merged
        read; Delta's column-mapping mode prevents the same thing with
        column IDs. compact() purges the mapping and frees the names."""
        colmap = man.get("colmap", {})
        dropped = set(man.get("dropped", []))
        if not colmap and not dropped:
            return df
        logical_names = set(df.columns)
        # a logical column named like an occupied physical slot (the
        # old name of a renamed column, or a dropped column) would land
        # on bytes old files already hold under that name
        clash = sorted(logical_names & (set(colmap) | dropped))
        if clash:
            raise ValueError(
                f"write would reuse retired physical column name(s) "
                f"{clash}: old files still hold bytes under them — run "
                "compact() to purge the column mapping first"
            )
        renames = {
            log: phys for phys, log in colmap.items() if log in logical_names
        }
        return df.withColumnsRenamed(renames) if renames else df

    def _write_commit_data(
        self, df: DataFrame, version: int, man: dict | None = None
    ) -> tuple[list[str], dict[str, dict]]:
        # ``man`` — the manifest whose column mapping governs the
        # write. Default: the latest snapshot's (every in-place writer
        # path). Pass ``{}`` to write LOGICAL names as physical (schema
        # redefinition: overwrite, compact's mapping purge).
        if man is None:
            man = self._head()[1]
        df = self._to_physical(df, man)
        # Per-ATTEMPT staging dir (version + a unique token): two
        # writers racing for the same version can never clobber each
        # other's staged files, so the publish-time CAS is the only
        # arbitration needed. A crashed or losing attempt's dir is
        # unreferenced by any manifest — invisible to readers, and
        # VACUUM collects it (Delta stages uniquely-named part files
        # into the table dir for the same reason).
        attempt = f"c{version}-{uuid.uuid4().hex[:12]}"
        data_dir = os.path.join(self.root, "data", attempt)
        # Spark's default INT96 timestamps carry NO parquet min/max
        # stats, which would silently disable event-time file pruning
        # (the most common lakehouse predicate). Pin the deprecated-
        # format replacement for the commit write regardless of the
        # caller's session defaults, then restore.
        spark = df.sparkSession
        key = "spark.sql.parquet.outputTimestampType"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "TIMESTAMP_MICROS")
        try:
            df.write.mode("errorifexists").parquet(data_dir)
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        rel = os.path.join("data", attempt)
        files = [
            os.path.join(rel, f)
            for f in os.listdir(data_dir)
            if f.endswith(".parquet")
        ]
        stats = {
            f: _file_minmax(os.path.join(self.root, f)) for f in sorted(files)
        }
        return files, stats

    # Spark simpleString -> the xxh64 logical input family. Only types
    # whose Spark hash the Python probe reproduces are indexable;
    # others raise at WRITE time (never a silent wrong prune at read).
    _BLOOM_TYPES = {
        "bigint": "long",
        "int": "int",
        "smallint": "int",
        "tinyint": "int",
        "date": "int",
        "string": "string",
    }

    def _file_blooms(
        self,
        spark: SparkSession,
        files: list[str],
        bloom_cols: tuple[str, ...],
        fpp: float = 0.01,
    ) -> dict[str, dict]:
        """Per-file Bloom filters over ``bloom_cols`` — the Delta
        "bloom filter index" / Iceberg parquet-bloom twin: for a
        high-cardinality column whose values scatter across the key
        space, every file's [min, max] spans the whole domain and range
        pruning keeps everything; a per-file bloom answers "is THIS
        value possibly in THIS file" from the log alone.

        Build is ONE distributed job per column over the just-written
        files (Delta collects its add-action stats the same way):
        explode each row's k bit positions — the exact
        ``xxhash64(col, i)`` family operators/bloom.py builds and
        probes with — and ``bit_or`` per (file, word); at most
        files x m/64 rows come back. All files in a commit share (m, k)
        sized from the largest file's footer rowcount (an upper bound
        on its distinct count), so one job serves every file. NULLs are
        never indexed: SQL equality with NULL is never true, and the
        probe rejects None.
        """
        import pyarrow.parquet as pq

        from pyspark.sql import functions as F

        from ecommerce_dataengineering_project_spark.operators.bloom import (
            _pos_sql,
            bloom_params,
        )

        root_abs = os.path.abspath(self.root)
        abs_files = [os.path.join(root_abs, f) for f in files]
        max_rows = max(
            (pq.ParquetFile(p).metadata.num_rows for p in abs_files), default=0
        )
        m_bits, k = bloom_params(max(max_rows, 1), fpp)
        df = spark.read.parquet(*abs_files)
        type_map = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        out: dict[str, dict] = {f: {} for f in files}
        for col in bloom_cols:
            simple = type_map.get(col)
            if simple not in self._BLOOM_TYPES:
                raise ValueError(
                    f"bloom index on {col!r}: type {simple!r} not indexable "
                    f"(supported: {sorted(self._BLOOM_TYPES)})"
                )
            logical = self._BLOOM_TYPES[simple]
            pos_arr = ", ".join(
                _pos_sql(f"`{col}`", i, m_bits) for i in range(1, k + 1)
            )
            rows = (
                df.where(F.col(col).isNotNull())
                .select(
                    F.col("_metadata.file_path").alias("__f"),
                    F.explode(F.expr(f"array({pos_arr})")).alias("p"),
                )
                .selectExpr(
                    "__f",
                    "CAST(shiftright(p, 6) AS INT) AS w",
                    "shiftleft(1L, CAST(p & 63 AS INT)) AS m",
                )
                .groupBy("__f", "w")
                .agg(F.bit_or("m").alias("bits"))
                .collect()
            )
            words: dict[str, list[int]] = {f: [0] * (m_bits // 64) for f in files}
            # ``_metadata.file_path`` is a URI (possibly URL-encoded,
            # possibly resolved through a symlink), so recovering the
            # manifest-relative path by string-splitting on the root is
            # fragile. Part-file basenames carry a task UUID and are
            # unique within a commit's staging dir — match on those.
            base_map = {os.path.basename(f): f for f in files}
            if len(base_map) != len(files):
                raise ValueError(
                    "bloom index build: duplicate part-file basenames "
                    f"within one commit: {sorted(files)}"
                )
            for r in rows:
                uri_path = urllib.parse.unquote(urllib.parse.urlparse(r["__f"]).path)
                words[base_map[os.path.basename(uri_path)]][r["w"]] = r["bits"]
            for f in files:
                out[f][col] = {
                    "m": m_bits,
                    "k": k,
                    "type": logical,
                    "words": words[f],
                }
        return out

    def append(
        self,
        df: DataFrame,
        schema_mode: str = "merge",
        bloom_cols: tuple[str, ...] = (),
        _pre_validated: dict[str, str] | None = None,
    ) -> int:
        """Append with automatic conflict REBASE (Delta's blind-append
        resolution: two appends commute, so losing the version CAS is
        not a logical conflict). The data files are written ONCE into a
        unique staging dir; on a lost CAS only the metadata work
        re-runs against the winner's manifest — schema compatibility
        and CHECK constraints are re-checked there, because the
        concurrent commit may have evolved either.

        ``_pre_validated`` (internal): the constraint set the caller
        already proved ``df`` satisfies — append_or_quarantine filters
        on the constraint predicates, so re-running the validation
        aggregation would be a redundant full scan of the batch."""
        return self._append(df, schema_mode, bloom_cols, _pre_validated)

    def append_txn(self, df: DataFrame, app_id: str, txn_version: int) -> int:
        """Idempotent append — the Delta ``txnAppId``/``txnVersion``
        (SetTransaction) contract for exactly-once streaming sinks:
        foreachBatch delivers at-least-once, so a retried micro-batch
        re-runs its commit; recording the writer app's highest
        committed transaction version in the manifest lets the replay
        detect "already committed" and SKIP instead of double-append.
        Combined with the publish CAS this also closes the
        concurrent-retry race: if another attempt of the same batch
        wins the version, the loser re-reads, sees the watermark, and
        skips."""
        return self._append(df, watermark=(app_id, txn_version))

    def _append(
        self,
        df: DataFrame,
        schema_mode: str = "merge",
        bloom_cols: tuple[str, ...] = (),
        validated: dict[str, str] | None = None,
        watermark: tuple[str, int] | None = None,
    ) -> int:
        """The CAS-retry loop of ``append`` and ``append_txn`` (which
        passes its ``(app_id, txn_version)`` as ``watermark``)."""
        new_files = new_stats = new_bloom = None
        wrote_under: tuple | None = None
        for _ in range(8):
            v, man = self._head()
            txn = None
            if watermark is not None:
                app_id, txn_version = watermark
                if man.get("txn", {}).get(app_id, -1) >= txn_version:
                    return v  # this batch already committed: no-op
                txn = {**man.get("txn", {}), app_id: txn_version}
            schema = self._check_schema(
                man.get("schema"), self._df_schema(df), schema_mode
            )
            cons = man.get("constraints", {})
            if cons != validated:
                self._validate_constraints(df, cons)
                validated = cons
            mapping = (man.get("colmap", {}), man.get("dropped", []))
            # Write the data once per column mapping. If the CAS winner
            # changed the mapping between our attempts, the staged files
            # carry STALE physical names: restage under the winner's —
            # _to_physical's clash check turns a genuine name conflict
            # into a loud error instead of two logicals sharing one
            # physical slot. The abandoned staging dir is unreferenced
            # by any manifest; VACUUM collects it.
            if new_files is None or wrote_under != mapping:
                new_files, new_stats = self._write_commit_data(df, v + 1, man)
                wrote_under = mapping
                new_bloom = (
                    self._file_blooms(
                        df.sparkSession,
                        new_files,
                        # written files carry PHYSICAL names
                        tuple(self._phys_name(man, c) for c in bloom_cols),
                    )
                    if bloom_cols
                    else {}
                )
            try:
                return self._publish(
                    v + 1,
                    man.get("files", []) + new_files,
                    "append" if watermark is None else "append-txn:%s:%s" % watermark,
                    new_stats,
                    base=man,
                    txn=txn,
                    schema=schema,
                    bloom=new_bloom,
                )
            except ConcurrentCommitError:
                continue  # rebase on the winner's manifest and retry
        who = "append" if watermark is None else "append_txn(%s, %s)" % watermark
        raise ConcurrentCommitError(f"{who}: lost the version CAS 8 times in a row")

    def overwrite(self, df: DataFrame) -> int:
        """Overwrite REDEFINES the table, schema included (Delta's
        overwriteSchema path) — no compatibility check against the
        prior snapshot's columns."""
        v, man = self._head()
        self._validate_constraints(df, man.get("constraints", {}))
        # schema redefinition: the df's names BECOME the physical
        # schema, so the column mapping resets (Delta overwriteSchema)
        new_files, new_stats = self._write_commit_data(df, v + 1, man={})
        return self._publish(
            v + 1,
            new_files,
            "overwrite",
            new_stats,
            base=man,
            schema=self._df_schema(df),
            colmap={},
            dropped=[],
        )

    def merge(
        self,
        spark: SparkSession,
        changes: DataFrame,
        key_cols: list[str],
        seq_col: str = "seq",
        op_col: str = "op",
    ) -> int:
        """Delta ``MERGE INTO`` on the versioned table: apply a CDC
        feed (I/U/D, operators/cdc.apply_cdc semantics) and publish the
        result as a new ``merge`` version. Like Delta, the rewrite is
        FILE-SCOPED: manifest stats resolve which files can possibly
        hold a changed key (the span of ``key_cols[0]`` over the feed),
        untouched files carry into the new manifest verbatim — at
        100 TB a merge touching one day's keys rewrites one day's
        files, not the table. Files without stats degrade to the
        conservative full rewrite. History stays time-travelable; a
        commit racing between the snapshot read and the publish fails
        the CAS (ConcurrentCommitError) — re-read and re-apply."""
        from ecommerce_dataengineering_project_spark.operators.cdc import apply_cdc
        from pyspark.sql import functions as F

        v, man = self._latest()
        key = key_cols[0]
        bounds = changes.agg(
            F.min(key).alias("lo"), F.max(key).alias("hi")
        ).collect()[0]
        if bounds.lo is None:
            return v  # empty feed: nothing to merge
        touched, _ = self.candidate_files(key, bounds.lo, bounds.hi, version=v)
        touched_set = set(touched)
        untouched = [f for f in man["files"] if f not in touched_set]
        if touched:
            # mergeSchema: under additive evolution the touched files
            # may carry different column sets; a single-footer schema
            # would silently DROP evolved columns from the rewrite.
            # _read_files also applies the snapshot's deletion vectors —
            # a raw read here would RESURRECT dv-deleted rows into the
            # rewrite.
            base = self._read_files(spark, man, touched, merge_schema=True)
        else:
            base = self.read(spark, v, merge_schema=True).limit(0)
        merged = apply_cdc(base, changes, key_cols, seq_col, op_col)
        schema = self._check_schema(
            man.get("schema"), self._df_schema(merged), "merge"
        )
        self._validate_constraints(merged, man.get("constraints", {}))
        new_files, new_stats = self._write_commit_data(merged, v + 1, man)
        return self._publish(
            v + 1,
            untouched + new_files,
            f"merge:{','.join(key_cols)}",
            new_stats,
            base=man,
            schema=schema,
        )

    def append_or_quarantine(
        self, df: DataFrame, quarantine: "TxTable"
    ) -> tuple[int, int | None]:
        """Expectations with a dead-letter table (the DLT
        ``expect_or_drop`` + quarantine pattern, and the batch twin of
        streaming/bronze_silver's parse_quarantine): rows passing every
        CHECK constraint append HERE; violating rows append to
        ``quarantine`` tagged with ``_violations`` (comma-joined names
        of the constraints they failed) instead of failing the whole
        commit — the right ingest contract when one bad producer must
        not stall the pipeline, vs plain ``append`` which rejects the
        batch outright.

        Returns ``(main_version, quarantine_version_or_None)``. Both
        splits are narrow filters over the same scan (no shuffle added);
        NULL constraint results quarantine, matching the strict path's
        NULL-is-violation rule."""
        from pyspark.sql import functions as F

        cons = self.constraints()
        if not cons:
            return self.append(df), None
        flags = {
            name: F.coalesce(F.expr(expr).cast("boolean"), F.lit(False))
            for name, expr in sorted(cons.items())
        }
        all_ok = F.lit(True)
        for c in flags.values():
            all_ok = all_ok & c
        ok = df.where(all_ok)
        bad = df.where(~all_ok).withColumn(
            "_violations",
            F.concat_ws(
                ",",
                F.filter(
                    F.array(
                        *[
                            F.when(~c, F.lit(n)).otherwise(F.lit(None))
                            for n, c in flags.items()
                        ]
                    ),
                    lambda x: x.isNotNull(),
                ),
            ),
        )
        # ok already passed every predicate via the split filter — skip
        # the redundant validation aggregation inside append
        main_v = self.append(ok, _pre_validated=cons)
        if bad.isEmpty():
            return main_v, None
        return main_v, quarantine.append(bad)

    def delete_where(self, spark: SparkSession, col: str, lo=None, hi=None) -> int:
        """Delta ``DELETE FROM ... WHERE col BETWEEN lo AND hi``,
        FILE-SCOPED via manifest stats: files whose [min, max] provably
        cannot hold a matching row carry into the new manifest verbatim
        (stats, blooms, and bytes untouched); only candidate files are
        rewritten with matching rows filtered out. At 100 TB a
        retention delete of one day's key span rewrites one day's
        files, not the table. NULL predicate results keep the row
        (SQL DELETE semantics: only rows where the predicate is TRUE
        are deleted). History stays time-travelable; the publish rides
        the version CAS like every other commit. Returns the new
        version (the current one unchanged if no file can match)."""
        from pyspark.sql import functions as F

        v, man = self._latest()
        touched, _ = self.candidate_files(col, lo, hi, version=v)
        if not touched:
            return v  # stats prove nothing matches: metadata-only no-op
        touched_set = set(touched)
        untouched = [f for f in man["files"] if f not in touched_set]
        base = self._read_files(spark, man, touched, merge_schema=True)
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (F.col(col) >= F.lit(lo))
        if hi is not None:
            cond = cond & (F.col(col) <= F.lit(hi))
        kept = base.where(~F.coalesce(cond, F.lit(False)))
        new_files, new_stats = self._write_commit_data(kept, v + 1, man)
        return self._publish(
            v + 1, untouched + new_files, f"delete:{col}", new_stats, base=man
        )

    def shallow_clone(self, target_root: str) -> "TxTable":
        """Delta ``SHALLOW CLONE``: a new table whose v1 manifest
        REFERENCES the source snapshot's data files by absolute path —
        zero bytes copied, stats / blooms / constraints carried, ready
        instantly. Writes to the clone stage under the CLONE's root and
        never touch the source; the clone's VACUUM walks only its own
        ``data/`` dir, so source files are structurally un-deletable
        from the clone side. The clone diverges from the source from
        its first write (exactly Delta's contract — it is a fork, not a
        mirror)."""
        if os.path.isdir(os.path.join(target_root, _LOG_DIR)):
            raise FileExistsError(f"{target_root} is already a txlog table")
        v, man = self._latest()
        src = os.path.abspath(self.root)
        # the source manifest with every file key made absolute
        rekeyed = {
            key: {os.path.join(src, f): e for f, e in man.get(key, {}).items()}
            for key in ("stats", "bloom", "dv")
        }
        clone = TxTable(target_root)
        clone._publish(
            1,
            [os.path.join(src, f) for f in man["files"]],
            f"clone:{src}@v{v}",
            base={**man, **rekeyed},
            txn={},
        )
        return clone

    def rollback(self, to_version: int) -> int:
        """Roll-forward rollback: publish a NEW version whose file list
        is the old snapshot's — history is never rewritten, exactly like
        Delta's RESTORE."""
        old = self._manifest(to_version)
        v, cur = self._latest()
        # The old snapshot is the base: its files come back with their
        # stats, blooms and DV state, and its column mapping (which
        # names those files' physical columns) and schema with them.
        # Constraints are table metadata, not snapshot data: the
        # CURRENT rule set stays active across a data restore, like the
        # txn watermarks. A restore to data predating a constraint may
        # reintroduce rows new writes would reject — Delta RESTORE has
        # the same property.
        return self._publish(
            v + 1,
            old["files"],
            f"rollback:{to_version}",
            base=old,
            txn=cur.get("txn", {}),
            constraints=cur.get("constraints", {}),
        )

    # ------------------------------------------------------------ read
    @staticmethod
    def _dv_frame(spark: SparkSession, dv: dict[str, list]) -> DataFrame:
        """(part-file basename, row position) pairs of a DV map.
        Matching is by unique part-file basename — the same contract
        _file_blooms relies on (uuid'd task file names)."""
        rows = [
            (os.path.basename(f), int(p)) for f, ps in dv.items() for p in ps
        ]
        return spark.createDataFrame(rows, "__dv_file STRING, __dv_pos BIGINT")

    @staticmethod
    def _require_dv_safe_basenames(files: list[str], context: str) -> None:
        """The DV machinery keys on part-file BASENAMES (the scan side
        only has ``_metadata.file_path``). That is sound for the log's
        own uuid'd part files, but convert_to_txlog-adopted layouts can
        break it two ways, both of which must refuse LOUDLY instead of
        corrupting silently: (1) duplicate basenames across directories
        (hive layouts repeat part-00000.parquet per partition — a
        positional delete would hit every namesake); (2) basenames that
        URL-encode (``_metadata.file_path`` is a URI, so 'my data'
        arrives as 'my%20data' and the DV silently never matches,
        resurrecting deleted rows). compact() rewrites into log-owned
        uuid'd files and clears both."""
        import urllib.parse

        seen: dict[str, str] = {}
        for f in files:
            b = os.path.basename(f)
            if b in seen and seen[b] != f:
                raise ValueError(
                    f"{context}: two snapshot files share the basename "
                    f"{b!r} ({seen[b]!r} and {f!r}) — positional deletes "
                    "key on basenames and would misattribute rows; run "
                    "compact() to rewrite into uniquely-named files first"
                )
            seen[b] = f
            if urllib.parse.quote(b, safe="-_.~") != b:
                raise ValueError(
                    f"{context}: file basename {b!r} contains characters "
                    "that URL-encode in _metadata.file_path — the "
                    "positional match would silently miss it; run "
                    "compact() to rewrite into log-named files first"
                )

    def _read_files(
        self,
        spark: SparkSession,
        man: dict,
        rel_files: list[str],
        merge_schema: bool = False,
    ) -> DataFrame:
        """Read a subset of a snapshot's files with that snapshot's
        DELETION VECTORS applied — the one choke point every raw file
        read in this class goes through, so no path (merge bases,
        delete rewrites, CDF sides, stats/bloom scans) can resurrect a
        DV-deleted row."""
        from pyspark.sql import functions as F

        paths = [os.path.join(self.root, f) for f in rel_files]
        reader = spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*paths)
        wanted = set(rel_files)
        dv = {
            f: ps
            for f, ps in man.get("dv", {}).items()
            if f in wanted and ps
        }
        if dv:
            keyed = df.select(
                "*",
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("__dv_fb"),
                F.col("_metadata.row_index").alias("__dv_ri"),
            )
            dvdf = self._dv_frame(spark, dv)
            df = keyed.join(
                F.broadcast(dvdf),
                (F.col("__dv_fb") == F.col("__dv_file"))
                & (F.col("__dv_ri") == F.col("__dv_pos")),
                "left_anti",
            ).drop("__dv_fb", "__dv_ri")
        return normalize_ntz(self._to_logical(df, man))

    @staticmethod
    def _to_logical(df: DataFrame, man: dict) -> DataFrame:
        """Apply the snapshot's column mapping to a raw file read:
        hide dropped physical columns, rename surviving physical names
        to their logical names. The inverse of _to_physical, applied at
        the same choke points as the deletion vectors so no read path
        can leak a physical name or a dropped column."""
        dropped = [c for c in man.get("dropped", []) if c in df.columns]
        if dropped:
            df = df.drop(*dropped)
        renames = {
            phys: log
            for phys, log in man.get("colmap", {}).items()
            if phys in df.columns
        }
        return df.withColumnsRenamed(renames) if renames else df

    def _rows_at_positions(
        self, spark: SparkSession, dv: dict[str, list], man: dict | None = None
    ) -> DataFrame:
        """The INVERSE of the DV filter: fetch exactly the rows a DV
        map points at (CDF needs the pre-images of a dv-only delete —
        the bytes are still in the files, that is the point of DVs)."""
        from pyspark.sql import functions as F

        files = [f for f, ps in dv.items() if ps]
        if not files:
            raise ValueError("_rows_at_positions: empty dv")
        df = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(self.root, f) for f in files]
        )
        keyed = df.select(
            "*",
            F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1).alias(
                "__dv_fb"
            ),
            F.col("_metadata.row_index").alias("__dv_ri"),
        )
        dvdf = self._dv_frame(spark, dv)
        out = keyed.join(
            F.broadcast(dvdf),
            (F.col("__dv_fb") == F.col("__dv_file"))
            & (F.col("__dv_ri") == F.col("__dv_pos")),
            "left_semi",
        ).drop("__dv_fb", "__dv_ri")
        if man is not None:
            out = self._to_logical(out, man)
        return normalize_ntz(out)

    def _dv_candidates(
        self, spark: SparkSession, predicate: str, man: dict
    ) -> DataFrame:
        """The shared candidate scan for both DV write paths
        (delete_where_dv / update_where_dv): every LIVE row of the
        snapshot (existing DV positions anti-joined away) matching
        ``predicate``, keyed by (file basename ``__fb``, row position
        ``__ri``). NTZ-normalized like the ``_read_files`` choke point,
        so a timestamp predicate selects exactly the rows the same
        predicate selects on ``read()`` — evaluating over the raw
        parquet schema could pick a different row set (tz-adjusted vs
        NTZ wallclock). NULL predicate rows are kept (SQL DELETE/UPDATE
        semantics). One helper feeds both callers so a predicate-
        semantics fix can never land in only one of them."""
        from pyspark.sql import functions as F

        # DV writes are only sound when every snapshot basename is
        # unique and URI-stable (adopted hive layouts are neither) —
        # loud refusal here protects every later read
        self._require_dv_safe_basenames(
            man["files"], "delete_where_dv/update_where_dv"
        )
        paths = [os.path.join(self.root, f) for f in man["files"]]
        base = spark.read.option("mergeSchema", "true").parquet(*paths)
        keyed = normalize_ntz(
            self._to_logical(
                base.select(
                    F.element_at(
                        F.split(F.col("_metadata.file_path"), "/"), -1
                    ).alias("__fb"),
                    F.col("_metadata.row_index").alias("__ri"),
                    "*",
                ),
                man,
            )
        ).where(F.coalesce(F.expr(predicate).cast("boolean"), F.lit(False)))
        existing = man.get("dv", {})
        if existing:
            dvdf = self._dv_frame(spark, existing)
            keyed = keyed.join(
                F.broadcast(dvdf),
                (F.col("__fb") == F.col("__dv_file"))
                & (F.col("__ri") == F.col("__dv_pos")),
                "left_anti",
            )
        return keyed

    @staticmethod
    def _merge_dv(man: dict, hits) -> dict[str, list]:
        """The dv entries a DV commit changes: each hit file's existing
        positions plus its freshly matched (basename, position) rows
        (manifest-relative keys, sorted positions)."""
        by_base: dict[str, set] = {}
        for r in hits:
            by_base.setdefault(r["__fb"], set()).add(int(r["__ri"]))
        base_to_rel = {os.path.basename(f): f for f in man["files"]}
        dv = man.get("dv", {})
        changed: dict[str, list] = {}
        for b, ps in by_base.items():
            rel = base_to_rel[b]
            changed[rel] = sorted(set(dv.get(rel, [])) | ps)
        return changed

    def delete_where_dv(
        self,
        spark: SparkSession,
        predicate: str,
        max_rows: int = 100_000,
    ) -> int:
        """DELETE via DELETION VECTORS (Delta DV twin): record the
        matching rows' (file, row position) pairs in the manifest
        instead of rewriting any data file — a metadata-weight commit
        that makes small/point deletes O(matches), not O(touched
        files), and keeps time travel exact (old versions carry the
        old dv map). Reads filter the positions out at the
        ``_read_files`` choke point.

        Size gate: past ``max_rows`` matches the positional map stops
        being metadata-weight, so the call falls back to the
        file-rewrite path's economics — callers doing bulk deletes
        should use ``delete_where`` (file-scoped rewrite) instead;
        this raises to make that choice explicit rather than silently
        committing a multi-MB manifest.

        Positions are evaluated against the CURRENT snapshot (existing
        dv rows are already filtered, so re-deleting is naturally
        idempotent). NULL predicate rows are kept (SQL DELETE
        semantics)."""
        v, man = self._latest()
        keyed = self._dv_candidates(spark, predicate, man)
        hits = keyed.select("__fb", "__ri").limit(max_rows + 1).collect()
        if len(hits) > max_rows:
            raise ValueError(
                f"delete_where_dv: >{max_rows} matching rows — use the "
                "file-rewrite delete_where for bulk deletes"
            )
        if not hits:
            return v  # nothing matches: no commit
        # the carried stats now over-cover: conservative, sound
        return self._publish(
            v + 1,
            man["files"],
            f"delete-dv:{len(hits)} rows",
            base=man,
            dv=self._merge_dv(man, hits),
        )

    def update_where_dv(
        self,
        spark: SparkSession,
        predicate: str,
        set_exprs: dict[str, str],
        max_rows: int = 100_000,
    ) -> int:
        """UPDATE via deletion vectors, in ONE atomic commit: the
        matching rows' positions enter the dv map (pre-image delete)
        AND their rewritten forms land as new appended files
        (post-image insert) under the same version CAS — readers flip
        from old rows to new rows in one manifest swap, never seeing
        both or neither. This is Delta's DV-backed UPDATE: touched
        FILES are not rewritten, only the matched rows' bytes are
        written once. The change feed sees the commit as dv deletes +
        added-file inserts — exactly the update_preimage/postimage
        pair. Same ``max_rows`` metadata-weight gate as
        delete_where_dv; bulk updates belong on the MERGE path."""
        from pyspark.sql import functions as F

        v, man = self._latest()
        keyed = self._dv_candidates(spark, predicate, man)
        matched = keyed.localCheckpoint(eager=True)  # one scan feeds both arms
        hits = matched.select("__fb", "__ri").limit(max_rows + 1).collect()
        if len(hits) > max_rows:
            raise ValueError(
                f"update_where_dv: >{max_rows} matching rows — use merge() "
                "for bulk updates"
            )
        if not hits:
            return v
        # _dv_candidates already NTZ-normalized the relation
        post = matched.drop("__fb", "__ri")
        # SQL UPDATE semantics: SET expressions cast to the COLUMN's
        # existing type (a literal 99 is int, the column may be bigint —
        # without the cast the post-image append trips the schema check)
        orig_types = dict(post.dtypes)
        for col, expr in set_exprs.items():
            if col not in orig_types:
                raise ValueError(f"update_where_dv: unknown column {col!r}")
            post = post.withColumn(col, F.expr(expr).cast(orig_types[col]))
        self._validate_constraints(post, man.get("constraints", {}))
        schema = self._check_schema(
            man.get("schema"), self._df_schema(post), "merge"
        )
        new_files, new_stats = self._write_commit_data(post, v + 1, man)
        return self._publish(
            v + 1,
            man["files"] + new_files,
            f"update-dv:{len(hits)} rows",
            new_stats,
            base=man,
            schema=schema,
            dv=self._merge_dv(man, hits),
        )

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Snapshot read. ``merge_schema=True`` is the schema-evolution
        path: commits may add columns over time, and the union schema is
        reconciled at read (parquet ``mergeSchema``) with missing
        columns null-filled — additive evolution exactly like Delta's
        ``mergeSchema`` writes."""
        v, man = self._snapshot(version)
        if not man["files"]:
            raise FileNotFoundError(f"version {v} of {self.root} lists no files")
        return self._read_files(spark, man, man["files"], merge_schema)

    def read_changes(
        self,
        spark: SparkSession,
        from_version: int,
        to_version: int | None = None,
    ) -> DataFrame:
        """Delta Change-Data-Feed twin, reconstructed at ROW level from
        the file-level log: for each commit v in
        (``from_version``, ``to_version``], the rows of v's ADDED files
        ``EXCEPT ALL`` the rows of its REMOVED files are that commit's
        inserts, and the reverse difference its deletes — rows a
        rewrite carried through unchanged appear on both sides and
        cancel, so a file-scoped MERGE feeds downstream incremental
        consumers only its NET row changes (an update surfaces as the
        delete of the pre-image plus the insert of the post-image,
        exactly Delta CDF's update_preimage/update_postimage pair
        without the dedicated change files). ``from_version=0`` means
        "since the beginning" (every row of commit 1 is an insert).

        Output: the table payload plus ``_change_type``
        ('insert' | 'delete') and ``_commit_version`` — Delta's CDF
        column names.

        Scale shape: per commit, the exceptAll pair shuffles ONLY the
        commit's added+removed files — for an append that is the new
        data and nothing else (removed side empty, the exceptAll
        reduces to a pass-through), for a file-scoped merge it is the
        rewritten slice, never the table. The per-commit feeds union
        lazily into one plan.
        """
        if to_version is None:
            to_version, _ = self._latest()
        window = [v for v in self.versions() if from_version < v <= to_version]
        from pyspark.sql import functions as F

        def _empty_feed() -> DataFrame:
            # a legitimate no-op window (caught-up consumer, or only
            # metadata commits landed): ZERO change rows, not an error
            # — Delta CDF returns an empty frame here too
            base = self.read(spark, merge_schema=True).limit(0)
            return base.withColumns(
                {
                    "_change_type": F.lit("insert").cast("string"),
                    "_commit_version": F.lit(0).cast("int"),
                }
            )

        if not window:
            return _empty_feed()

        # Change feeds across a column-mapping change would mix frames
        # whose schemas disagree on names — Delta refuses CDF reads
        # across rename/drop boundaries for the same reason (without
        # a schema-tracking location). Narrow the range to either side.
        check_vs = ([from_version] if from_version > 0 else []) + window
        shapes = set()
        for cv in check_vs:
            m = self._manifest(cv)
            shapes.add(
                json.dumps(
                    [m.get("colmap", {}), sorted(m.get("dropped", []))],
                    sort_keys=True,
                )
            )
        if len(shapes) > 1:
            raise ValueError(
                "read_changes: the requested version range crosses a "
                "column-mapping change (rename_column/drop_column) — "
                "read the feed in sub-ranges on either side of it"
            )

        out: DataFrame | None = None
        prev_man = (
            {"files": [], "dv": {}}
            if from_version == 0
            else self._manifest(from_version)
        )
        for v in window:
            man = self._manifest(v)
            prev = set(prev_man["files"])
            cur = set(man["files"])
            added = sorted(cur - prev)
            removed = sorted(prev - cur)
            # DELETION-VECTOR deltas on files carried across the commit:
            # a dv-only delete changes ROWS without changing the file
            # list, so the file-level diff alone would miss it. Rows
            # whose positions entered the dv are deletes; positions that
            # LEFT the dv (a rollback restoring pre-delete state) are
            # inserts. Only carried files count — added/removed files
            # are handled by the file-level sides with their own
            # snapshot's dv applied.
            dv_prev = prev_man.get("dv", {})
            dv_cur = man.get("dv", {})
            carried = cur & prev
            dv_dels = {
                f: sorted(set(dv_cur.get(f, [])) - set(dv_prev.get(f, [])))
                for f in carried
            }
            dv_dels = {f: ps for f, ps in dv_dels.items() if ps}
            dv_ins = {
                f: sorted(set(dv_prev.get(f, [])) - set(dv_cur.get(f, [])))
                for f in carried
            }
            dv_ins = {f: ps for f, ps in dv_ins.items() if ps}
            this_prev_man = prev_man
            prev_man = man
            if not added and not removed and not dv_dels and not dv_ins:
                continue
            a_df = r_df = None
            if added:
                # added files read AS OF v (v's dv applied)
                a_df = self._read_files(spark, man, added, merge_schema=True)
            if removed:
                # removed files read in their LAST LIVE state (v-1's dv)
                r_df = self._read_files(
                    spark, this_prev_man, removed, merge_schema=True
                )
            if dv_dels:
                dv_del_rows = self._rows_at_positions(spark, dv_dels, man)
                r_df = (
                    dv_del_rows
                    if r_df is None
                    else r_df.unionByName(dv_del_rows, allowMissingColumns=True)
                )
            if dv_ins:
                dv_ins_rows = self._rows_at_positions(spark, dv_ins, man)
                a_df = (
                    dv_ins_rows
                    if a_df is None
                    else a_df.unionByName(dv_ins_rows, allowMissingColumns=True)
                )
            if a_df is not None and r_df is not None:
                # Additive schema evolution can leave the two sides with
                # different column sets inside ONE commit (a rewrite
                # mixing pre- and post-evolution files): align both to
                # the union, null-filling missing columns with the type
                # the OTHER side declares, exactly like a mergeSchema
                # read — exceptAll requires identical schemas.
                from ecommerce_dataengineering_project_spark.operators.cdc import (
                    align_to_union,
                )

                all_cols = list(dict.fromkeys(a_df.columns + r_df.columns))
                a_df, r_df = (
                    align_to_union(a_df, all_cols, r_df),
                    align_to_union(r_df, all_cols, a_df),
                )
                ins = a_df.exceptAll(r_df)
                del_ = r_df.exceptAll(a_df)
            elif a_df is not None:
                ins, del_ = a_df, None
            else:
                ins, del_ = None, r_df
            for df, kind in ((ins, "insert"), (del_, "delete")):
                if df is None:
                    continue
                tagged = df.withColumns(
                    {
                        "_change_type": F.lit(kind),
                        "_commit_version": F.lit(v).cast("int"),
                    }
                )
                out = tagged if out is None else out.unionByName(
                    tagged, allowMissingColumns=True
                )
        if out is None:
            return _empty_feed()
        return out

    def candidate_files(
        self,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> tuple[list[str], int]:
        """Manifest-stats file pruning for ``lo <= col <= hi`` (either
        bound may be None): a file is skipped iff its [min, max] proves
        no row can match. Files without stats for ``col`` (old
        manifests, non-scalar columns) are conservatively kept.
        Returns (surviving relative paths, total files in snapshot)."""
        return self.candidate_files_multi([(col, lo, hi)], version)

    def candidate_files_multi(
        self,
        preds: list[tuple],
        version: int | None = None,
    ) -> tuple[list[str], int]:
        """Conjunctive pruning: ``preds`` is a list of (col, lo, hi)
        ranges ANDed together — a file is skipped iff ANY predicate is
        provably unsatisfiable under its stats. This is the scan shape
        Z-order layouts exist for: after OPTIMIZE ZORDER each file's
        bounding box is tight in EVERY clustered dimension, so a
        multi-dimension point/range query prunes multiplicatively
        where a single-sort layout prunes on one column only. Columns
        without stats are conservatively non-pruning, as in
        ``candidate_files``."""
        _, man = self._snapshot(version)
        stats = man.get("stats", {})
        keep = []
        # datetime/date bounds compare against the manifest's naive-UTC
        # ISO-8601 stat strings (lexicographic == chronological);
        # stats are keyed by PHYSICAL column name (harvested from file
        # footers), so logical predicate columns translate first
        preds = [
            (self._phys_name(man, col), _norm_time_bound(lo), _norm_time_bound(hi))
            for col, lo, hi in preds
        ]
        for f in man["files"]:
            fs = stats.get(f, {})
            dead = False
            for col, lo, hi in preds:
                s = fs.get(col)
                if s is None:
                    continue
                mn, mx = s
                try:
                    if (lo is not None and mx < lo) or (hi is not None and mn > hi):
                        dead = True
                        break
                except TypeError:
                    continue  # incomparable bound/stat types: keep (sound)
            if not dead:
                keep.append(f)
        return keep, len(man["files"])

    def candidate_files_point(
        self,
        col: str,
        value,
        version: int | None = None,
    ) -> tuple[list[str], int]:
        """Point-lookup file pruning for ``col = value``: the range
        check first (free), then the per-file Bloom filter — evaluated
        DRIVER-SIDE from the log alone via the pure-Python xxh64 twin
        of Spark's ``xxhash64`` (functions/xxh64.py, equivalence pinned
        by test). No false negatives: a file is skipped only when its
        range provably excludes the value or ALL k bloom bits are
        clear, so the pruned scan equals the full filter exactly.
        Files without a bloom for ``col`` (older commits, un-indexed
        columns) are conservatively kept past the range check."""
        from ecommerce_dataengineering_project_spark.functions.xxh64 import (
            xxhash64_chain,
        )

        if value is None:
            raise ValueError("bloom point lookup: value must be non-null")
        _, man = self._snapshot(version)
        col = self._phys_name(man, col)  # stats/blooms keyed physical
        stats, blooms = man.get("stats", {}), man.get("bloom", {})
        # range check against the (possibly ISO-stringified) stats;
        # bloom probe with the value Spark hashed at build time (a DATE
        # column's xxhash64 runs over its int32 days-since-epoch)
        range_val = _norm_time_bound(value)
        probe_val = value
        if isinstance(value, _dt.date) and not isinstance(value, _dt.datetime):
            probe_val = (value - _dt.date(1970, 1, 1)).days
        keep = []
        for f in man["files"]:
            s = stats.get(f, {}).get(col)
            if s is not None:
                try:
                    if range_val < s[0] or range_val > s[1]:
                        continue
                except TypeError:
                    pass  # incomparable types: fall through (sound)
            b = blooms.get(f, {}).get(col)
            if b is not None:
                m_mask, words = b["m"] - 1, b["words"]
                hit = True
                for i in range(1, b["k"] + 1):
                    p = xxhash64_chain(probe_val, b["type"], i) & m_mask
                    if not (words[p >> 6] >> (p & 63)) & 1:
                        hit = False
                        break
                if not hit:
                    continue
            keep.append(f)
        return keep, len(man["files"])

    def scan_point(
        self,
        spark: SparkSession,
        col: str,
        value,
        version: int | None = None,
    ) -> DataFrame:
        """Bloom-pruned point read: file list from
        ``candidate_files_point`` (log-only planning), then the real
        equality predicate for exactness — the bloom's false positives
        die here, its guaranteed absence of false negatives makes the
        result equal the plain filtered scan."""
        from pyspark.sql import functions as F

        keep, _total = self.candidate_files_point(col, value, version)
        if not keep:
            return self.read(spark, version).limit(0)
        _, man = self._snapshot(version)
        df = self._read_files(spark, man, keep)
        return df.where(F.col(col) == F.lit(value))

    def scan(
        self,
        spark: SparkSession,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned snapshot scan: resolve the file list through
        ``candidate_files`` (log-level skipping — the engine never even
        LISTS pruned files, the skipping Delta/Iceberg readers get from
        their manifests), then apply the real predicate for exactness
        — stats pruning is an optimization, never a semantics change.
        At 100 TB this is the difference between planning over every
        file in the lake and planning over the handful a point/range
        query touches."""
        return self.scan_multi(spark, [(col, lo, hi)], version)

    def scan_multi(
        self,
        spark: SparkSession,
        preds: list[tuple],
        version: int | None = None,
    ) -> DataFrame:
        """Stats-pruned scan under a CONJUNCTION of ranges: file list
        from ``candidate_files_multi``, then every real predicate
        applied for exactness — pruning is an optimization, never a
        semantics change. Paired with OPTIMIZE ZORDER this is the
        100 TB point-query loop: the log plans over the handful of
        files whose bounding box intersects the query box."""
        from pyspark.sql import functions as F

        keep, _total = self.candidate_files_multi(preds, version)
        if not keep:
            # provably-empty result: schema from one snapshot file,
            # zero rows, no scan
            return self.read(spark, version).limit(0)
        _, man = self._snapshot(version)
        df = self._read_files(spark, man, keep)
        for col, lo, hi in preds:
            if lo is not None:
                df = df.where(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.where(F.col(col) <= F.lit(hi))
        return df


def convert_to_txlog(path: str, spark: SparkSession | None = None) -> TxTable:
    """``CONVERT TO DELTA`` twin (the adoption direction of the
    reference's delta_to_iceberg.py format-conversion job): adopt an
    existing directory of parquet part files into a transaction log IN
    PLACE — ZERO data copy. The v1 manifest lists the existing files
    with per-file [min, max] stats harvested from their footers, so
    stats-based file pruning works on the very first scan, and every
    log feature (time travel, CAS commits, CHECK constraints, CDF from
    v1 onward, MERGE / DELETE WHERE / OPTIMIZE) applies immediately.
    ``spark`` (optional) records the table schema for writer-side
    enforcement; without it the schema is unrecorded and validates
    nothing (old-manifest semantics).

    Adopted files live OUTSIDE the log's ``data/`` staging area, so
    VACUUM never reclaims them even once rewrites dereference them —
    the price of zero-copy adoption (delete them out-of-band once no
    kept version references them)."""
    if os.path.isdir(os.path.join(path, _LOG_DIR)):
        raise FileExistsError(f"{path} is already a txlog table")
    files = []
    for dirpath, dirnames, filenames in os.walk(path):
        if dirpath == path:
            # reserve only the log's OWN top-level dirs; a pre-existing
            # nested dir that happens to be named 'data' is user data
            # and must be adopted, not silently dropped
            dirnames[:] = [d for d in dirnames if d not in (_LOG_DIR, "data")]
        for f in filenames:
            if f.endswith(".parquet"):
                files.append(
                    os.path.relpath(os.path.join(dirpath, f), path)
                )
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    files = sorted(files)
    stats = {f: _file_minmax(os.path.join(path, f)) for f in files}
    schema = []
    if spark is not None:
        df = spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(path, f) for f in files]
        )
        schema = TxTable._df_schema(df)
    table = TxTable(path)
    table._publish(1, files, "convert", stats, schema=schema)
    return table


def recreate(root: str) -> TxTable:
    """Fresh table at ``root`` (drops any prior state) — test/staging
    helper so repeated query runs are idempotent."""
    if os.path.exists(root):
        shutil.rmtree(root)
    return TxTable(root)


def vacuum(
    table: TxTable, keep_versions: int = 1, min_age_s: float = 0.0
) -> list[str]:
    """Delta-style VACUUM: drop data files referenced ONLY by versions
    older than the newest ``keep_versions`` manifests, plus any orphan
    files no manifest references at all. Returns the deleted paths.

    Old manifests stay in the log (history is metadata-cheap); reading
    a vacuumed version raises on the missing files — exactly Delta's
    behavior after its retention window. Deletion order is safe under
    a concurrent reader of a *kept* version: kept files are never
    touched, and the manifest set is snapshotted before any unlink.

    Concurrent WRITERS need ``min_age_s``: commits stage their data
    files before the publish CAS, so an "orphan" may be an in-flight
    attempt about to publish — deleting it yields a committed snapshot
    with missing files. ``min_age_s`` is Delta's retention-window rule
    (its default is 7 days): unreferenced files younger than the
    threshold are left alone, so set it above the longest plausible
    commit duration. The 0.0 default is only safe when no writer can
    be in flight (tests, single-writer maintenance windows).
    """
    import time

    vs = table.versions()
    if not vs:
        return []
    kept = vs[-keep_versions:]
    keep_files = set()
    for v in kept:
        keep_files.update(table._manifest(v)["files"])
    deleted = []
    data_root = os.path.join(table.root, "data")
    if not os.path.isdir(data_root):
        return []
    now = time.time()
    for commit_dir in sorted(os.listdir(data_root)):
        cdir = os.path.join(data_root, commit_dir)
        for f in sorted(os.listdir(cdir)):
            rel = os.path.join("data", commit_dir, f)
            if f.endswith(".parquet") and rel not in keep_files:
                full = os.path.join(cdir, f)
                if min_age_s > 0:
                    try:
                        if now - os.path.getmtime(full) < min_age_s:
                            continue  # possibly an in-flight commit
                    except OSError:
                        continue  # vanished mid-scan: someone else owns it
                os.remove(full)
                deleted.append(rel)
        if not os.listdir(cdir):
            os.rmdir(cdir)
    return deleted


def expire_snapshots(table: TxTable, keep_versions: int = 1) -> list[int]:
    """Iceberg ``expire_snapshots`` / Delta log-retention twin: delete
    the MANIFESTS of all but the newest ``keep_versions`` versions,
    bounding the metadata history (a manifest is small, but a 100 TB
    table committing every minute accretes half a million of them a
    year, and every ``versions()`` listing walks the set). Time travel
    to an expired version raises cleanly afterwards; current reads,
    the retained history, and CDF windows inside it are untouched.

    Order of operations with VACUUM: expire manifests FIRST, then
    ``vacuum(keep_versions=...)`` — a data file referenced only by
    expired manifests becomes an orphan vacuum can reclaim. (Running
    vacuum first also works: it computes liveness from the kept
    manifest set, not the expired ones.) Returns the expired version
    numbers."""
    vs = table.versions()
    if keep_versions < 1:
        raise ValueError("expire_snapshots: keep_versions must be >= 1")
    expired = vs[:-keep_versions]
    for v in expired:
        os.remove(manifest_path(table.root, v))
    return expired


def history(table: TxTable) -> list[dict]:
    """Delta ``DESCRIBE HISTORY`` twin: one record per retained
    version — version, action, commit wall-clock (manifest mtime),
    file count, and the net files added/removed vs the previous
    retained version. Pure log metadata; no data files touched."""
    out: list[dict] = []
    prev: set[str] = set()
    first = True
    for v in table.versions():
        man = table._manifest(v)
        cur = set(man["files"])
        mtime = os.path.getmtime(manifest_path(table.root, v))
        out.append(
            {
                "version": v,
                "action": man.get("action"),
                "commit_time": mtime,
                "num_files": len(cur),
                "files_added": len(cur if first else cur - prev),
                "files_removed": 0 if first else len(prev - cur),
            }
        )
        prev, first = cur, False
    return out


def detail(table: TxTable) -> dict:
    """Delta ``DESCRIBE DETAIL`` twin for the current snapshot: file
    count, total bytes, schema, and the active feature metadata
    (constraints, bloom-indexed columns, txn watermarks)."""
    v, man = table._latest()
    size = 0
    for f in man["files"]:
        try:
            size += os.path.getsize(os.path.join(table.root, f))
        except OSError:
            pass  # vacuumed/expired out-of-band: size is best-effort
    bloom_cols = sorted(
        {c for per_file in man.get("bloom", {}).values() for c in per_file}
    )
    return {
        "version": v,
        "num_files": len(man["files"]),
        "size_bytes": size,
        "schema": man.get("schema") or [],
        "constraints": man.get("constraints", {}),
        "bloom_index_columns": bloom_cols,
        "txn_watermarks": man.get("txn", {}),
        "num_retained_versions": len(table.versions()),
        # deletion-vector debt: how many rows reads filter positionally
        # and how many files carry a DV — the compaction (PURGE) signal
        "num_dv_rows": sum(len(ps) for ps in man.get("dv", {}).values()),
        "num_dv_files": sum(1 for ps in man.get("dv", {}).values() if ps),
        # column-mapping debt: logical renames reads must remap and
        # dropped physical columns reads must hide — like the DV debt,
        # compact() purges both
        "num_renamed_columns": len(man.get("colmap", {})),
        "num_dropped_columns": len(man.get("dropped", [])),
    }


MANIFEST_DIR = "_symlink_format_manifest"


def generate_symlink_manifest(table: TxTable, version: int | None = None) -> str:
    """Delta ``GENERATE symlink_format_manifest`` twin: write a plain
    text file listing the ABSOLUTE data-file paths of a snapshot under
    ``_symlink_format_manifest/manifest``. This is exactly how the
    reference exposes its Delta lake to Athena/Presto (the
    Delta->Athena leg of delta_to_iceberg.py / the athena/ DDL): an
    engine with no transaction-log reader consumes the manifest as the
    table's file list and never sees uncommitted, vacuumed-pending, or
    time-traveled files. Publication is atomic (tmp + rename), so a
    concurrent external reader sees the old or the new snapshot, never
    a torn list. Regenerate after each commit you want visible —
    Delta's contract too (or its auto-manifest table property).

    Returns the manifest path. tests/test_manifest_compact.py proves
    the point by having DuckDB (playing Athena) query the table
    THROUGH the manifest with no knowledge of the log."""
    v, man = table._snapshot(version)
    # A symlink manifest is just a file list — an external engine
    # reading through it cannot apply deletion vectors, so it would see
    # DV-deleted rows (and stale pre-images after update_where_dv).
    # Delta refuses GENERATE on DV-enabled tables for the same reason.
    dv_rows = sum(len(ps) for ps in man.get("dv", {}).values())
    if dv_rows:
        raise ValueError(
            f"generate_symlink_manifest: snapshot v{v} carries deletion "
            f"vectors ({dv_rows} row(s)) that a manifest reader cannot "
            "apply — run compact() first to purge DVs (Delta refuses "
            "GENERATE on DV-enabled tables for the same reason)"
        )
    if man.get("colmap") or man.get("dropped"):
        raise ValueError(
            f"generate_symlink_manifest: snapshot v{v} carries a column "
            "mapping (rename/drop) a manifest reader cannot apply — it "
            "would see physical names and dropped columns; run "
            "compact() first to purge the mapping"
        )
    out_dir = os.path.join(table.root, MANIFEST_DIR)
    os.makedirs(out_dir, exist_ok=True)
    # unique per ATTEMPT (pid alone is not enough — two threads in one
    # process would truncate each other's tmp; same fix as _publish)
    tmp = os.path.join(
        out_dir, f".manifest.tmp.{os.getpid()}.{uuid.uuid4().hex[:8]}"
    )
    with open(tmp, "w", encoding="utf-8") as fh:
        for f in man["files"]:
            fh.write(os.path.abspath(os.path.join(table.root, f)) + "\n")
    final = os.path.join(out_dir, "manifest")
    os.replace(tmp, final)
    return final


def read_via_manifest(spark: SparkSession, root: str) -> DataFrame:
    """Read a table the way an external engine does: through the
    symlink manifest's file list, never the log."""
    path = os.path.join(root, MANIFEST_DIR, "manifest")
    with open(path, encoding="utf-8") as fh:
        files = [line.strip() for line in fh if line.strip()]
    if not files:
        raise FileNotFoundError(f"empty symlink manifest at {path}")
    return spark.read.parquet(*files)


def compact(table: TxTable, spark: SparkSession, target_files: int) -> int:
    """OPTIMIZE (bin-packing compaction, no clustering): rewrite the
    current snapshot into ``target_files`` files as a new commit —
    history intact, constraints carried, stats re-harvested. The
    small-file antidote for streaming-append tables (each micro-batch
    commit lands a few files; a day of minutes is thousands), which at
    100 TB otherwise turns every scan into an open/footer-read storm.
    Same concurrency contract as optimize_zorder: a commit racing the
    rewrite makes the version CAS raise, never silently drops rows."""
    v, man = table._latest()
    df = table.read(spark, merge_schema=True).coalesce(max(1, target_files))
    # man={}: write the LOGICAL names as the new physical schema — the
    # full rewrite upgrades every file, so compaction doubles as the
    # column-mapping purge too (rename/drop debt gone; see
    # rename_column) exactly as it purges DVs: read() applied them, so
    # the rewritten files are dv-free by construction (Delta's PURGE)
    files, stats = table._write_commit_data(df, v + 1, man={})
    return table._publish(
        v + 1,
        files,
        f"optimize-compact:{target_files}",
        stats,
        base=man,
        colmap={},
        dropped=[],
    )


def auto_compact(
    table: TxTable,
    spark: SparkSession,
    max_files: int = 16,
    target_files: int = 4,
) -> int | None:
    """Delta auto-compaction twin: compact only when the current
    snapshot's file count exceeds ``max_files``. Call it after commits
    (a writer-side post-commit hook); a no-op costs one manifest read.
    Returns the new version, or None when below the threshold."""
    if len(table._head()[1].get("files", [])) <= max_files:
        return None
    return compact(table, spark, target_files)
