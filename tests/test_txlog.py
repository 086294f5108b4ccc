"""Transaction-log semantics (sources/txlog.py): atomic publish,
snapshot isolation, append vs overwrite, rollback-as-roll-forward, and
invisibility of unreferenced (crashed) data."""

from __future__ import annotations

import json
import os

import pytest

from ecommerce_dataengineering_project_spark.sources.txlog import (
    ConcurrentCommitError,
    TxTable,
    recreate,
)
from ecommerce_dataengineering_project_spark.streaming.harness import TMP_ROOT


@pytest.fixture()
def table(tmp_path):
    return recreate(str(tmp_path / "t"))


def _df(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("id", "id * 2 AS v")


def test_append_accumulates_and_time_travels(spark, table):
    v1 = table.append(_df(spark, 0, 10))
    v2 = table.append(_df(spark, 10, 15))
    assert (v1, v2) == (1, 2)
    assert table.read(spark).count() == 15  # latest
    assert table.read(spark, version=1).count() == 10  # snapshot
    assert sorted(r.id for r in table.read(spark, version=1).collect()) == list(
        range(10)
    )


def test_overwrite_replaces_snapshot_history_survives(spark, table):
    table.append(_df(spark, 0, 10))
    table.overwrite(_df(spark, 100, 103))
    assert sorted(r.id for r in table.read(spark).collect()) == [100, 101, 102]
    # version 1 still reads the pre-overwrite rows
    assert table.read(spark, version=1).count() == 10


def test_rollback_rolls_forward(spark, table):
    table.append(_df(spark, 0, 10))
    table.append(_df(spark, 10, 20))
    v3 = table.rollback(1)
    assert v3 == 3
    assert table.read(spark).count() == 10
    # history untouched: v2 still shows 20 rows
    assert table.read(spark, version=2).count() == 20
    assert table._manifest(3)["action"] == "rollback:1"


def test_unreferenced_data_is_invisible(spark, table):
    """A crash after writing data but before the manifest publish
    leaves a data dir no reader can see; VACUUM collects it."""
    table.append(_df(spark, 0, 10))
    # simulate the crash: staged data for "version 2" lands, no manifest
    orphan = _df(spark, 900, 950)
    orphan.write.parquet(os.path.join(table.root, "data", "c2-deadattempt"))
    assert table.versions() == [1]
    assert table.read(spark).count() == 10
    # later commits are unaffected by the orphan (per-attempt staging
    # dirs never collide) and the orphan's rows never surface
    table.append(_df(spark, 10, 20))
    assert sorted(r.id for r in table.read(spark).collect()) == list(range(20))
    # VACUUM with full history retention still collects the orphan
    # (referenced by no manifest at all)
    from ecommerce_dataengineering_project_spark.sources.txlog import vacuum

    deleted = vacuum(table, keep_versions=len(table.versions()))
    assert all("c2-deadattempt" in p for p in deleted) and deleted
    assert sorted(r.id for r in table.read(spark).collect()) == list(range(20))


def test_publish_refuses_duplicate_version(spark, table):
    table.append(_df(spark, 0, 5))
    with pytest.raises(ConcurrentCommitError, match="another writer"):
        table._publish(1, [], "append")


def test_two_writers_cannot_both_win_a_version(spark, tmp_path):
    """Optimistic concurrency (VERDICT r5 item 8): two handles on the
    same root race for version 2 — the link CAS lets exactly one win;
    the loser raises, its staged rows stay invisible, and its retry
    lands as version 3 on the fresh snapshot."""
    root = str(tmp_path / "race")
    w1, w2 = TxTable(root), TxTable(root)
    assert w1.append(_df(spark, 0, 10)) == 1
    # both writers have read v1 and stage data for v2; w2's data lands
    # on disk but w1 publishes first
    loser_files, loser_stats = w2._write_commit_data(_df(spark, 500, 505), 2)
    assert w1.append(_df(spark, 10, 20)) == 2
    with pytest.raises(ConcurrentCommitError, match="version 2"):
        w2._publish(2, w2._manifest(1)["files"] + loser_files, "append", loser_stats)
    # the losing commit's rows never surface in any snapshot
    assert sorted(r.id for r in w2.read(spark).collect()) == list(range(20))
    # retry against the refreshed snapshot wins version 3 and keeps
    # BOTH winners' rows
    assert w2.append(_df(spark, 20, 25)) == 3
    assert sorted(r.id for r in w1.read(spark).collect()) == list(range(25))
    # the log never contains a torn or duplicate manifest
    assert w1.versions() == [1, 2, 3]


def test_no_partial_manifest_visible(spark, table):
    """Temp manifests (pre-rename) are never listed as versions."""
    table.append(_df(spark, 0, 5))
    tmp = os.path.join(table.root, "_txlog", ".v9.json.tmp")
    with open(tmp, "w") as fh:
        json.dump({"version": 9, "files": []}, fh)
    assert table.versions() == [1]


def test_recreate_is_idempotent(spark):
    root = os.path.join(TMP_ROOT, "txlog", "idempotent-test")
    t1 = recreate(root)
    t1.append(_df(spark, 0, 3))
    t2 = recreate(root)
    assert t2.versions() == []
    t2.append(_df(spark, 0, 4))
    assert t2.read(spark).count() == 4


def test_stream_txlog_append_one_version_per_batch(spark):
    """The streaming loop commits exactly one snapshot per non-empty
    micro-batch (3 staged event-time ranges -> 3 versions), and every
    intermediate snapshot is a prefix of the replay."""
    import os

    from ecommerce_dataengineering_project_spark.queries.streaming_queries import (
        q_stream_txlog_append,
    )
    from ecommerce_dataengineering_project_spark.streaming.harness import scratch_dir
    from ecommerce_dataengineering_project_spark.sources.txlog import TxTable

    sf_dir = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    final = q_stream_txlog_append(spark, sf_dir)
    root = os.path.join(scratch_dir("streams/stream_txlog_append", sf_dir), "table")
    table = TxTable(root)
    assert table.versions() == [1, 2, 3]
    counts = [table.read(spark, v).count() for v in table.versions()]
    assert counts == sorted(counts)  # monotone growth
    assert counts[-1] == final.count()


def test_vacuum_retention(spark, table):
    from ecommerce_dataengineering_project_spark.sources.txlog import vacuum

    table.append(_df(spark, 0, 10))
    table.overwrite(_df(spark, 100, 105))
    table.append(_df(spark, 200, 203))
    deleted = vacuum(table, keep_versions=2)
    # v1's files are referenced only by v1 -> gone; v2+v3 share c2
    assert deleted and all(d.startswith(os.path.join("data", "c1")) for d in deleted)
    assert table.read(spark, 2).count() == 5
    assert table.read(spark, 3).count() == 8
    with pytest.raises(Exception):
        table.read(spark, 1).count()


def test_vacuum_removes_crash_orphans(spark, table):
    from ecommerce_dataengineering_project_spark.sources.txlog import vacuum

    table.append(_df(spark, 0, 5))
    _df(spark, 900, 910).write.parquet(os.path.join(table.root, "data", "c9"))
    deleted = vacuum(table, keep_versions=1)
    assert all(d.startswith(os.path.join("data", "c9")) for d in deleted)
    assert table.read(spark).count() == 5


def test_schema_evolution_merge_read(spark, table):
    table.append(_df(spark, 0, 5))
    evolved = _df(spark, 5, 8).selectExpr("id", "v", "id * 10 AS extra")
    table.append(evolved)
    merged = table.read(spark, merge_schema=True)
    assert set(merged.columns) == {"id", "v", "extra"}
    rows = {r.id: r.extra for r in merged.collect()}
    assert rows[0] is None and rows[7] == 70


def test_append_txn_skips_replayed_batch(spark, table):
    """Delta SetTransaction semantics: foreachBatch is at-least-once,
    so a retried micro-batch re-runs its commit — append_txn must
    no-op the replay instead of double-appending."""
    v1 = table.append_txn(_df(spark, 0, 10), "appA", 0)
    assert v1 == 1
    # retry of batch 0: skipped, version unchanged, rows not duplicated
    assert table.append_txn(_df(spark, 0, 10), "appA", 0) == 1
    assert table.read(spark).count() == 10
    # next batch commits normally
    assert table.append_txn(_df(spark, 10, 15), "appA", 1) == 2
    assert table.read(spark).count() == 15
    # a DIFFERENT app's batch 0 is not confused with appA's
    assert table.append_txn(_df(spark, 100, 102), "appB", 0) == 3
    assert table.read(spark).count() == 17
    # stale replay of an OLD batch after newer commits: still skipped
    assert table.append_txn(_df(spark, 0, 10), "appA", 0) == 3
    assert table.read(spark).count() == 17


def test_txn_watermark_survives_rollback(spark, table):
    """Rollback restores the old snapshot's FILES but must keep the
    CURRENT idempotency watermark — otherwise a post-rollback replay of
    an already-committed batch would double-append."""
    table.append_txn(_df(spark, 0, 10), "app", 0)
    table.append_txn(_df(spark, 10, 20), "app", 1)
    table.rollback(1)
    assert table.read(spark).count() == 10
    # replay of batch 1 after the rollback: still recognized
    v = table.append_txn(_df(spark, 10, 20), "app", 1)
    assert table.read(spark).count() == 10
    assert v == 3


def test_stats_poisoned_by_undecodable_group(tmp_path):
    """Soundness (ADVICE r6): a row group whose stats can't be folded
    (here: binary min/max that isn't UTF-8) must drop the COLUMN from
    the file's manifest stats — folding only the good groups would
    under-cover the file and let candidate_files prune matching rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ecommerce_dataengineering_project_spark.sources.txlog import _file_minmax

    t1 = pa.table(
        {"k": pa.array([1, 2], pa.int64()),
         "b": pa.array([b"aa", b"bb"], pa.binary())}
    )
    t2 = pa.table(
        {"k": pa.array([3, 4], pa.int64()),
         "b": pa.array([b"\xff\xfe", b"zz"], pa.binary())}
    )
    p = str(tmp_path / "mixed.parquet")
    with pq.ParquetWriter(p, t1.schema) as w:
        w.write_table(t1)  # row group 1: decodable stats
        w.write_table(t2)  # row group 2: max is invalid UTF-8
    st = _file_minmax(p)
    assert st.get("k") == [1, 4]
    assert "b" not in st  # whole column omitted, not under-covered


def test_stats_tolerate_all_null_groups(tmp_path):
    """A provably all-null row group (null_count == num_rows) carries
    no range but must NOT poison the column — the other groups' range
    still covers every non-null value in the file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ecommerce_dataengineering_project_spark.sources.txlog import _file_minmax

    schema = pa.schema([("k", pa.int64())])
    t_null = pa.table({"k": pa.array([None, None], pa.int64())})
    t_vals = pa.table({"k": pa.array([5, 7], pa.int64())})
    p = str(tmp_path / "nulls.parquet")
    with pq.ParquetWriter(p, schema) as w:
        w.write_table(t_null)
        w.write_table(t_vals)
    assert _file_minmax(p).get("k") == [5, 7]


def test_stats_disabled_file_emits_nothing(tmp_path):
    """No footer stats at all -> no manifest stats -> the reader keeps
    the file conservatively (candidate_files treats missing columns as
    unprunable)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ecommerce_dataengineering_project_spark.sources.txlog import _file_minmax

    t = pa.table({"k": pa.array([1, 2, 3], pa.int64())})
    p = str(tmp_path / "nostats.parquet")
    pq.write_table(t, p, write_statistics=False)
    assert _file_minmax(p) == {}


def test_vacuum_min_age_protects_inflight_staging(spark, table):
    """An unreferenced data dir may be an in-flight commit that has
    staged its files but not yet won the publish CAS; with min_age_s
    set, vacuum leaves young orphans alone (Delta's retention-window
    rule) instead of deleting files a manifest is about to reference."""
    from ecommerce_dataengineering_project_spark.sources.txlog import vacuum

    table.append(_df(spark, 0, 5))
    staged = os.path.join(table.root, "data", "c2-inflight")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-0.parquet"), "wb") as fh:
        fh.write(b"staged")
    assert vacuum(table, min_age_s=3600.0) == []
    assert os.path.exists(os.path.join(staged, "part-0.parquet"))
    deleted = vacuum(table)  # age gate off: collected as an orphan
    assert deleted == [os.path.join("data", "c2-inflight", "part-0.parquet")]


def test_optimize_zorder_detects_concurrent_append(spark, table):
    """OPTIMIZE reads the snapshot, rewrites it, and publishes via the
    version CAS. If an append lands between its read and its publish,
    the CAS must fail (ConcurrentCommitError) — silently winning would
    drop the concurrent append's rows from the new snapshot. The
    caller's recovery is Delta's: re-read and re-run the OPTIMIZE."""
    from ecommerce_dataengineering_project_spark.operators.zorder import optimize_zorder
    from ecommerce_dataengineering_project_spark.sources.txlog import ConcurrentCommitError

    table.append(
        _df(spark, 0, 1000).selectExpr("id", "v", "id % 7 AS y")
    )
    orig = table._write_commit_data
    fired = {}

    def hijack(df, version, man=None):
        if not fired:
            fired["x"] = True  # concurrent writer wins the version first
            TxTable(table.root).append(
                _df(spark, 5000, 5010).selectExpr("id", "v", "id % 7 AS y")
            )
        return orig(df, version, man)

    table._write_commit_data = hijack
    try:
        with pytest.raises(ConcurrentCommitError):
            optimize_zorder(table, spark, "id", "y", n_files=4, bits=8)
    finally:
        table._write_commit_data = orig
    # nothing lost: the concurrent append's rows are in the snapshot
    assert table.read(spark).count() == 1010
    # and a clean re-run of OPTIMIZE (Delta's retry) now succeeds
    v = optimize_zorder(table, spark, "id", "y", n_files=4, bits=8)
    assert table.read(spark, v).count() == 1010


def test_merge_applies_iud_and_scopes_files(spark, tmp_path):
    """MERGE INTO semantics on the versioned table: matched-update,
    matched-delete, not-matched-insert — and the rewrite touches ONLY
    the files whose key range can hold a changed key (Delta's scoped
    rewrite via the manifest stats), carrying every other file into
    the new manifest verbatim."""
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    t = recreate(str(tmp_path / "t"))
    # two range commits: keys 0..99 and 1000..1099
    t.append(spark.range(0, 100).selectExpr("id AS k", "id * 2 AS v"))
    t.append(spark.range(1000, 1100).selectExpr("id AS k", "id * 2 AS v"))
    man_before = t._manifest(2)
    low_files = [f for f in man_before["files"] if f.startswith("data/c1")]
    changes = spark.createDataFrame(
        [
            (5, 1, "U", 5, 999),      # update k=5
            (7, 1, "D", 7, 0),        # delete k=7
            (200, 1, "I", 200, 400),  # insert new key
        ],
        "ck long, seq long, op string, k long, v long",
    ).select("k", "v", "seq", "op")
    ver = t.merge(spark, changes, ["k"])
    got = {r.k: r.v for r in t.read(spark).collect()}
    assert got[5] == 999 and 7 not in got and got[200] == 400
    assert got[1050] == 2100  # untouched range intact
    assert len(got) == 200 - 1 + 1  # 200 base rows - 1 delete + 1 insert
    # scoping: the high-range commit's files carried over verbatim
    man_after = t._manifest(ver)
    high_files = [f for f in man_before["files"] if f.startswith("data/c2")]
    assert set(high_files) <= set(man_after["files"])
    assert not (set(low_files) & set(man_after["files"]))
    # their stats carried too (still prunable without re-harvest)
    for f in high_files:
        assert man_after["stats"][f] == man_before["stats"][f]
    # history: pre-merge snapshot still time-travels
    assert t.read(spark, 2).count() == 200
    # empty feed is a no-op version-wise
    assert t.merge(spark, changes.limit(0), ["k"]) == ver


def test_schema_enforcement_merge_and_strict(spark, table):
    """Writer-side schema checks (Delta metaData semantics): merge mode
    allows additive columns but never a type change; strict mode pins
    the exact column set; overwrite redefines the schema."""
    from ecommerce_dataengineering_project_spark.sources.txlog import SchemaMismatchError

    table.append(_df(spark, 0, 5))  # (k bigint-ish id, v)
    # additive evolution: allowed under the default merge mode
    table.append(_df(spark, 5, 8).selectExpr("id", "v", "id * 10 AS extra"))
    assert [c for c, _ in table._manifest(2)["schema"]] == ["id", "v", "extra"]
    # type change on an existing column: rejected in EVERY mode
    with pytest.raises(SchemaMismatchError, match="type changes"):
        table.append(_df(spark, 8, 9).selectExpr("CAST(id AS STRING) AS id", "v"))
    # strict: adding a column is rejected too
    with pytest.raises(SchemaMismatchError, match="strict"):
        table.append(
            _df(spark, 8, 9).selectExpr("id", "v", "id AS another"),
            schema_mode="strict",
        )
    # strict with the exact recorded column set: fine (order-insensitive)
    table.append(
        _df(spark, 8, 9).selectExpr("id * 10 AS extra", "id", "v"),
        schema_mode="strict",
    )
    # overwrite redefines: subsequent merge-mode append validates
    # against the NEW schema
    table.overwrite(spark.range(3).selectExpr("id AS only_col"))
    with pytest.raises(SchemaMismatchError, match="type changes"):
        table.append(spark.range(3).selectExpr("CAST(id AS DOUBLE) AS only_col"))
    # rejected writes never published a version or leaked files into
    # the manifest
    assert len(table.versions()) == 4


def test_merge_preserves_evolved_columns(spark, table):
    """Review regression (r7): merge reads touched files WITH
    mergeSchema — under additive evolution a single-footer schema
    could silently drop the evolved column from the rewritten files
    while the manifest still recorded it."""
    table.append(_df(spark, 0, 50))
    table.append(_df(spark, 50, 100).selectExpr("id", "v", "id * 10 AS extra"))
    changes = spark.createDataFrame(
        [(10, 111, None, 1, "U"), (60, 222, 600, 1, "U")],
        "id long, v long, extra long, seq long, op string",
    )
    table.merge(spark, changes, ["id"])
    got = {r.id: r for r in table.read(spark, merge_schema=True).collect()}
    assert got[10].v == 111 and got[60].v == 222 and got[60].extra == 600
    # pre-existing evolved values in touched files survived the rewrite
    assert got[99].extra == 990
    assert got[0].extra is None  # never had one


def test_optimize_zorder_preserves_evolved_columns(spark, table):
    """Same soundness bar for the layout rewrite: after additive
    evolution OPTIMIZE must carry every recorded column's DATA, not
    just its manifest entry."""
    from ecommerce_dataengineering_project_spark.operators.zorder import optimize_zorder

    table.append(_df(spark, 0, 2000).selectExpr("id", "v"))
    table.append(
        _df(spark, 2000, 4000).selectExpr("id", "v", "id % 97 AS extra")
    )
    optimize_zorder(table, spark, "id", "v", n_files=4, bits=10)
    got = table.read(spark, merge_schema=True)
    assert got.count() == 4000
    assert got.where("extra IS NOT NULL").count() == 2000
    assert [c for c, _ in table._manifest(3)["schema"]] == ["id", "v", "extra"]


def test_change_data_feed_row_level(spark, tmp_path):
    """read_changes (Delta CDF twin): appends surface as pure inserts,
    a file-scoped merge surfaces ONLY its net row changes (update =
    pre-image delete + post-image insert; carried-through rows cancel),
    and from_version scopes the window."""
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    t = recreate(str(tmp_path / "cdf"))
    t.append(spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v"))     # v1
    t.append(spark.range(10, 20).selectExpr("id AS k", "id * 2 AS v"))    # v2
    changes = spark.createDataFrame(
        [(3, 999, 1, "U"), (7, 0, 1, "D"), (50, 100, 1, "I")],
        "k long, v long, seq long, op string",
    )
    t.merge(spark, changes, ["k"])                                        # v3
    feed = t.read_changes(spark, from_version=0)
    rows = {(r.k, r.v, r._change_type, r._commit_version) for r in feed.collect()}
    # v1, v2: pure inserts
    assert all((k, 2 * k, "insert", 1) in rows for k in range(10))
    assert all((k, 2 * k, "insert", 2) in rows for k in range(10, 20))
    # v3: net changes only — update pair, delete, insert; nothing else
    v3 = {r for r in rows if r[3] == 3}
    assert v3 == {
        (3, 6, "delete", 3),
        (3, 999, "insert", 3),
        (7, 14, "delete", 3),
        (50, 100, "insert", 3),
    }
    # window scoping: consumers resuming after v2 see only the merge
    later = {
        (r.k, r.v, r._change_type, r._commit_version)
        for r in t.read_changes(spark, from_version=2).collect()
    }
    assert later == v3
    # caught-up consumer: empty feed, not an error (Delta CDF shape)
    assert t.read_changes(spark, from_version=3).count() == 0


def test_change_data_feed_rollback_surfaces_restores(spark, tmp_path):
    """Roll-forward rollback re-adds the old snapshot's files; the CDF
    reports the restored rows as inserts and the rolled-back commit's
    rows as deletes — the net view an incremental consumer must apply."""
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    t = recreate(str(tmp_path / "cdfrb"))
    t.append(spark.range(0, 5).selectExpr("id AS k"))      # v1
    t.append(spark.range(5, 8).selectExpr("id AS k"))      # v2
    t.rollback(1)                                          # v3 = v1 snapshot
    feed = {
        (r.k, r._change_type, r._commit_version)
        for r in t.read_changes(spark, from_version=2).collect()
    }
    assert feed == {(k, "delete", 3) for k in range(5, 8)}


def test_check_constraints_enforced_on_every_writer_path(spark, tmp_path):
    """Delta CHECK-constraint twin: add validates existing data, every
    writer path rejects violating rows BEFORE publish (NULL counts as a
    violation), and the constraint set carries through append/txn/
    merge/rollback/OPTIMIZE so no path silently drops enforcement."""
    import pytest as _pytest

    from ecommerce_dataengineering_project_spark.operators.zorder import optimize_zorder
    from ecommerce_dataengineering_project_spark.sources.txlog import (
        ConstraintViolationError,
        recreate,
    )

    t = recreate(str(tmp_path / "cons"))
    t.append(spark.range(1, 10).selectExpr("id AS k", "id * 2 AS v"))
    t.add_constraint(spark, "v_positive", "v > 0")
    assert t.constraints() == {"v_positive": "v > 0"}
    # a constraint the existing data violates is rejected at add time
    with _pytest.raises(ConstraintViolationError, match="k_small"):
        t.add_constraint(spark, "k_small", "k < 5")
    # append: bad rows rejected, nothing published
    v_before = t.versions()[-1]
    with _pytest.raises(ConstraintViolationError, match="v_positive"):
        t.append(spark.range(1).selectExpr("-1L AS k", "-2L AS v"))
    assert t.versions()[-1] == v_before
    # NULL result is a violation (Delta semantics)
    with _pytest.raises(ConstraintViolationError, match="v_positive"):
        t.append(spark.sql("SELECT 99L AS k, CAST(NULL AS LONG) AS v"))
    # good rows pass, and the set carries
    t.append(spark.range(10, 12).selectExpr("id AS k", "id AS v"))
    assert t.constraints() == {"v_positive": "v > 0"}
    # append_txn enforces too
    with _pytest.raises(ConstraintViolationError):
        t.append_txn(
            spark.range(1).selectExpr("5L AS k", "-9L AS v"), "app", 1
        )
    # merge: a CDC feed whose post-image violates is rejected
    bad_feed = spark.createDataFrame(
        [(1, -7, 1, "U")], "k long, v long, seq long, op string"
    )
    with _pytest.raises(ConstraintViolationError):
        t.merge(spark, bad_feed, ["k"])
    ok_feed = spark.createDataFrame(
        [(1, 777, 1, "U")], "k long, v long, seq long, op string"
    )
    t.merge(spark, ok_feed, ["k"])
    assert t.constraints() == {"v_positive": "v > 0"}
    # OPTIMIZE carries the set (layout-only rewrite)
    optimize_zorder(t, spark, "k", "v", n_files=2)
    assert t.constraints() == {"v_positive": "v > 0"}
    # rollback keeps the CURRENT rule set active
    t.rollback(1)
    assert t.constraints() == {"v_positive": "v > 0"}
    # drop: enforcement ends
    t.drop_constraint("v_positive")
    assert t.constraints() == {}
    t.append(spark.range(1).selectExpr("50L AS k", "-1L AS v"))


def test_delete_where_is_file_scoped_and_null_safe(spark, tmp_path):
    """DELETE WHERE rewrites only stat-candidate files (others carry
    verbatim, stats and blooms intact), keeps NULL-predicate rows (SQL
    DELETE semantics), no-ops when stats prove nothing matches, and
    leaves history time-travelable."""
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    t = recreate(str(tmp_path / "del"))
    t.append(
        spark.range(0, 100).selectExpr(
            "CASE WHEN id = 50 THEN NULL ELSE id END AS k", "id AS v"
        ),
        bloom_cols=("v",),
    )
    t.append(spark.range(1000, 1100).selectExpr("id AS k", "id AS v"), bloom_cols=("v",))
    man2 = t._manifest(2)
    high_files = [f for f in man2["files"] if f.startswith("data/c2")]
    ver = t.delete_where(spark, "k", lo=10, hi=19)
    got = sorted(r.v for r in t.read(spark).collect())
    assert got == [v for v in range(100) if not (10 <= v <= 19)] + list(range(1000, 1100))
    # NULL k row (v=50) survived: predicate NULL is not TRUE
    assert 50 in got
    man = t._manifest(ver)
    # commit 2's files untouched: same paths, same stats, same blooms
    assert set(high_files) <= set(man["files"])
    for f in high_files:
        assert man["stats"][f] == man2["stats"][f]
        assert man["bloom"][f] == man2["bloom"][f]
    # stats prove nothing matches -> metadata no-op, version unchanged
    assert t.delete_where(spark, "k", lo=10**9, hi=2 * 10**9) == ver
    # history intact
    assert t.read(spark, 2).count() == 200


def test_append_or_quarantine_routes_rows(spark, tmp_path):
    """Expectations + dead-letter table: passing rows land in main,
    violating rows in quarantine tagged with EVERY failed constraint
    name (sorted), NULL results quarantine, and a fully-clean batch
    leaves the quarantine untouched."""
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    main = recreate(str(tmp_path / "m"))
    dlq = recreate(str(tmp_path / "q"))
    main.append(spark.range(0).selectExpr("id AS k", "id AS v"))
    main.add_constraint(spark, "k_pos", "k > 0")
    main.add_constraint(spark, "v_small", "v < 100")
    batch = spark.createDataFrame(
        [(1, 5), (-1, 5), (2, 500), (-2, 500), (3, None)],
        "k long, v long",
    )
    mv, qv = main.append_or_quarantine(batch, dlq)
    assert sorted((r.k, r.v) for r in main.read(spark).collect()) == [(1, 5)]
    got = {r.k: r._violations for r in dlq.read(spark).collect()}
    assert got == {
        -1: "k_pos",
        2: "v_small",
        -2: "k_pos,v_small",
        3: "v_small",  # NULL v -> violation, Delta NULL semantics
    }
    # clean batch: no quarantine commit
    q_before = dlq.versions()[-1]
    mv2, qv2 = main.append_or_quarantine(
        spark.createDataFrame([(9, 9)], "k long, v long"), dlq
    )
    assert qv2 is None and dlq.versions()[-1] == q_before


def test_convert_to_txlog_adopts_in_place(spark, tmp_path):
    """CONVERT TO DELTA twin: zero-copy adoption — existing part files
    become v1 with footer-harvested stats (pruning works on the first
    scan), subsequent appends/deletes work, and the original bytes are
    never rewritten."""
    import glob as _glob

    import pytest as _pytest

    from ecommerce_dataengineering_project_spark.sources.txlog import convert_to_txlog

    path = str(tmp_path / "plain")
    spark.range(0, 1000).selectExpr("id AS k", "id * 3 AS v").repartitionByRange(
        4, "k"
    ).write.parquet(path)
    before = {p: os.path.getmtime(p) for p in _glob.glob(os.path.join(path, "*.parquet"))}
    t = convert_to_txlog(path, spark)
    assert t.versions() == [1]
    assert t.read(spark).count() == 1000
    # footer stats were harvested: a narrow range prunes files
    keep, total = t.candidate_files("k", lo=None, hi=5)
    assert total == len(before) and 1 <= len(keep) < total
    got = sorted(r.k for r in t.scan(spark, "k", lo=None, hi=5).collect())
    assert got == list(range(6))
    # adopted bytes untouched
    assert {p: os.path.getmtime(p) for p in before} == before
    # the table is live: append + time travel
    t.append(spark.range(1000, 1100).selectExpr("id AS k", "id * 3 AS v"))
    assert t.read(spark).count() == 1100 and t.read(spark, 1).count() == 1000
    with _pytest.raises(FileExistsError):
        convert_to_txlog(path, spark)


def test_shallow_clone_is_zero_copy_fork(spark, tmp_path):
    """SHALLOW CLONE: instant zero-copy table referencing the source's
    files absolutely; writes/vacuum on the clone never touch the
    source; stats, blooms, and constraints carry."""
    from ecommerce_dataengineering_project_spark.sources.txlog import (
        ConstraintViolationError,
        recreate,
        vacuum,
    )
    import pytest as _pytest

    src = recreate(str(tmp_path / "src"))
    src.append(
        spark.range(0, 100).selectExpr("id AS k", "id AS v"), bloom_cols=("k",)
    )
    src.add_constraint(spark, "v_nonneg", "v >= 0")
    clone = src.shallow_clone(str(tmp_path / "fork"))
    assert clone.read(spark).count() == 100
    # metadata carried: constraint enforced on the clone immediately
    with _pytest.raises(ConstraintViolationError):
        clone.append(spark.range(1).selectExpr("1L AS k", "-5L AS v"))
    # bloom carried under the absolute refs: point pruning live
    keep, total = clone.candidate_files_point("k", 42)
    assert 1 <= len(keep) <= total
    # fork semantics: clone append invisible to source
    clone.append(spark.range(100, 110).selectExpr("id AS k", "id AS v"))
    assert clone.read(spark).count() == 110 and src.read(spark).count() == 100
    # clone-side merge rewrites into the CLONE's root; source intact
    feed = spark.createDataFrame([(5, 1, "D", 5, 0)], "ck long, seq long, op string, k long, v long").select("k", "v", "seq", "op")
    clone.merge(spark, feed, ["k"])
    assert clone.read(spark).count() == 109 and src.read(spark).count() == 100
    # clone vacuum never deletes source bytes (walks only its own data/)
    vacuum(clone, keep_versions=1)
    assert src.read(spark).count() == 100


def test_concurrent_appends_both_commit_via_rebase(spark, tmp_path):
    """Blind appends commute (Delta conflict resolution): two writers
    racing the same version must BOTH commit — the CAS loser rebases
    on the winner's manifest and republishes; no rows lost, no error."""
    import threading

    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    t = recreate(str(tmp_path / "race"))
    t.append(spark.range(0, 10).selectExpr("id AS k"))
    errs = []

    def w(lo, hi):
        try:
            t.append(spark.range(lo, hi).selectExpr("id AS k"))
        except Exception as e:  # pragma: no cover - failure detail
            errs.append(e)

    ts = [threading.Thread(target=w, args=(100 * i, 100 * i + 10)) for i in (1, 2, 3)]
    for th in ts:
        th.start()
    for th in ts:
        th.join()
    assert not errs
    got = sorted(r.k for r in t.read(spark).collect())
    assert got == sorted(
        list(range(10)) + list(range(100, 110)) + list(range(200, 210)) + list(range(300, 310))
    )
    assert t.versions() == [1, 2, 3, 4]


def test_cdf_replay_reconstructs_every_snapshot(spark, tmp_path):
    """The CDF soundness invariant: for EVERY version v, applying the
    change feed (0, v] — inserts minus deletes as multisets — equals
    the snapshot read at v, across a history mixing appends, a
    file-scoped merge, a predicate delete, and a rollback."""
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    t = recreate(str(tmp_path / "replay"))
    t.append(spark.range(0, 50).selectExpr("id AS k", "id % 7 AS v"))        # 1
    t.append(spark.range(50, 90).selectExpr("id AS k", "id % 7 AS v"))       # 2
    feed = spark.createDataFrame(
        [(5, 99, 1, "U"), (60, 0, 1, "D"), (200, 42, 1, "I")],
        "k long, v long, seq long, op string",
    )
    t.merge(spark, feed, ["k"])                                              # 3
    t.delete_where(spark, "k", lo=20, hi=29)                                 # 4
    t.rollback(2)                                                            # 5
    t.append(spark.range(500, 510).selectExpr("id AS k", "id % 7 AS v"))     # 6
    for v in t.versions():
        snap = sorted(map(tuple, t.read(spark, v).select("k", "v").collect()))
        changes = t.read_changes(spark, 0, to_version=v)
        ins = changes.where("_change_type = 'insert'").select("k", "v")
        dels = changes.where("_change_type = 'delete'").select("k", "v")
        replay = sorted(map(tuple, ins.exceptAll(dels).collect()))
        assert replay == snap, f"CDF replay diverges at v{v}"


def test_expire_snapshots_bounds_metadata_history(spark, tmp_path):
    """expire_snapshots deletes old manifests (time travel to them
    raises cleanly), keeps current reads intact, and makes the expired
    versions' exclusive files reclaimable by the next vacuum."""
    from ecommerce_dataengineering_project_spark.sources.txlog import (
        expire_snapshots,
        recreate,
        vacuum,
    )

    t = recreate(str(tmp_path / "exp"))
    t.append(_df(spark, 0, 10))
    t.overwrite(_df(spark, 100, 105))
    t.append(_df(spark, 200, 203))
    assert expire_snapshots(t, keep_versions=2) == [1]
    assert t.versions() == [2, 3]
    assert t.read(spark).count() == 8
    with pytest.raises(FileNotFoundError):
        t._manifest(1)
    # v1's files are now orphans: vacuum keeping the WHOLE remaining
    # history still reclaims them
    deleted = vacuum(t, keep_versions=2)
    assert deleted and all(d.startswith(os.path.join("data", "c1")) for d in deleted)
    assert t.read(spark).count() == 8 and t.read(spark, 2).count() == 5
    with pytest.raises(ValueError):
        expire_snapshots(t, keep_versions=0)


def test_timestamp_stats_prune_files(spark, tmp_path):
    """Timestamp columns get ISO-8601 manifest stats (lexicographic ==
    chronological), so the most common lakehouse predicate — an
    event-time range — prunes files from the log alone."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    t = recreate(str(tmp_path / "ts"))
    base = dt.datetime(2024, 1, 1)
    for d in range(4):  # one commit per day
        t.append(
            spark.range(0, 100).select(
                (F.lit(base) + F.expr(f"INTERVAL {d} DAY")
                 + F.col("id").cast("string").cast("interval second")).alias("ts"),
                F.col("id").alias("k"),
            )
        )
    man = t._manifest(t.versions()[-1])
    ts_stats = [s.get("ts") for s in man["stats"].values()]
    assert all(s is not None and isinstance(s[0], str) for s in ts_stats)
    lo = dt.datetime(2024, 1, 2)
    hi = dt.datetime(2024, 1, 2, 23, 59, 59)
    keep, total = t.candidate_files("ts", lo=lo, hi=hi)
    assert len(keep) < total  # day-2 files only survive
    got = t.scan(spark, "ts", lo=lo, hi=hi).count()
    want = (
        t.read(spark)
        .where((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
        .count()
    )
    assert got == want == 100


def test_history_and_detail_describe_the_log(spark, tmp_path):
    """DESCRIBE HISTORY / DESCRIBE DETAIL twins: metadata-only views of
    the retained log — actions, net file deltas, sizes, and the active
    feature set (constraints, bloom columns, txn watermarks)."""
    from ecommerce_dataengineering_project_spark.sources.txlog import (
        detail,
        history,
        recreate,
    )

    t = recreate(str(tmp_path / "h"))
    t.append(_df(spark, 0, 10), bloom_cols=("id",))
    t.add_constraint(spark, "v_pos", "v >= 0")
    t.append(_df(spark, 10, 20))
    feed = spark.createDataFrame(
        [(5, 1, "D", 5, 0)], "ck long, seq long, op string, id long, v long"
    ).select("id", "v", "seq", "op")
    t.merge(spark, feed, ["id"])
    h = history(t)
    assert [r["version"] for r in h] == [1, 2, 3, 4]
    assert h[0]["action"] == "append" and h[1]["action"] == "add-constraint:v_pos"
    assert h[1]["files_added"] == 0 and h[1]["files_removed"] == 0
    assert h[3]["action"].startswith("merge:") and h[3]["files_removed"] >= 1
    d = detail(t)
    assert d["version"] == 4 and d["num_files"] >= 1 and d["size_bytes"] > 0
    assert d["constraints"] == {"v_pos": "v >= 0"}
    assert d["bloom_index_columns"] == ["id"]
    assert d["num_retained_versions"] == 4


def test_cdf_handles_schema_evolution_within_a_merge(spark, tmp_path):
    """A merge rewriting pre-evolution files alongside post-evolution
    data leaves its added/removed sides with different column sets;
    read_changes must align them mergeSchema-style instead of failing,
    and old rows emit with the evolved column null."""
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    t = recreate(str(tmp_path / "cdfe"))
    t.append(spark.range(0, 10).selectExpr("id AS k", "id AS v"))
    t.append(
        spark.range(10, 15).selectExpr("id AS k", "id AS v", "id * 10 AS extra")
    )
    feed = spark.createDataFrame(
        [(3, 999, 7, 1, "U")], "k long, v long, extra long, seq long, op string"
    )
    t.merge(spark, feed, ["k"])
    rows = {
        (r.k, r._change_type, r._commit_version): (r.v, r.extra)
        for r in t.read_changes(spark, from_version=2).collect()
    }
    assert rows[(3, "delete", 3)] == (3, None)  # pre-evolution pre-image
    assert rows[(3, "insert", 3)] == (999, 7)   # evolved post-image


def test_timestamp_boundary_is_never_pruned(spark, tmp_path):
    """Review regression (r8): tz-aware footer stats once serialized
    with a '+00:00' suffix, which compared GREATER than an equal
    naive bound and pruned the file holding the boundary row. A scan
    whose inclusive upper bound equals a file's min must keep it."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    t = recreate(str(tmp_path / "tb"))
    t.append(
        spark.createDataFrame(
            [(dt.datetime(2024, 1, 1, 0, 0, 0), 1)], "ts timestamp, k long"
        ).coalesce(1)
    )
    t.append(
        spark.createDataFrame(
            [(dt.datetime(2024, 1, 2, 0, 0, 0), 2)], "ts timestamp, k long"
        ).coalesce(1)
    )
    hi = dt.datetime(2024, 1, 2)  # EQUALS file 2's min
    keep, total = t.candidate_files("ts", lo=None, hi=hi)
    assert len(keep) == total == 2, "boundary file wrongly pruned"
    got = sorted(r.k for r in t.scan(spark, "ts", lo=None, hi=hi).collect())
    assert got == [1, 2]
    # tz-AWARE caller bound normalizes to the same instant
    hi_aware = dt.datetime(2024, 1, 2, tzinfo=dt.timezone.utc)
    got2 = sorted(r.k for r in t.scan(spark, "ts", lo=None, hi=hi_aware).collect())
    assert got2 == [1, 2]


def test_date_bloom_point_lookup(spark, tmp_path):
    """Review regression (r8): a DATE point lookup raised TypeError
    (datetime.date vs ISO stat string) once dates gained string stats;
    the bloom probe must also hash the int32 days Spark hashed."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    t = recreate(str(tmp_path / "db"))
    t.append(
        spark.range(0, 60).select(
            F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
            F.col("id").alias("k"),
        ).coalesce(1),
        bloom_cols=("d",),
    )
    t.append(
        spark.range(60, 120).select(
            F.date_add(F.lit("2024-01-01").cast("date"), F.col("id").cast("int")).alias("d"),
            F.col("id").alias("k"),
        ).coalesce(1),
        bloom_cols=("d",),
    )
    target = dt.date(2024, 1, 11)  # k=10, lives in commit 1 only
    keep, total = t.candidate_files_point("d", target)
    assert total == 2 and len(keep) == 1
    got = [(r.d, r.k) for r in t.scan_point(spark, "d", target).collect()]
    assert got == [(target, 10)]


def test_convert_adopts_nested_data_dirs(spark, tmp_path):
    """Review regression (r8): convert_to_txlog pruned ANY dir named
    'data' tree-wide; only the log's own top-level staging dir is
    reserved — a pre-existing nested 'data' dir is user data."""
    from ecommerce_dataengineering_project_spark.sources.txlog import convert_to_txlog

    path = str(tmp_path / "adopt")
    spark.range(0, 50).selectExpr("id AS k").coalesce(1).write.parquet(
        os.path.join(path, "region=eu", "data")
    )
    spark.range(50, 80).selectExpr("id AS k").coalesce(1).write.parquet(
        os.path.join(path, "other")
    )
    t = convert_to_txlog(path, spark)
    assert sorted(r.k for r in t.read(spark).collect()) == list(range(80))


def test_read_changes_metadata_only_window_is_empty(spark, tmp_path):
    """Review regression (r8): a window holding only metadata commits
    (add/drop constraint) must yield ZERO change rows, not raise."""
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    t = recreate(str(tmp_path / "meta"))
    t.append(_df(spark, 0, 5))
    t.add_constraint(spark, "v_pos", "v >= 0")
    feed = t.read_changes(spark, from_version=1)
    assert feed.count() == 0
    assert "_change_type" in feed.columns and "_commit_version" in feed.columns
