"""Unified model-based sweep over the WHOLE transaction-log feature
set: seeded pseudo-random interleavings of every commit kind — append,
idempotent append, file-scoped delete, DV delete, DV update, CDC merge,
constraint add/drop, rename column, rollback, Z-order, compact —
checked against a pure-Python logical model after EVERY commit.

This is the insurance for the bug class the r7/r8 advisories found
twice (a data-coupled manifest field — blooms, then deletion vectors —
carried on most commit kinds but dropped on one): any commit kind that
forgets to forward stats/dv/colmap/constraints surfaces here as a
wrong row set or schema within a few interleavings, without anyone
having to enumerate the pair that breaks. Dropped pruning metadata
changes no row, so every new manifest's stats and blooms are checked
directly too (``_assert_metadata_carried``).
"""

from __future__ import annotations

import os
import random

from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.operators.zorder import optimize_zorder
from ecommerce_dataengineering_project_spark.sources.txlog import compact, recreate
from ecommerce_dataengineering_project_spark.streaming.harness import TMP_ROOT

COLS = ["id", "k", "v"]


def _to_df(spark, rows):
    return spark.createDataFrame(
        [(r["id"], r["k"], r["v"]) for r in rows],
        "id BIGINT, k BIGINT, v BIGINT",
    )


def _assert_metadata_carried(t, v):
    """Manifest ``v``'s file-keyed maps name only its files, every file
    has stats, and a file kept from ``v - 1`` keeps its exact stats and
    bloom entries."""
    man = t._manifest(v)
    files = set(man["files"])
    for key in ("stats", "bloom", "dv"):
        assert set(man[key]) <= files, (v, key, sorted(set(man[key]) - files))
    assert set(man["stats"]) == files, (v, "files without stats")
    if v == 1:
        return
    prev = t._manifest(v - 1)
    for f in files & set(prev["files"]):
        for key in ("stats", "bloom"):
            # compared outside the assert: pytest would otherwise diff
            # the bloom word lists when reporting a failure
            kept = man[key].get(f) == prev[key].get(f)
            assert kept, (v, man["action"], key, f)


def _mapping_epoch(t, v):
    """The last version <= ``v`` that changed the column mapping (0 if
    none): a change feed refuses to cross it, so replays start there."""

    def shape(x):
        m = t._manifest(x)
        return m.get("colmap", {}), sorted(m.get("dropped", []))

    vs = [x for x in t.versions() if x <= v]
    for prev, cur in zip(vs[-2::-1], vs[::-1]):
        if shape(prev) != shape(cur):
            return cur
    return 0


def test_random_commit_interleavings_match_a_logical_model(spark):
    for seed in (11, 59, 101):
        rng = random.Random(seed)
        t = recreate(os.path.join(TMP_ROOT, "txlog_model", f"s{seed}"))
        next_id = 0

        def fresh(n):
            nonlocal next_id
            rows = [
                {"id": next_id + i, "k": (next_id + i) % 7, "v": (next_id + i) * 10}
                for i in range(n)
            ]
            next_id += n
            return rows

        model = fresh(30)
        t.append(_to_df(spark, model), bloom_cols=("k",))
        _assert_metadata_carried(t, 1)
        history = {1: list(model)}
        txn_seq = 0

        ops = [
            "append", "append_txn", "delete_range", "dv_delete", "dv_update",
            "merge", "constraint", "rename", "rollback", "zorder", "compact",
        ]
        for step in range(12):
            op = rng.choice(ops)
            before = t.versions()[-1]
            try:
                if op == "append":
                    rows = fresh(rng.randint(1, 6))
                    # every other step indexes k, so bloom-carrying and
                    # bloom-less files mix in one snapshot
                    t.append(_to_df(spark, rows), bloom_cols=("k",) if step % 2 else ())
                    model = model + rows
                elif op == "append_txn":
                    txn_seq += 1
                    rows = fresh(rng.randint(1, 4))
                    t.append_txn(_to_df(spark, rows), "model-writer", txn_seq)
                    model = model + rows
                    # replaying the SAME txn version must be a no-op
                    t.append_txn(_to_df(spark, fresh(2)), "model-writer", txn_seq)
                elif op == "delete_range":
                    lo = rng.randrange(0, max(next_id, 1))
                    hi = lo + rng.randrange(0, 50)
                    t.delete_where(spark, "id", lo, hi)
                    model = [r for r in model if not (lo <= r["id"] <= hi)]
                elif op == "dv_delete":
                    m = rng.choice([3, 5, 11])
                    t.delete_where_dv(spark, f"id % {m} = 2")
                    model = [r for r in model if r["id"] % m != 2]
                elif op == "dv_update":
                    kk = rng.randrange(0, 7)
                    t.update_where_dv(spark, f"k = {kk}", {"v": "-7"})
                    model = [
                        {**r, "v": -7} if r["k"] == kk else r for r in model
                    ]
                elif op == "merge":
                    # upsert two ids (one existing when possible, one new),
                    # delete one existing
                    existing = [r["id"] for r in model]
                    up1 = rng.choice(existing) if existing else next_id
                    up2 = next_id
                    next_id += 1
                    dele = rng.choice(existing) if existing else -1
                    changes = [
                        (up1, up1 % 7, 111, 1, "U"),
                        (up2, up2 % 7, 222, 1, "I"),
                        (dele, 0, 0, 2, "D"),
                    ]
                    cdf = spark.createDataFrame(
                        changes,
                        "id BIGINT, k BIGINT, v BIGINT, seq INT, op STRING",
                    )
                    t.merge(spark, cdf, ["id"])
                    bykey = {r["id"]: r for r in model}
                    bykey[up1] = {"id": up1, "k": up1 % 7, "v": 111}
                    bykey[up2] = {"id": up2, "k": up2 % 7, "v": 222}
                    bykey.pop(dele, None)
                    model = list(bykey.values())
                elif op == "constraint":
                    # metadata-only round trip: data must be unchanged
                    name = f"c{step}"
                    t.add_constraint(spark, name, "id >= 0")
                    t.drop_constraint(name)
                elif op == "rename":
                    # metadata round trip: data must be unchanged. The
                    # compact between the renames makes v2 the physical
                    # name, so the rename back leaves colmap {v2: v} and
                    # later commits run over a non-empty mapping
                    t.rename_column("v", "v2")
                    compact(t, spark, target_files=2)
                    t.rename_column("v2", "v")
                elif op == "rollback":
                    target = rng.choice(sorted(history))
                    t.rollback(target)
                    model = list(history[target])
                elif op == "zorder":
                    optimize_zorder(t, spark, "id", "k", n_files=2, bits=8)
                elif op == "compact":
                    compact(t, spark, target_files=2)
            except ValueError:
                pass  # legitimate refusal: state must be unchanged
            v = t.versions()[-1]
            for committed in range(before + 1, v + 1):
                _assert_metadata_carried(t, committed)
            history[v] = list(model)
            got = sorted(
                (r.id, r.k, r.v) for r in t.read(spark, merge_schema=True).collect()
            )
            want = sorted((r["id"], r["k"], r["v"]) for r in model)
            assert got == want, (seed, step, op, len(got), len(want))
            # the change feed must reconstruct this snapshot every few
            # steps (replay invariant across ALL commit kinds): from v1,
            # or on top of the model at the last column-mapping change
            if step % 4 == 3:
                since = _mapping_epoch(t, v)
                feed = t.read_changes(spark, since, v)
                ins = feed.where(F.col("_change_type") == "insert")
                dels = feed.where(F.col("_change_type") == "delete")
                base = _to_df(spark, history[since] if since else [])
                replayed = sorted(
                    (r.id, r.k, r.v)
                    for r in base.unionByName(ins.select("id", "k", "v"))
                    .exceptAll(dels.select("id", "k", "v"))
                    .collect()
                )
                assert replayed == want, (seed, step, op, "cdf replay")
