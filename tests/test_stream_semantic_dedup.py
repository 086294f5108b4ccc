"""stream_semantic_dedup (VERDICT r13 item 4): the continuous-ingest
SemDeDup loop as a real foreachBatch stream. Two pins beyond the
registry oracle:

1. the streaming loop equals a SEQUENTIAL replay of the batch operator
   (index grows by each epoch's kept rows — the persisted-index
   contract of operators/dedup.py semantic_cell_index exercised by an
   actual micro-batch loop, not only batch fixtures);
2. every epoch's stored verdicts equal a recompute from the log
   AS-OF-ITS-START — the replay-idempotence property that makes
   foreachBatch's at-least-once delivery exactly-once here (a replayed
   batch filters out its own partial append via ingest_batch <
   batch_id, so it can never self-veto).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.operators.dedup import (
    semantic_cell_index,
    semantic_dedup_incremental,
)
from ecommerce_dataengineering_project_spark.queries.streaming_queries import (
    STREAM_SEM_BATCHES,
    q_stream_semantic_dedup,
)
from ecommerce_dataengineering_project_spark.sources.readers import load_table
from ecommerce_dataengineering_project_spark.streaming.harness import scratch_dir


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_stream_equals_sequential_batch_replay(spark, sf_dir):
    from ecommerce_dataengineering_project_spark.queries.ext_dedup import (
        COSINE_THRESHOLD,
        sem_centroids,
    )

    got = q_stream_semantic_dedup(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = sem_centroids(emb.where(F.col("vec_id") % 2 == 0))
    idx = semantic_cell_index(emb.where(F.col("vec_id") % 2 == 0), cents)
    want = []
    for k in range(STREAM_SEM_BATCHES):
        batch = emb.where(F.col("vec_id") % 6 == 2 * k + 1)
        dec = semantic_dedup_incremental(
            batch, idx, cents, threshold=COSINE_THRESHOLD
        ).withColumn("ingest_batch", F.lit(k).cast("int"))
        want.extend(_rows(dec.select(*got.columns)))
        kept = semantic_cell_index(batch, cents).join(
            dec.where("keep").select(F.col("vec_id").alias("vid")), "vid"
        )
        idx = idx.unionByName(kept).localCheckpoint(eager=True)
    assert _rows(got) == sorted(want)


def test_each_epoch_recomputes_identically_from_log_prefix(spark, sf_dir):
    """Replay idempotence: epoch k's stored verdicts must equal a fresh
    recompute whose index view is the log filtered to ingest_batch < k
    — exactly what a foreachBatch retry of batch k would compute even
    after its own (partial or complete) epoch directory landed."""
    from ecommerce_dataengineering_project_spark.queries.ext_dedup import (
        COSINE_THRESHOLD,
        sem_centroids,
    )

    q_stream_semantic_dedup(spark, sf_dir)  # materialize the log
    dec_dir = os.path.join(
        scratch_dir("streams/stream_semantic_dedup", sf_dir), "decisions"
    )
    log = spark.read.parquet(dec_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    cents = sem_centroids(emb.where(F.col("vec_id") % 2 == 0))
    for k in range(STREAM_SEM_BATCHES):
        stored = log.where(F.col("ingest_batch") == k).select(
            "vec_id", "cell", "n_history_hits", "n_batch_hits", "keep"
        )
        idx = log.where(F.col("keep") & (F.col("ingest_batch") < k)).select(
            F.col("vec_id").alias("vid"), "cell", "v", "nrm"
        )
        redo = semantic_dedup_incremental(
            emb.where(F.col("vec_id") % 6 == 2 * k + 1),
            idx,
            cents,
            threshold=COSINE_THRESHOLD,
        )
        assert _rows(stored) == _rows(redo), f"epoch {k} not replay-stable"


def test_sequential_accept_loop_differs_from_one_shot(spark):
    """The loop's semantics are the TRUE accept-loop: a VETOED epoch-0
    vector never enters the index, so it cannot veto a later newcomer —
    whereas the one-shot incremental form lets every smaller batch id
    veto regardless of its own fate. Constructed chain: 1 ≈ 7 (7
    vetoed by 1), 7 ≈ 9 but 1 !≈ 9 — one-shot vetoes 9 (smaller id 7
    clears the threshold); the sequential loop keeps 9 (7 was never
    accepted, epoch 1 probes only history ∪ {1}).

    Note this also shows neither direction of keep-set monotonicity
    holds between the two forms in general: epochs are mod-6 classes,
    so an earlier-epoch KEPT row can carry a LARGER id and veto in the
    stream what one-shot's smaller-id rule never would."""
    import math

    t = 0.89

    def vec(deg: float) -> list[float]:
        a = math.radians(deg)
        return [math.cos(a), math.sin(a)]

    schema = "vec_id bigint, embedding array<double>"
    hist = spark.createDataFrame([(0, vec(180.0)), (2, vec(172.0))], schema)
    odds = spark.createDataFrame(
        [(1, vec(0.0)), (7, vec(25.0)), (9, vec(50.0))], schema
    )
    cents = [vec(10.0), vec(176.0)]  # odds -> cell 0, history -> cell 1
    idx = semantic_cell_index(hist, cents)

    one_shot = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup_incremental(odds, idx, cents, threshold=t).collect()
    }
    assert one_shot == {1: True, 7: False, 9: False}

    # sequential epochs by (vec_id % 6) // 2: {1, 7} -> epoch 0, {9} -> 1
    d0 = semantic_dedup_incremental(
        odds.where("vec_id in (1, 7)"), idx, cents, threshold=t
    )
    assert {r["vec_id"]: r["keep"] for r in d0.collect()} == {1: True, 7: False}
    idx1 = idx.unionByName(
        semantic_cell_index(odds.where("vec_id = 1"), cents)
    )
    d1 = semantic_dedup_incremental(
        odds.where("vec_id = 9"), idx1, cents, threshold=t
    )
    assert {r["vec_id"]: r["keep"] for r in d1.collect()} == {9: True}
