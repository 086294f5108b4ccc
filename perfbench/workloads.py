"""The benchmark workloads.

Each workload drives the engine only through public entry points:
``plans.orchestrator.sales_pipeline_dag`` + ``DagRun.run``,
``operators.text`` and ``operators.dedup``. It never calls the
memoizing ``queries.q_*`` wrappers, so set-up (input generation,
staging, centroids) and steady work stay separate.

A workload object is built once per run. ``setup(dir)`` generates the
seeded inputs under a fresh directory and prepares them (centroids);
the run calls it several times and keeps the last. ``op(i)``
is one closed-loop operation and returns what ``check(i, out)`` needs;
``check`` raises ``CheckFailed`` when an output is wrong and runs outside
the timed interval.
"""

from __future__ import annotations

import os
import shutil
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import inputs

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "tests"))


class CheckFailed(Exception):
    """An operation's output disagrees with its reference."""


def _require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


def _oracle_check(spark_df, con, sql: str, what: str) -> None:
    from oracle_harness import compare

    errs = compare(spark_df, con, sql)
    _require(not errs, f"{what}: {errs[:3]}")


def _duck(sf_dir: str, tables: tuple[str, ...]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'")
    return con


# Sizes per scale. "bench" is what the benchmark measures; "tiny" is the
# self-test's. Below sf0.1 row counts so that a run fits the time budget
# (measurements in README "Sizing"): events are half of sf0.1's 100k;
# purchases are 10k of sf0.1's 600k lineitem rows, because
# generate_bronze_purchases builds them row by row in Python (600k take
# 22-24 s per set-up) and refresh time barely depends on them; the
# corpus is a quarter of sf0.1's 5000 docs and half of its 2000
# embeddings, because a full-size pass takes 8-9 s.
SIZES = {
    "bench": {
        "medallion": dict(n_events=50_000, n_users=1000, n_purchases=10_000, n_days=60),
        "corpus_dedup": dict(
            n_unique=1000, n_exact=100, n_near=100, n_low=50, n_vec=900, n_vec_copies=100
        ),
    },
    "tiny": {
        "medallion": dict(n_events=500, n_users=20, n_purchases=400, n_days=20),
        "corpus_dedup": dict(
            n_unique=60, n_exact=6, n_near=6, n_low=4, n_vec=60, n_vec_copies=6
        ),
    },
}


class Workload:
    name = ""
    warmup = 2  # untimed passes before the window (first passes run 2-3x slower)
    # The host probe's time after this workload's operations at a typical
    # host speed (median of twenty runs at local[4] on a 4-vCPU VM). The
    # probe shares the JVM with the workload, so it reads slower after a
    # heavier operation; op_p50_norm_ms scales operation times to this.
    ref_probe_s: float

    def __init__(self, spark, seed: int, scale: str, tracer):
        self.spark = spark
        self.seed = seed
        self.size = SIZES[scale][self.name]
        self.tracer = tracer

    def setup(self, work: str) -> None:
        raise NotImplementedError

    def op(self, i: int):
        raise NotImplementedError

    def check(self, i: int, out) -> None:
        raise NotImplementedError

    def after(self) -> dict[str, float]:
        """Traced-run extras computed after the timed window."""
        return {}


# ---------------------------------------------------------------------------


class Medallion(Workload):
    """The reference pipeline, one full DAG refresh per operation."""

    name = "medallion"
    warmup = 3  # refresh times settle by the third pass
    ref_probe_s = 0.16
    # DAG task -> the package layer its body exercises
    TASK_LAYER = {
        "produce_sales_stream": "sources",
        "run_streaming_consumer": "streaming",
        "delta_to_iceberg": "sources",
        "run_dbt_transformation": "operators",
        "run_anomaly_detection_model": "ml",
    }

    def setup(self, work: str) -> None:
        from ecommerce_dataengineering_project_spark.plans.medallion import (
            generate_bronze_purchases,
        )
        from ecommerce_dataengineering_project_spark.queries.core import ORACLES

        s = self.size
        # staged stream sources are cached per process by this basename
        self.sf_dir = os.path.join(work, f"sf_medallion_s{self.seed}_{os.path.basename(work)}")
        bronze = [
            r.value
            for r in generate_bronze_purchases(self.spark, s["n_purchases"], self.seed).collect()
        ]
        li = inputs.lineitem_from_purchases(bronze, self.seed, s["n_days"])
        pq.write_table(li, _mk(self.sf_dir, "lineitem.parquet"))
        pq.write_table(
            inputs.events_table(self.seed, s["n_events"], s["n_users"]),
            os.path.join(self.sf_dir, "events.parquet"),
        )
        self.out = os.path.join(work, "refresh")
        self.state_dir = os.path.join(work, "dag_state")
        self.con = _duck(self.sf_dir, ("lineitem",))
        self.daily_sql = ORACLES["daily_sales"]

    def op(self, i: int):
        from ecommerce_dataengineering_project_spark.plans.orchestrator import (
            DagRun,
            sales_pipeline_dag,
        )

        run_id = f"s{self.seed}-r{i}"
        out_root = os.path.join(self.out, run_id)
        dag = sales_pipeline_dag(self.spark, self.sf_dir, out_root, run_token=run_id)
        if self.tracer.enabled:
            for tid, task in dag.tasks.items():
                if task.fn is not None and tid in self.TASK_LAYER:
                    task.fn = self.tracer.wrap(task.fn, f"plans.task.{tid}", self.TASK_LAYER[tid])
        with self.tracer.span("plans.dag", "plans"):
            states = DagRun(dag, run_id, self.state_dir).run()
        return out_root, states

    def check(self, i: int, out) -> None:
        from ecommerce_dataengineering_project_spark.sources.txlog import TxTable

        out_root, states = out
        try:
            bad = {t: s for t, s in states.items() if s != "success"}
            _require(not bad, f"DAG tasks not successful: {bad}")
            daily = self.spark.read.parquet(os.path.join(out_root, "daily_sales"))
            _oracle_check(daily, self.con, self.daily_sql, "daily_sales vs DuckDB")
            gold = TxTable(os.path.join(out_root, "gold_tx")).read(self.spark).count()
            _require(
                gold == self.size["n_events"],
                f"gold_tx rows {gold} != events {self.size['n_events']}",
            )
            _require(
                os.path.isdir(os.path.join(out_root, "anomalies")), "anomaly output missing"
            )
        finally:
            shutil.rmtree(out_root, ignore_errors=True)


def _mk(d: str, f: str) -> str:
    os.makedirs(d, exist_ok=True)
    return os.path.join(d, f)


# ---------------------------------------------------------------------------


class CorpusDedup(Workload):
    """Quality filter -> exact dedup -> MinHash-LSH -> connected
    components -> keep-canonical -> semantic dedup -> chunking, one pass
    per operation. Each stage's output is materialized
    (``localCheckpoint``) so every stage is timed on its own."""

    name = "corpus_dedup"
    warmup = 3  # pass times keep falling for the first four or five passes
    ref_probe_s = 0.30
    SEM_THRESHOLD = 0.9  # random 64-d unit vectors never reach it; planted copies always do
    CHUNK, OVERLAP = 32, 8

    def setup(self, work: str) -> None:
        from ecommerce_dataengineering_project_spark.operators.similarity import (
            seeded_centroids,
            suggest_n_cells,
        )
        from ecommerce_dataengineering_project_spark.sources.readers import load_table

        self.sf_dir = os.path.join(work, f"sf_corpus_s{self.seed}")
        docs, emb, self.planted = inputs.corpus_tables(self.seed, **self.size)
        pq.write_table(docs, _mk(self.sf_dir, "documents.parquet"))
        pq.write_table(emb, os.path.join(self.sf_dir, "embeddings.parquet"))
        e = load_table(self.spark, self.sf_dir, "embeddings")
        self.centroids = seeded_centroids(e, suggest_n_cells(emb.num_rows))
        self.pairs = None

    def _expected_pairs(self) -> set[tuple[int, int, float]]:
        """MinHash-LSH pairs by the engine's DuckDB oracle, run over the
        exact-dedup survivors the planted structure predicts. The oracle
        mirrors the engine's banding bit for bit; banding recall is
        below 1 by design, so which near pairs are found is the oracle's
        call, not the plant's. Computed once per run."""
        from ecommerce_dataengineering_project_spark.queries.ext_dedup import ORACLES

        if self.pairs is None:
            con = duckdb.connect()
            con.register("first_ids", pa.table({"doc_id": list(self.planted.first_ids)}))
            path = os.path.join(self.sf_dir, "documents.parquet")
            con.sql(
                f"CREATE VIEW documents AS SELECT * FROM '{path}' "
                "WHERE doc_id IN (SELECT doc_id FROM first_ids)"
            )
            rel = con.sql(ORACLES["dedup_minhash_lsh"]).select("id_a, id_b, jaccard")
            self.pairs = {(a, b, round(j, 6)) for a, b, j in rel.fetchall()}
        return self.pairs

    def op(self, i: int):
        from pyspark.sql import functions as F

        from ecommerce_dataengineering_project_spark.operators import dedup, text
        from ecommerce_dataengineering_project_spark.queries.ext_text import QUALITY_MIN
        from ecommerce_dataengineering_project_spark.sources.readers import load_table

        span = self.tracer.span
        docs = load_table(self.spark, self.sf_dir, "documents")
        emb = load_table(self.spark, self.sf_dir, "embeddings")
        with span("operators.text.quality", "operators"):
            kept = (
                text.with_text_stats(docs)
                .where(F.col("quality_score") >= QUALITY_MIN)
                .localCheckpoint(eager=True)
            )
        with span("operators.dedup.exact", "operators"):
            keep_ids = dedup.exact_dedup_groups(kept, "doc_id").select(
                F.col("keep_id").alias("doc_id")
            )
            first = kept.join(keep_ids, "doc_id").localCheckpoint(eager=True)
        with span("operators.dedup.minhash", "operators"):
            pairs = dedup.minhash_lsh_dedup(first, "doc_id", threshold=0.8).localCheckpoint(
                eager=True
            )
        with span("operators.dedup.components", "operators"):
            clusters = dedup.connected_components(
                pairs.select("id_a", "id_b"), first.select("doc_id")
            ).localCheckpoint(eager=True)
        with span("operators.dedup.canonical", "operators"):
            canon = dedup.keep_canonical(
                clusters,
                first.select("doc_id", "quality_score", "token_count"),
                [F.col("quality_score").desc(), F.col("token_count").desc()],
            ).localCheckpoint(eager=True)
        with span("operators.dedup.semantic", "operators"):
            sem = dedup.semantic_dedup(
                emb, self.centroids, threshold=self.SEM_THRESHOLD
            ).localCheckpoint(eager=True)
        with span("operators.text.chunk", "operators"):
            chunks = text.chunk_documents(
                canon.select("doc_id").join(first.select("doc_id", "text"), "doc_id"),
                chunk_tokens=self.CHUNK,
                overlap=self.OVERLAP,
            ).localCheckpoint(eager=True)
        self.first = first
        return kept, first, pairs, canon, sem, chunks

    def check(self, i: int, out) -> None:
        from pyspark.sql import functions as F

        kept, first, pairs, canon, sem, chunks = out
        p = self.planted
        got = {(r.id_a, r.id_b, round(r.jaccard, 6)) for r in pairs.collect()}
        want = self._expected_pairs()
        _require(got == want, f"minhash pairs != DuckDB oracle: {sorted(got ^ want)[:5]}")
        found = {(a, b) for a, b, _ in got}
        planted = {tuple(sorted(kv)) for kv in p.near_of.items()}
        _require(found <= planted, f"unplanted near-dup pairs: {sorted(found - planted)[:5]}")
        merged = {n for n, o in p.near_of.items() if tuple(sorted((n, o))) in found}
        survivors = sorted(set(p.first_ids) - merged)
        stride = self.CHUNK - self.OVERLAP
        want = {
            "quality-kept docs": (kept.count(), p.n_docs - p.n_low_quality),
            "exact survivors": (first.count(), len(p.first_ids)),
            "semantic survivors": (
                sem.where(F.col("keep")).count(), p.n_vectors - p.n_vector_copies
            ),
            "chunks": (
                chunks.count(),
                sum(len(range(1, max(p.n_tokens[d] - self.OVERLAP, 1) + 1, stride))
                    for d in survivors),
            ),
        }
        bad = {k: v for k, v in want.items() if v[0] != v[1]}
        _require(not bad, f"got != expected: {bad}")
        ids = sorted(r.doc_id for r in canon.select("doc_id").collect())
        _require(ids == survivors, "canonical survivors != originals of found pairs")
        self.verified = len(found)

    def after(self) -> dict[str, float]:
        from ecommerce_dataengineering_project_spark.operators import dedup

        sh = dedup.shingles(self.first, "doc_id").localCheckpoint(eager=True)
        cand = dedup.lsh_candidate_pairs(dedup.minhash_signatures(sh, "doc_id"), "doc_id").count()
        verified = float(self.verified)
        return {
            "operators.dedup.candidate_pairs": float(cand),
            "operators.dedup.verified_pairs": verified,
            "operators.dedup.pair_yield": verified / cand if cand else 0.0,
        }


WORKLOADS = {w.name: w for w in (Medallion, CorpusDedup)}
