"""Production-condition scaling of the stream_semantic_dedup loop
(r14): FIXED ingest batches, history grown 4x — the dial a deployment
actually experiences (epochs are sized by ingest rate; the corpus
grows underneath). The registered fixture instead grows the batches
with the decade and so inherits the batch-side n^1.5 envelope by
construction (SCALE.md); THIS measurement isolates the history dial
for the full streaming loop — bootstrap epoch write (it scales with
history), staging, per-epoch index view, probe join, epoch write,
availableNow machinery — not just the batch operator (whose flat
history dial r13 measured at 1.94 -> 1.89 s).

Both arms ride the generated sf1 table (tools/gen_sf1.py) so the
batch vectors are IDENTICAL: odd vec_ids < 1500 split into 3 epochs
of ~250 each, against
  - hist_small: even vec_ids < 5000  (~2.5k accepted vectors)
  - hist_big:   all even vec_ids     (~10k accepted vectors, 4x)
Centroids are seeded per history (sqrt(n) cells — the quantizer grows
with the corpus, part of the production condition).

Usage: python tools/profile_semstream_scale.py [repeats=3]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from ecommerce_dataengineering_project_spark import get_spark  # noqa: E402
from ecommerce_dataengineering_project_spark.queries.ext_dedup import (  # noqa: E402
    COSINE_THRESHOLD,
    SEM_CELL_CLAMP,
)
from ecommerce_dataengineering_project_spark.operators.similarity import (  # noqa: E402
    seeded_centroids,
    suggest_n_cells,
)
from ecommerce_dataengineering_project_spark.queries.streaming_queries import (  # noqa: E402
    run_semantic_dedup_stream,
)
from ecommerce_dataengineering_project_spark.streaming.harness import scratch_dir  # noqa: E402

SF1 = "/root/repo/.tmp/testdata/sf1"


def main() -> None:
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark(app_name="semstream-scale-profile")
    spark.sparkContext.setLogLevel("ERROR")
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    emb = load_table(spark, SF1, "embeddings")
    odds = emb.where((F.col("vec_id") % 2 != 0) & (F.col("vec_id") < 1500))
    tag = F.expr("cast((vec_id % 6) div 2 as int)")
    arms = {}
    for label, hist in (
        ("hist_small", emb.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") < 5000))),
        ("hist_big", emb.where(F.col("vec_id") % 2 == 0)),
    ):
        lo, hi = SEM_CELL_CLAMP
        cents = seeded_centroids(hist, suggest_n_cells(hist.count(), lo, hi))
        arms[label] = (hist, cents)

    bests: dict[str, float] = {}
    for label, (hist, cents) in arms.items():  # warm
        run_semantic_dedup_stream(
            spark, scratch_dir(f"streams/semscale_{label}", SF1), hist, odds, tag, 3,
            cents, COSINE_THRESHOLD,
        ).count()
    for _ in range(repeats):
        for label, (hist, cents) in arms.items():  # interleaved
            t0 = time.perf_counter()
            run_semantic_dedup_stream(
                spark, scratch_dir(f"streams/semscale_{label}", SF1), hist, odds, tag,
                3, cents, COSINE_THRESHOLD,
            ).count()
            bests[label] = min(bests.get(label, 1e9), time.perf_counter() - t0)
    for label, b in bests.items():
        print(f"{label}: best {b:.3f}s")
    print(f"history-dial ratio (4x history): {bests['hist_big'] / bests['hist_small']:.2f}x")


if __name__ == "__main__":
    main()
