"""Measure SemDeDup's 100 TB configuration across the sf0.1->sf1
decade (VERDICT r11 item 3).

Three arms, interleaved per scale so machine drift cancels:

- ``registry``  — the oracle-checked shape: sqrt(n) cells. n^1.5 by
  design (measured 10.8x across the decade in r11); both the assigner
  (n*cells*dim) and the intra-cell pairing (n^2/cells) scale as n^1.5.
- ``sharded``   — the registry shape + shard_col (label): cuts ONLY
  the pair term by S, so at fixture n (assigner-dominated) it times
  ~equal; its value is the BOUND (n per invocation) when shards grow
  with the corpus, not the constant at fixed S.
- ``prod100tb`` — constant-occupancy cells (cells = n/OCCUPANCY), the
  prod configuration's cell count. Pair work becomes n*occupancy =
  LINEAR; the assigner's n x cells x dim multiply-adds grow
  n^2/occupancy but stay small at any fixture scale — and at true
  100 TB the assigner runs hierarchically (assign to sqrt(cells)
  super-cells first), which production SemDeDup deployments pair with
  per-language sharding anyway. Recall note: constant occupancy means
  MORE cells than sqrt(n), i.e. more boundary pairs missed — the
  documented SemDeDup recall/cost dial turned toward cost.

Usage: python tools/profile_semdedup_scale.py [repeats=3]
Prints per-arm best at sf0.1 and sf1 and the decade ratios.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ecommerce_dataengineering_project_spark import get_spark  # noqa: E402
from ecommerce_dataengineering_project_spark.operators.dedup import semantic_dedup  # noqa: E402
from ecommerce_dataengineering_project_spark.operators.similarity import (  # noqa: E402
    seeded_centroids,
    suggest_n_cells,
)
from ecommerce_dataengineering_project_spark.queries.ext_dedup import (  # noqa: E402
    COSINE_THRESHOLD,
    SEM_CELL_CLAMP,
)
from ecommerce_dataengineering_project_spark.sources.readers import load_table  # noqa: E402

OCCUPANCY = 100  # target vectors per cell in the constant-occupancy arm

SCALES = {
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": "/root/repo/.tmp/testdata/sf1",
}


def main() -> None:
    repeats = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    spark = get_spark(app_name="semdedup-scale-profile")
    spark.sparkContext.setLogLevel("ERROR")
    bests: dict[tuple[str, str], float] = {}
    for scale, sf in SCALES.items():
        emb = load_table(spark, sf, "embeddings")
        n = emb.count()
        lo, hi = SEM_CELL_CLAMP
        cents_sqrt = seeded_centroids(emb, suggest_n_cells(n, min_cells=lo, max_cells=hi))
        cents_occ = seeded_centroids(emb, max(lo, n // OCCUPANCY))
        arms = {
            "registry": lambda: semantic_dedup(
                emb, cents_sqrt, threshold=COSINE_THRESHOLD
            ),
            "sharded": lambda: semantic_dedup(
                emb, cents_sqrt, threshold=COSINE_THRESHOLD, shard_col="label"
            ),
            "prod100tb": lambda: semantic_dedup(
                emb, cents_occ, threshold=COSINE_THRESHOLD
            ),
        }
        samples: dict[str, list[float]] = {k: [] for k in arms}
        for _ in range(repeats):
            for tag, fn in arms.items():  # interleaved
                t0 = time.perf_counter()
                fn().write.format("noop").mode("overwrite").save()
                samples[tag].append(round(time.perf_counter() - t0, 3))
        for tag, ts in samples.items():
            bests[(scale, tag)] = min(ts)
            print(f"{scale} {tag}: n={n} samples={ts} best={min(ts)}")
    for tag in ("registry", "sharded", "prod100tb"):
        r = bests[("sf1", tag)] / bests[("sf0.1", tag)]
        print(f"decade ratio {tag}: {r:.1f}x for 10x data")


if __name__ == "__main__":
    main()
