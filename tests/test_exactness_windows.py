"""Loud, local guards for the data-conditional exactness windows that
back the sketch-family oracle graduations (ADVICE r12): each graduated
query's oracle is exact ONLY inside a window of the fixture data —
HLL's coupon phase, Misra-Gries at k >= vocabulary, GK at
accuracy >= n. A fixture change that leaves a window must fail HERE
with a named precondition, not as an opaque driver hash mismatch.

Checked against every shipped fixture decade (duckdb-side — these are
data facts, no Spark needed), including sf0.1, which no regular test
reads but the driver bench does.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from ecommerce_dataengineering_project_spark.operators.sketches import (
    hll_exact_boundary,
)
from ecommerce_dataengineering_project_spark.queries.ext_stats import (
    GK_ACC_EXACT,
    HH_K,
    HLL_LGK_EXACT,
)

# DataSketches HLL stays in its exact coupon (list/set) phase below
# min(3*2^(lgk-3)/4, 24576) distinct values — the r13 bisection rule
# (operators/sketches.py); both graduated HLL arms run HLL_LGK_EXACT.
COUPON_BOUNDARY = hll_exact_boundary(HLL_LGK_EXACT)  # 24576 at lgk=19


def test_boundary_rule_matches_measured_bisection():
    # the bisected points from the r13 probe (module docstring in
    # operators/sketches.py); the rule must stay conservative — at or
    # below every measured last-exact n
    measured = {14: 1544, 16: 6339, 17: 12290, 18: 24594, 19: 24576, 21: 24576}
    for lgk, last_exact in measured.items():
        assert hll_exact_boundary(lgk) <= last_exact, lgk
    # and it must not be vacuously tiny: the lgk=19 window really does
    # cover the largest fixture cardinality the graduated arms sketch
    assert hll_exact_boundary(19) == 24576

_DECADES = [
    f"/root/testdata/{d}"
    for d in ("sf0.001", "sf0.01", "sf0.1")
    if os.path.isdir(f"/root/testdata/{d}")
]
# the generated decade fixture (tools/gen_sf1.py), when present — the
# sf1 cardinalities are exactly where the r12 lgk=16 claim broke
if os.path.isdir("/root/repo/.tmp/testdata/sf1"):
    _DECADES.append("/root/repo/.tmp/testdata/sf1")


@pytest.fixture(scope="module", params=_DECADES, ids=os.path.basename)
def decade(request) -> str:
    return request.param


def test_segment_overlap_unions_stay_in_coupon_phase(decade):
    # segment_overlap_sketch: every pairwise UNION of per-segment
    # distinct-user sets (the largest cardinality any sketch sees)
    # must stay inside the coupon phase.
    # r14 algebra audit (after theta_union's silent lgk=12 default):
    # hll_union/hll_union_agg carry NO nominal-entries parameter of
    # their own — probed empirically at lgk=19: union exact at 24576
    # distinct, off-by-one at 24577, i.e. hll_exact_boundary(19) holds
    # THROUGH the union, so this guard's boundary is the right one for
    # the whole HLL algebra, not just the aggregator.
    worst = duckdb.sql(
        f"""
        WITH du AS (SELECT DISTINCT event_type, user_id
                    FROM read_parquet('{decade}/events.parquet')),
        segs AS (SELECT DISTINCT event_type FROM du)
        SELECT MAX(u) FROM (
            SELECT (SELECT COUNT(DISTINCT user_id) FROM du
                    WHERE event_type IN (a.event_type, b.event_type)) AS u
            FROM segs a JOIN segs b ON a.event_type < b.event_type
        )
        """
    ).fetchone()[0]
    assert worst < COUPON_BOUNDARY, (
        f"{decade}: largest segment-pair distinct-user union {worst} left "
        f"the lgk={HLL_LGK_EXACT} coupon phase (<{COUPON_BOUNDARY}) — the "
        "segment_overlap_sketch oracle is no longer exact"
    )


def test_heavy_hitter_vocab_within_k(decade):
    # heavy_hitter_tokens: MG weights are exact counts only at
    # k >= vocabulary size
    vocab = duckdb.sql(
        f"""
        SELECT COUNT(DISTINCT w) FROM (
            SELECT UNNEST(STRING_SPLIT(text, ' ')) AS w
            FROM read_parquet('{decade}/documents.parquet'))
        """
    ).fetchone()[0]
    assert vocab <= HH_K, (
        f"{decade}: document vocabulary {vocab} exceeds HH_K={HH_K} — the "
        "heavy_hitter_tokens oracle is no longer exact"
    )


def test_approx_distinct_quantiles_windows(decade):
    # approx_distinct_quantiles: per-flag distinct suppliers inside the
    # HLL coupon phase AND per-flag row counts within the GK
    # no-compression accuracy
    ds, n = duckdb.sql(
        f"""
        SELECT MAX(ds), MAX(n) FROM (
            SELECT COUNT(DISTINCT l_suppkey) AS ds, COUNT(*) AS n
            FROM read_parquet('{decade}/lineitem.parquet')
            GROUP BY l_returnflag)
        """
    ).fetchone()
    assert ds < COUPON_BOUNDARY, (
        f"{decade}: per-flag distinct suppliers {ds} left the lgk={HLL_LGK_EXACT} "
        f"coupon phase (<{COUPON_BOUNDARY})"
    )
    assert n <= GK_ACC_EXACT, (
        f"{decade}: per-flag row count {n} exceeds GK accuracy "
        f"{GK_ACC_EXACT} — percentile_approx may compress and drift off "
        "the exact rank"
    )


def test_theta_overlap_stays_in_exact_mode(decade):
    # theta_segment_overlap (queries/ext_spark4.py): DataSketches theta
    # at lgk=THETA_LGK is exact while the RETAINED set fits, i.e. while
    # the UNION of distinct customers <= 2^THETA_LGK — bisected r14 on
    # this Spark build: n=16384 exact, n=16385 estimates 16384 (off by
    # one), through parallel partial sketches and merges. Applying this
    # guard for the first time CAUGHT a live bug: Spark's theta_union
    # defaults to lgNomEntries=12, so the union term silently
    # downsampled at sf0.1 (14907 != 14999) even though both input
    # sketches were exact — the query now propagates THETA_LGK into
    # the union. The oracle's claim covers the SHIPPED decades only
    # (sf0.1 is ~15k customers, 92% of the window — the tightest
    # claimed window in the repo); sf1's ~150k customers are documented
    # estimate-mode, pinned by the error-bound test in
    # tests/test_spark4.py, so this guard deliberately does NOT extend
    # to the generated decade.
    from ecommerce_dataengineering_project_spark.queries.ext_spark4 import THETA_LGK

    if decade.endswith("sf1"):
        pytest.skip("theta oracle claims shipped decades only")
    n_cust = duckdb.sql(
        f"SELECT COUNT(DISTINCT o_custkey) FROM read_parquet('{decade}/orders.parquet')"
    ).fetchone()[0]
    assert n_cust <= 2 ** THETA_LGK, (
        f"{decade}: {n_cust} distinct customers left theta's lgk={THETA_LGK} "
        f"exact window (<={2 ** THETA_LGK}) — the theta_segment_overlap "
        "oracle is no longer bit-exact"
    )


def test_approx_topk_domain_within_tracked_budget(decade):
    # approx_topk_event_types: approx_top_k counts are exact while the
    # DOMAIN fits maxItemsTracked (default 10000); the event_type
    # domain is generator-fixed at 5 values, so the window holds at
    # every decade including generated sf1 — asserted, not assumed.
    n_types = duckdb.sql(
        f"SELECT COUNT(DISTINCT event_type) FROM read_parquet('{decade}/events.parquet')"
    ).fetchone()[0]
    assert n_types <= 10_000, (
        f"{decade}: {n_types} distinct event types exceed approx_top_k's "
        "maxItemsTracked=10000 — counts may drop to estimate mode"
    )


def test_prod_semdedup_assignment_margin(decade):
    # semantic_dedup_prod's assignment margin: the engine's assigner
    # accumulates dot − ½‖c‖² in the same sequential order as the
    # fold-argmax oracle, so the two agree bit-for-bit at any margin.
    # This pins that the prod fixture also has no near-ties: no
    # vector's top-two cell scores sit within the FP discrepancy of a
    # reordered sum (~n·eps·|partials| ≈ 1e-12 for 64 dims), so its
    # cells do not hinge on accumulation order. Assert a 1000x-headroom
    # margin per decade so a fixture regen near a tie fails HERE with a
    # named precondition. Bit-identical centroid pairs are excluded:
    # they score equal in any order and tie-break to the smaller cell.
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        SEED_MOD,
        SEED_MULT,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_dedup import (
        SEM_CELL_CLAMP,
        SEM_OCCUPANCY,
    )

    min_margin = duckdb.sql(
        f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM read_parquet('{decade}/embeddings.parquet')),
        cents AS (
            SELECT cell, cv, halfsq FROM (
                SELECT v AS cv,
                       ROW_NUMBER() OVER (ORDER BY ((vec_id % {SEED_MOD}) * {SEED_MULT}) % {SEED_MOD} ASC,
                                          vec_id ASC) - 1 AS cell,
                       LIST_REDUCE(LIST_TRANSFORM(v, x -> x * x), (x, y) -> x + y)
                           / 2.0 AS halfsq
                FROM e
            ) WHERE cell < (SELECT GREATEST({SEM_CELL_CLAMP[0]},
                                CAST(COUNT(*) // {SEM_OCCUPANCY} AS INTEGER))
                            FROM e)
        ),
        top2 AS (
            SELECT vec_id, s, cv,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, cell ASC) AS rn
            FROM (
                SELECT e.vec_id, c.cell, c.cv,
                       LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(e.v, c.cv),
                                                  x -> x[1] * x[2]),
                                   (x, y) -> x + y) - c.halfsq AS s
                FROM e CROSS JOIN cents c
            )
        )
        SELECT MIN(a.s - b.s)
        FROM top2 a JOIN top2 b
          ON a.vec_id = b.vec_id AND a.rn = 1 AND b.rn = 2
        WHERE a.cv <> b.cv
        """
    ).fetchone()[0]
    assert min_margin is not None and min_margin > 1e-9, (
        f"{decade}: minimum top-1/top-2 prod-cell score margin "
        f"{min_margin} is inside the FP-discrepancy danger zone — the "
        "prod cells now hinge on summation order"
    )
