"""ANN quality regression (X3): both approximate paths must return a
full top-k and recall a majority of the exact neighbors."""

from __future__ import annotations

import pytest

from ecommerce_dataengineering_project_spark.queries.ext_similarity import (
    N_QUERY_VECS,
    TOP_K,
    q_ann_ivf_topk,
    q_ann_lsh_topk,
    q_similarity_topk,
)


@pytest.fixture(scope="module")
def exact_pairs(spark, sf_dir):
    return {(r.query_id, r.neighbor_id) for r in q_similarity_topk(spark, sf_dir).collect()}


def _check(ann_rows, exact_pairs, min_recall):
    pairs = {(r.query_id, r.neighbor_id) for r in ann_rows}
    assert len(pairs) == N_QUERY_VECS * TOP_K  # full top-k per query
    recall = len(pairs & exact_pairs) / len(exact_pairs)
    assert recall >= min_recall, f"recall {recall:.2f}"


def test_lsh_topk_recall(spark, sf_dir, exact_pairs):
    # multi-table + Hamming-1 multiprobe: near-exhaustive on this corpus
    _check(q_ann_lsh_topk(spark, sf_dir).collect(), exact_pairs, 0.8)


def test_ivf_topk_recall(spark, sf_dir, exact_pairs):
    _check(q_ann_ivf_topk(spark, sf_dir).collect(), exact_pairs, 0.4)


def test_filtered_ivf_recall_vs_exact_filtered(spark, sf_dir):
    """ann_filtered_ivf (probe-then-filter over the persisted index)
    vs ann_filtered_topk (exact pre-filtered scoring): at ~10% label
    selectivity with n_probe=4/16 the probed cells must still recall a
    meaningful share of the exact filtered neighbors, and every emitted
    pair must be a TRUE label-filtered pair with the identical rounded
    cosine (precision 1 — the index rescores exactly)."""
    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.queries.ext_similarity import (
        FILTER_LABEL,
        q_ann_filtered_ivf,
        q_ann_filtered_topk,
    )

    exact = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in q_ann_filtered_topk(spark, sf_dir).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id): r.cosine
        for r in q_ann_filtered_ivf(spark, sf_dir).collect()
    }
    # precision 1, both halves (r14 ADVICE: the cosine check alone only
    # covered pairs that also rank in the exact top-k): EVERY emitted
    # neighbor must belong to the label-filtered corpus — the pushed
    # predicate may drop no survivor and admit no non-matching row —
    # and pairs shared with the exact arm rescore identically
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    allowed = {
        r.vec_id
        for r in load_table(spark, sf_dir, "embeddings")
        .where(F.col("label") == FILTER_LABEL)
        .select("vec_id")
        .collect()
    }
    for (qid, nid), cos in approx.items():
        assert nid in allowed, f"neighbor {nid} of query {qid} is not label={FILTER_LABEL}"
        if (qid, nid) in exact:
            assert cos == exact[(qid, nid)]
    recall = len(set(approx) & set(exact)) / len(exact)
    assert recall >= 0.4, f"filtered-IVF recall {recall:.2f}"


def test_filtered_ivf_overprobing_dial_recovers_recall(spark, sf_dir):
    """The documented recall dial (ivf_topk_indexed docstring): under a
    selective predicate, probing MORE cells must monotonically recover
    the exact filtered neighbors — at n_probe = n_cells the probed set
    IS the filtered corpus, so recall is exactly 1. Pins that the
    over-probe lever actually works, not just that it is argued."""
    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        ivf_topk_indexed,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_similarity import (
        FILTER_LABEL,
        N_CELLS,
        _ivf_index,
        _queries_df,
        q_ann_filtered_topk,
    )

    exact = {
        (r.query_id, r.neighbor_id)
        for r in q_ann_filtered_topk(spark, sf_dir).collect()
    }
    path, cents = _ivf_index(spark, sf_dir)
    prev = -1.0
    for n_probe in (2, 4, N_CELLS):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk_indexed(
                spark,
                _queries_df(spark, sf_dir),
                path,
                cents,
                k=TOP_K,
                n_probe=n_probe,
                predicate=F.col("label") == FILTER_LABEL,
            ).collect()
        }
        recall = len(got & exact) / len(exact)
        assert recall >= prev - 1e-9, f"recall fell raising n_probe to {n_probe}"
        prev = recall
    assert prev == 1.0  # full probe == exact filtered search


def test_embedding_near_dup_lsh_fallback(spark, sf_dir):
    """Above the driver-collect guard, near-dup pairs re-route through
    LSH candidates + exact rescoring: precision must be exactly 1
    (every emitted pair is a true pair with the identical cosine) and
    recall high on this corpus."""
    from ecommerce_dataengineering_project_spark.operators.dedup import embedding_near_dup_pairs
    from ecommerce_dataengineering_project_spark.queries.ext_dedup import COSINE_THRESHOLD
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    exact = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(emb, threshold=COSINE_THRESHOLD, dim=64).collect()
    }
    approx = {
        (r.id_a, r.id_b): r.cosine
        for r in embedding_near_dup_pairs(
            emb, threshold=COSINE_THRESHOLD, dim=64, max_exact_rows=0
        ).collect()
    }
    assert set(approx) <= set(exact)  # precision == 1
    for pair, cos in approx.items():
        assert cos == exact[pair]  # rescoring is bit-identical
    if exact:
        recall = len(approx) / len(exact)
        assert recall >= 0.8, f"recall {recall:.2f}"


def test_ivf_exact_assigner_survives_relation_dedup(spark, sf_dir):
    """Corpus and queries scanning the SAME source as SEPARATE
    relations (what the registry query does via two load_table calls)
    must work: a transform(sequence(..))-over-2D-literal formulation
    of the assigner captured an outer lambda variable inside a nested
    HOF and hit INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND when Spark 4.1.2
    deduplicated the twin scans. This pins that the assigner on both
    sides survives it."""
    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        ivf_topk,
        seeded_centroids,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = load_table(spark, sf_dir, "embeddings").where(F.col("vec_id") < 5)
    out = ivf_topk(qs, emb, 64, k=10, centroids=seeded_centroids(emb, 16))
    assert out.count() == 50


def test_quantize_embeddings_reconstruction_bound(spark, sf_dir):
    """Symmetric int8: every element reconstructs within scale/2, and
    quantized values stay in [-127, 127]."""
    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        quantize_embeddings,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qd = quantize_embeddings(emb)
    bad = qd.select(
        F.exists(
            F.zip_with(
                F.transform("embedding", lambda x: x.cast("double")),
                "q_vec",
                lambda v, q: F.abs(v - q * F.col("q_scale"))
                > F.col("q_scale") / 2 + F.lit(1e-12),
            ),
            lambda b: b,
        ).alias("err"),
        F.exists("q_vec", lambda q: F.abs(q) > 127).alias("oob"),
    )
    assert bad.where(F.col("err") | F.col("oob")).count() == 0


def test_ivf_ml_fitter_also_works(spark, sf_dir, exact_pairs):
    """The pyspark.ml KMeans fit path produces a working index too."""
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        fit_ivf_centroids,
        ivf_topk,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_similarity import (
        EMBEDDING_DIM,
        _queries_df,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = fit_ivf_centroids(emb, EMBEDDING_DIM, fitter="ml")
    rows = ivf_topk(
        _queries_df(spark, sf_dir), emb, EMBEDDING_DIM, k=TOP_K, centroids=cents
    ).collect()
    _check(rows, exact_pairs, 0.4)


def test_seeded_centroids_overflow_free_for_huge_ids(spark):
    """(id * 1000003) directly overflows bigint for ids above ~9.2e12
    (ANSI raise / silent wrap); the pre-reduced modmul is identical
    mathematically and overflow-free (ADVICE r4)."""
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        SEED_MOD,
        SEED_MULT,
        seeded_centroids,
    )

    huge = 9_223_372_036_854_775_000  # near bigint max
    df = spark.createDataFrame(
        [(huge, [1.0, 0.0]), (huge - 7, [0.0, 1.0]), (3, [0.5, 0.5])],
        "vec_id long, embedding array<double>",
    )
    cents = seeded_centroids(df, n_cells=2)
    assert len(cents) == 2
    # the centroid order must follow the mathematically-exact hash
    ranked = sorted(
        [(huge, [1.0, 0.0]), (huge - 7, [0.0, 1.0]), (3, [0.5, 0.5])],
        key=lambda t: (((t[0] % SEED_MOD) * SEED_MULT) % SEED_MOD, t[0]),
    )
    assert cents == [list(v) for _, v in ranked[:2]]


def test_ivf_ml_fitter_parity_with_local(spark, sf_dir):
    """VERDICT r4 stretch item: the pyspark.ml KMeans fitter path was
    untested relative to the sampled-numpy local fitter. Both must
    yield n_cells finite dim-width centroids that drive ivf_topk to
    full per-query coverage on the fixture."""
    import math

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        fit_ivf_centroids,
        ivf_topk,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    queries = emb.orderBy("vec_id").limit(5)

    results = {}
    for fitter in ("local", "ml"):
        cents = fit_ivf_centroids(emb, dim, n_cells=8, fitter=fitter)
        assert len(cents) == 8
        assert all(len(c) == dim for c in cents)
        assert all(math.isfinite(x) for c in cents for x in c)
        topk = ivf_topk(
            queries, emb, dim, k=3, n_cells=8, n_probe=8, centroids=cents
        )
        rows = topk.collect()
        # n_probe == n_cells probes every cell: exhaustive coverage,
        # so both fitters must return a full k x queries result and
        # IDENTICAL neighbor sets (the partition of the corpus into
        # cells cannot change an all-cells scan)
        assert len(rows) == 3 * 5
        results[fitter] = {
            (r.query_id, r.neighbor_id, r.cosine) for r in rows
        }
    assert results["local"] == results["ml"]


def test_semantic_dedup_cluster_scoped(spark):
    from ecommerce_dataengineering_project_spark.operators.dedup import semantic_dedup

    # two well-separated cell anchors on orthogonal axes
    c0 = [1.0, 0.0, 0.0, 0.0]
    c1 = [0.0, 1.0, 0.0, 0.0]
    rows = [
        (0, c0),
        (1, c1),
        (2, [0.99, 0.01, 0.0, 0.0]),   # near-dup of 0, same cell
        (3, [0.01, 0.99, 0.0, 0.0]),   # near-dup of 1, same cell
        (4, [0.0, 0.0, 1.0, 0.0]),     # orthogonal: no near-dup anywhere
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(emb, [c0, c1], threshold=0.9).collect()
    }
    assert out[0]["keep"] and out[1]["keep"]
    # smaller-id survivor wins within each cell
    assert not out[2]["keep"] and out[2]["cell"] == out[0]["cell"]
    assert not out[3]["keep"] and out[3]["cell"] == out[1]["cell"]
    # no neighbor over threshold in its cell -> kept
    assert out[4]["keep"]
    # deliberate recall trade: a near-dup pair SPLIT across cells is
    # missed — that is SemDeDup's contract, pinned here
    split = spark.createDataFrame(
        [(0, [0.72, 0.70, 0.0, 0.0]), (1, [0.70, 0.72, 0.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    split_out = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(split, [c0, c1], threshold=0.9).collect()
    }
    assert split_out == {0: True, 1: True}


def _duckdb_fold_cells(vecs, cents, n_probe):
    """The oracles' assignment rule in DuckDB: score = LIST_REDUCE fold
    of v·c minus the folded ½|c|², cells ordered (s DESC, cell ASC).
    Returns {vec_id: (probe list, best score)}."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE e (vec_id BIGINT, v DOUBLE[])")
    con.execute("CREATE TABLE c (cell INTEGER, cv DOUBLE[])")
    con.executemany("INSERT INTO e VALUES (?, ?)", [list(r) for r in vecs])
    con.executemany("INSERT INTO c VALUES (?, ?)", [[j, c] for j, c in enumerate(cents)])
    rows = con.execute(
        f"""
        WITH s AS (
            SELECT e.vec_id, c.cell,
                   LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(e.v, c.cv), x -> x[1] * x[2]),
                               (x, y) -> x + y)
                   - LIST_REDUCE(LIST_TRANSFORM(c.cv, x -> x * x), (x, y) -> x + y) / 2.0
                   AS s
            FROM e CROSS JOIN c
        )
        SELECT vec_id, LIST(cell ORDER BY s DESC, cell ASC)[1:{n_probe}], MAX(s)
        FROM s GROUP BY vec_id
        """
    ).fetchall()
    return {r[0]: (list(r[1]), r[2]) for r in rows}


def _engine_cells(spark, vecs, cents, n_probe):
    """{vec_id: (probe list, best score)} from the engine's assigner
    over (vec_id, array<double>) rows."""
    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        nearest_cells,
    )

    df = spark.createDataFrame(vecs, "vec_id bigint, v array<double>")
    rows = df.select("vec_id", nearest_cells(F.col("v"), cents, n_probe).alias("a"))
    return {r.vec_id: (list(r.a.cells), r.a.score) for r in rows.collect()}


@pytest.mark.parametrize("n_probe", [1, 3])
def test_nearest_cells_ties_go_to_lower_cell(spark, n_probe):
    """Equal scores go to the LOWER cell id, for the nearest cell and
    for the order of the probe list — the oracles' fold-argmax rule
    (ORDER BY s DESC, cell ASC)."""
    orth = [[1.0, 0.0], [0.0, 1.0]]  # v = [1, 1] scores 0.5 on both
    twins = [[0.0, 1.0], [1.0, 0.0], [1.0, 0.0]]  # cells 1, 2 bit-identical
    for cents, vecs, want in (
        (orth, [(0, [1.0, 1.0]), (1, [0.5, 0.5])], {0: [0, 1], 1: [0, 1]}),
        (twins, [(0, [2.0, 0.5]), (1, [0.0, 3.0])], {0: [1, 2, 0], 1: [0, 1, 2]}),
    ):
        got = _engine_cells(spark, vecs, cents, n_probe)
        ref = _duckdb_fold_cells(vecs, cents, n_probe)
        for vid, cells in want.items():
            assert got[vid] == ref[vid]
            assert got[vid][0] == cells[:n_probe]


@pytest.mark.parametrize("sizing", ["ivf", "sqrt", "occupancy"])
def test_nearest_cells_equal_duckdb_fold_argmax(spark, sf_dir, sizing):
    """On fixture embeddings, each vector's cell, 4-probe list and best
    score equal a DuckDB LIST_REDUCE fold argmax bit-for-bit, for the
    cell counts the registered arms use (IVF's 16, SemDeDup's sqrt(n)
    and the prod configuration's n/occupancy)."""
    import duckdb

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        seeded_centroids,
        suggest_n_cells,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_dedup import (
        SEM_CELL_CLAMP,
        SEM_OCCUPANCY,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_similarity import N_CELLS
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    vecs = duckdb.sql(
        f"SELECT vec_id, CAST(embedding AS DOUBLE[]) "
        f"FROM read_parquet('{sf_dir}/embeddings.parquet')"
    ).fetchall()
    n = len(vecs)
    n_cells = {
        "ivf": N_CELLS,
        "sqrt": suggest_n_cells(n, *SEM_CELL_CLAMP),
        "occupancy": max(SEM_CELL_CLAMP[0], n // SEM_OCCUPANCY),
    }[sizing]
    cents = seeded_centroids(load_table(spark, sf_dir, "embeddings"), n_cells)
    got = _engine_cells(spark, vecs, cents, 4)
    ref = _duckdb_fold_cells(vecs, cents, 4)
    assert len(got) == n
    assert got == ref


def test_assigner_plan_size_independent_of_cell_count(spark):
    """More than 4096 x 64 centroid doubles leave semantic_cell_index's
    plan free of centroid literals, and the plan's size does not
    depend on the cell count: the centroids ride in the assigner's
    UDF closure, not in the plan."""
    import random
    import re

    from ecommerce_dataengineering_project_spark.operators.dedup import (
        semantic_cell_index,
        semantic_dedup,
    )

    random.seed(7)
    dim = 64
    big = [[random.uniform(-1, 1) for _ in range(dim)] for _ in range(4097)]
    emb = spark.createDataFrame(
        [(i, big[i % 17]) for i in range(40)], "vec_id bigint, embedding array<double>"
    )

    def plan(cents):
        p = semantic_cell_index(emb, cents)._jdf.queryExecution().executedPlan().toString()
        return re.sub(r"#\d+", "#", p)  # expression ids differ run to run

    big_plan = plan(big)
    assert "ArrowEvalPython" in big_plan
    assert not any(repr(x) in big_plan for x in big[0])
    assert len(big_plan) == len(plan(big[:2]))
    # rows sharing the identical vector dedup to the smallest id
    got = {r.vec_id: r.keep for r in semantic_dedup(emb, big, threshold=0.99).collect()}
    assert all(got[i] == (i < 17) for i in range(40))


def test_semantic_dedup_sharded_scopes_pairs_to_shard(spark):
    """shard_col semantics: a same-cell near-dup pair SPLIT across
    shards keeps both members (the explicit recall trade), same-shard
    pairs dedup exactly as the unsharded operator, and per-shard output
    equals running semantic_dedup on that shard alone (the bounded-
    invocation equivalence the 100 TB config relies on)."""
    from ecommerce_dataengineering_project_spark.operators.dedup import semantic_dedup

    c0 = [1.0, 0.0, 0.0, 0.0]
    c1 = [0.0, 1.0, 0.0, 0.0]
    rows = [
        (0, c0, "en"),
        (1, [0.99, 0.01, 0.0, 0.0], "en"),   # near-dup of 0, same shard
        (2, [0.98, 0.02, 0.0, 0.0], "fr"),   # near-dup of 0, OTHER shard
        (3, c1, "en"),
        (4, [0.01, 0.99, 0.0, 0.0], "fr"),   # near-dup of 3, other shard
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, lang string"
    )
    out = {
        r["vec_id"]: r
        for r in semantic_dedup(
            emb, [c0, c1], threshold=0.9, shard_col="lang"
        ).collect()
    }
    assert out[0]["keep"] and out[0]["lang"] == "en"
    assert not out[1]["keep"]          # same shard, same cell, id 0 wins
    assert out[2]["keep"]              # near-dup ACROSS shards survives
    assert out[3]["keep"] and out[4]["keep"]
    # drop set is a subset of the unsharded operator's
    unsharded = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(
            emb.drop("lang"), [c0, c1], threshold=0.9
        ).collect()
    }
    dropped_sharded = {k for k, r in out.items() if not r["keep"]}
    dropped_global = {k for k, keep in unsharded.items() if not keep}
    assert dropped_sharded <= dropped_global
    # per-shard slice == semantic_dedup run on that shard alone
    from pyspark.sql import functions as F

    for shard in ("en", "fr"):
        alone = {
            r["vec_id"]: (r["cell"], r["keep"])
            for r in semantic_dedup(
                emb.where(F.col("lang") == shard).drop("lang"),
                [c0, c1],
                threshold=0.9,
            ).collect()
        }
        sliced = {
            k: (r["cell"], r["keep"])
            for k, r in out.items()
            if r["lang"] == shard
        }
        assert sliced == alone


def test_benchmark_contamination_semantics(spark):
    """Flag iff max eval cosine clears the threshold; cosine ties on
    the rounded value resolve to the smallest eval id; eval membership
    is the caller's split (no implicit exclusion)."""
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        benchmark_contamination,
    )

    e0 = [1.0, 0.0, 0.0, 0.0]
    corpus = spark.createDataFrame(
        [(1, [0.99, 0.01, 0.0, 0.0]), (2, [0.0, 0.0, 1.0, 0.0])],
        "vec_id bigint, embedding array<double>",
    )
    # two IDENTICAL eval vectors -> cosine tie -> smallest id wins
    bench = spark.createDataFrame(
        [(20, e0), (10, e0)], "vec_id bigint, embedding array<double>"
    )
    out = {
        r.vec_id: r
        for r in benchmark_contamination(corpus, bench, threshold=0.9).collect()
    }
    assert out[1].is_contaminated and out[1].nearest_eval_id == 10
    assert out[1].max_eval_cosine > 0.99
    assert not out[2].is_contaminated and out[2].nearest_eval_id == 10
    assert abs(out[2].max_eval_cosine) < 1e-9


def test_projection_matches_numpy_reference(spark, sf_dir):
    """project_embeddings == numpy matmul against the same sha-derived
    rows (up to the declared 1e-6 half-up rounding)."""
    import numpy as np

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        project_embeddings,
        projection_coeffs,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    rows = emb.collect()
    dim = len(rows[0].embedding)
    R = np.array([projection_coeffs(j, dim) for j in range(8)])  # (8, dim)
    want = {
        r.vec_id: np.floor(
            (np.array(r.embedding, dtype=np.float64) @ R.T) * 1e6 + 0.5
        )
        / 1e6
        for r in rows
    }
    got = project_embeddings(emb, dim, k=8).collect()
    for r in got:
        np.testing.assert_allclose(
            [r[f"p{j}"] for j in range(8)], want[r.vec_id], atol=1e-6
        )


def test_projection_roughly_preserves_pairwise_distances(spark, sf_dir):
    """The JL point: squared distances in the 8-dim projection track
    the 64-dim originals. The fixture embeddings are near-isotropic —
    all pairwise distances concentrate around one value, so at k=8 the
    1/sqrt(k) estimator noise swamps the tiny true spread and
    correlation is meaningless there (measured ~0.3). Scaling each
    vector by a distinct magnitude puts real structure in the metric;
    a projection that preserves distances must then correlate
    strongly."""
    import numpy as np

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        project_embeddings,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .limit(40)
        .select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: x * (1.0 + (F.col("vec_id") % 5).cast("double")),
            ).alias("embedding"),
        )
    )
    orig = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in emb.collect()}
    proj = {
        r.vec_id: np.array([r[f"p{j}"] for j in range(8)])
        for r in project_embeddings(emb, 64, k=8).collect()
    }
    ids = sorted(orig)
    d_o, d_p = [], []
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d_o.append(np.sum((orig[ids[i]] - orig[ids[j]]) ** 2))
            d_p.append(np.sum((proj[ids[i]] - proj[ids[j]]) ** 2))
    # k=8 keeps ~35% per-distance estimator noise, so correlation can't
    # reach 1 even on structured data (measured ~0.73; 0.87 at k=24) —
    # 0.6 catches a broken projection without flaking on JL noise.
    r = np.corrcoef(d_o, d_p)[0, 1]
    assert r > 0.6, f"projection destroyed the metric: corr={r:.3f}"
    # sharper: the estimator is unbiased — E[d_proj] = k*Var(coef)*d_orig
    # with Var(uniform[-1,1)) = 1/3, so the mean ratio must sit near k/3
    ratio = np.mean(np.array(d_p) / np.array(d_o))
    assert 0.7 * 8 / 3 < ratio < 1.3 * 8 / 3, f"biased estimator: {ratio:.3f}"


def test_suggest_n_cells_bounds_occupancy_across_sf():
    """SemDeDup cell-count rule (VERDICT r5 item 3): with ~sqrt(n)
    cells, per-cell occupancy grows like sqrt(n) — NOT like n, which is
    what a fixed cell count degrades to. Checked on the actual fixture
    row counts (sf0.001/0.01: 500 embeddings, sf0.1: 2000)."""
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        suggest_n_cells,
    )

    assert suggest_n_cells(0) == 4
    assert suggest_n_cells(100) == 10
    assert suggest_n_cells(10**9) == 4096  # plan-literal ceiling
    for small, big in [(500, 2000), (500, 50_000_000), (2000, 2_000_000)]:
        occ_small = small / suggest_n_cells(small)
        occ_big = big / suggest_n_cells(big)
        growth = big / small
        # occupancy must grow at most ~sqrt(data growth) until the
        # clamp kicks in, never linearly
        import math

        assert occ_big / occ_small <= math.sqrt(growth) * 1.05 or (
            suggest_n_cells(big) == 4096
        )
        assert occ_big / occ_small < growth


def test_pq_roundtrip_and_compression(spark, sf_dir):
    """PQ encoding: one BIGINT per vector, every subspace code within
    [0, PQ_CODES), and reconstruction lands on actual codebook slices
    (decode(encode(v)) is a concatenation of seeded-row slices)."""
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        PQ_CODES,
        PQ_SUBSPACES,
        pq_codebooks,
        pq_encode,
        pq_reconstruct_expr,
        seeded_centroids,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seeded_centroids(emb, PQ_CODES)
    books = pq_codebooks(cents)
    codes = pq_encode(emb, cents)
    rows = codes.collect()
    assert len(rows) == emb.count()
    top = PQ_CODES ** PQ_SUBSPACES
    assert all(0 <= r.pq_code < top for r in rows)
    # reconstruct and check each subspace slice is a codebook entry
    rec = codes.select(
        "vec_id", pq_reconstruct_expr("pq_code", books).alias("rv")
    ).limit(20).collect()
    d0 = len(books[0][0])
    for r in rec:
        assert len(r.rv) == PQ_SUBSPACES * d0
        for mi in range(PQ_SUBSPACES):
            sub = list(r.rv[mi * d0 : (mi + 1) * d0])
            assert any(
                sub == list(entry) for entry in books[mi]
            ), f"subspace {mi} not a codebook entry"


def test_pq_adc_topk_recall(spark, sf_dir, exact_pairs):
    """ADC search over the 8-byte codes must return a full top-k and
    beat random recall by a wide margin — with 16 seeded (untrained)
    codes per 8-dim subspace the quantizer is coarse, so the bar is
    deliberately below the IVF/LSH ones."""
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        pq_adc_topk,
        seeded_centroids,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_similarity import (
        _queries_df,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seeded_centroids(emb, 16)
    rows = pq_adc_topk(
        _queries_df(spark, sf_dir), emb, cents, k=TOP_K
    ).collect()
    pairs = {(r.query_id, r.neighbor_id) for r in rows}
    assert len(pairs) == N_QUERY_VECS * TOP_K
    recall = len(pairs & exact_pairs) / len(exact_pairs)
    # random top-10 of ~2000 candidates would land ~0.005
    assert recall >= 0.2, f"recall {recall:.2f}"


def test_mmr_topk_matches_pure_python_greedy(spark):
    """mmr_topk's unrolled plan must equal a straightforward Python
    greedy MMR over the same pool/sims on a hand-buildable corpus."""
    import math

    from ecommerce_dataengineering_project_spark.operators.similarity import mmr_topk

    rows = [
        (i, [math.sin(i * 1.7 + j) for j in range(8)]) for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    queries = emb.where("vec_id < 3")
    got = {
        (r.query_id, r.pick): (r.neighbor_id, r.score_u)
        for r in mmr_topk(queries, emb, dim=8, k_pool=8, k_div=4).collect()
    }

    def cos(a, b):
        dot = 0.0
        for x, y in zip(a, b):
            dot += x * y
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb)

    def u6(x):
        return math.floor(math.floor(x * 1e6 + 0.5) / 1e6 * 1e6 + 0.5)

    vecs = dict(rows)
    for qid in range(3):
        rel = sorted(
            (
                (math.floor(math.floor(cos(vecs[qid], vecs[n]) * 1e6 + 0.5)), n)
                for n in vecs
                if n != qid
            ),
            key=lambda t: (-t[0], t[1]),
        )[:8]
        pool = {n: r for r, n in rel}
        sel = []
        for pick in range(1, 5):
            best = None
            for n, r in pool.items():
                if n in sel:
                    continue
                if not sel:
                    score = 7 * r
                else:
                    score = 7 * r - 3 * max(
                        u6(cos(vecs[n], vecs[s])) for s in sel
                    )
                if best is None or (score, -n) > (best[0], -best[1]):
                    best = (score, n)
            sel.append(best[1])
            assert got[(qid, pick)] == (best[1], best[0]), (qid, pick)


def test_embedding_near_dup_pairs_refuses_string_ids(spark):
    from ecommerce_dataengineering_project_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    emb = spark.createDataFrame(
        [("doc-1", [1.0, 0.0]), ("doc-2", [1.0, 0.0])],
        "vec_id STRING, embedding ARRAY<DOUBLE>",
    )
    with pytest.raises(TypeError, match="integer type"):
        embedding_near_dup_pairs(emb, dim=2)


def test_ivf_index_fingerprint_sees_non_centroid_content(spark):
    """The r10 verdict's staleness hole: a corpus whose NON-centroid
    vectors change while the row count and the hash-selected centroid
    rows stay identical must NOT reuse a persisted index built from
    the old data. The content XOR term makes such a mutation rotate
    the fingerprint (and therefore the index directory)."""
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        seeded_centroids,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_similarity import (
        _ivf_index_fingerprint,
    )

    base = [(i, [float(i % 7), float(i % 3), 1.0]) for i in range(40)]
    emb1 = spark.createDataFrame(base, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    cents = seeded_centroids(emb1, 4)
    centroid_vecs = {tuple(c) for c in cents}
    # mutate one row that is NOT a centroid, keeping the row count
    mutated = list(base)
    for j, (i, v) in enumerate(mutated):
        if tuple(v) not in centroid_vecs:
            mutated[j] = (i, [v[0] + 0.25, v[1], v[2]])
            break
    emb2 = spark.createDataFrame(mutated, "vec_id BIGINT, embedding ARRAY<DOUBLE>")
    assert seeded_centroids(emb2, 4) == cents  # same count, same centroids
    fp1 = _ivf_index_fingerprint(emb1, cents)
    fp2 = _ivf_index_fingerprint(emb2, cents)
    assert fp1 != fp2
    # and the key is deterministic for identical content
    assert fp1 == _ivf_index_fingerprint(emb1, cents)


def test_ivf_indexed_serve_memoizes_the_fingerprint(spark, sf_dir):
    """Repeat serves must not pay a corpus-wide scan to key the index
    cache — the fingerprint is computed once per corpus per process
    (the _IVF_INDEX memo)."""
    from ecommerce_dataengineering_project_spark.queries import ext_similarity as xs

    xs._IVF_INDEX.pop(sf_dir, None)
    calls = {"n": 0}
    real = xs._ivf_index_fingerprint

    def counting(emb, cents, *a, **kw):
        calls["n"] += 1
        return real(emb, cents, *a, **kw)

    xs._ivf_index_fingerprint = counting
    try:
        xs.q_ann_ivf_indexed(spark, sf_dir).collect()
        xs.q_ann_ivf_indexed(spark, sf_dir).collect()
    finally:
        xs._ivf_index_fingerprint = real
    assert calls["n"] == 1


def test_benchmark_contamination_refuses_string_ids(spark):
    # ADVICE r12 + r13: the max(struct(cos, -id)) tie-break and the
    # bigint nearest_eval_id column need an integral BENCHMARK id —
    # string/UUID benchmark ids must fail fast with a targeted error,
    # not at analysis time. The CORPUS id is a pass-through groupBy
    # key (never negated, emitted in its own type), so a string corpus
    # id is legal and must WORK — the ADVICE r13 narrowing: the large,
    # expensive-to-re-key side keeps its natural keys.
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        benchmark_contamination,
    )

    num = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    str_ids = spark.createDataFrame(
        [("u-1", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    with pytest.raises(TypeError, match="integral BENCHMARK id_col"):
        benchmark_contamination(num, str_ids)
    rows = benchmark_contamination(str_ids, num, threshold=0.9).collect()
    assert [(r["vec_id"], r["nearest_eval_id"], r["is_contaminated"]) for r in rows] == [
        ("u-1", 1, True)
    ]


def test_filtered_topk_pushes_predicate_and_filters_neighbors(spark, sf_dir):
    """ann_filtered_topk (r13): the label predicate must (a) reach the
    embeddings parquet scan as a pushed filter — survivors are the
    only rows scored — and (b) hold on every returned neighbor, with
    ranks dense per query."""
    from ecommerce_dataengineering_project_spark.queries.ext_similarity import (
        FILTER_LABEL,
        TOP_K,
        q_ann_filtered_topk,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    out = q_ann_filtered_topk(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert f"EqualTo(label,{FILTER_LABEL})" in plan, plan[:2000]
    rows = out.collect()
    labels = {
        r.vec_id: r.label
        for r in load_table(spark, sf_dir, "embeddings").select("vec_id", "label").collect()
    }
    assert rows
    by_q: dict = {}
    for r in rows:
        assert labels[r.neighbor_id] == FILTER_LABEL
        by_q.setdefault(r.query_id, []).append(r.rank)
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, min(TOP_K, len(ranks)) + 1)), q


def test_semantic_dedup_incremental_semantics(spark):
    """Incremental SemDeDup (r13): history vetoes at any id, batch
    vetoes at smaller ids only, cross-cell near-dups survive (the
    SemDeDup recall trade), and the conservative rule is at least as
    strict as batch semantic_dedup on the fused corpus for batch rows."""
    from ecommerce_dataengineering_project_spark.operators.dedup import (
        semantic_cell_index,
        semantic_dedup,
        semantic_dedup_incremental,
    )

    c0 = [1.0, 0.0, 0.0, 0.0]
    c1 = [0.0, 1.0, 0.0, 0.0]
    hist_rows = [(0, c0), (2, [0.98, 0.02, 0.0, 0.0])]
    new_rows = [
        (1, [0.99, 0.01, 0.0, 0.0]),   # near-dup of history 0 -> dropped
        (3, c1),                        # novel -> kept
        (5, [0.01, 0.99, 0.0, 0.0]),   # near-dup of batch 3 (smaller id) -> dropped
        (7, [0.0, 0.0, 1.0, 0.0]),     # c0 cell but orthogonal -> kept
    ]
    schema = "vec_id bigint, embedding array<double>"
    hist = spark.createDataFrame(hist_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    out = {
        r.vec_id: r
        for r in semantic_dedup_incremental(
            new, semantic_cell_index(hist, [c0, c1]), [c0, c1], threshold=0.9
        ).collect()
    }
    assert set(out) == {1, 3, 5, 7}  # history rows never re-deduped
    assert not out[1].keep and out[1].n_history_hits == 2 and out[1].n_batch_hits == 0
    assert out[3].keep
    assert not out[5].keep and out[5].n_batch_hits == 1 and out[5].n_history_hits == 0
    assert out[7].keep and out[7].cell == out[1].cell
    # conservative-rule anchor: every batch row the FUSED batch dedup
    # keeps whose smaller-id neighbors are all history-independent is
    # also kept here; and anything fused dedup drops for a smaller-id
    # reason is dropped here too (history can only ADD vetoes)
    fused = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(hist.union(new), [c0, c1], threshold=0.9).collect()
    }
    for vid, r in out.items():
        if not fused[vid]:
            assert not r.keep, vid


def test_semantic_dedup_incremental_accepts_what_history_allows(spark, sf_dir):
    """Fixture anchor: on the embeddings table (even=history, odd=new)
    the incremental keep-set equals the direct SQL-style recompute —
    already hash-checked by the oracle — and re-running the SAME batch
    against history ∪ kept-batch drops every previously-kept row
    (idempotence of acceptance: a kept vector is its own history hit)."""
    from ecommerce_dataengineering_project_spark.operators.dedup import (
        semantic_cell_index,
        semantic_dedup_incremental,
    )
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        seeded_centroids,
        suggest_n_cells,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_dedup import (
        COSINE_THRESHOLD,
        SEM_CELL_CLAMP,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    hist = emb.where(F.col("vec_id") % 2 == 0)
    new = emb.where(F.col("vec_id") % 2 != 0)
    lo, hi = SEM_CELL_CLAMP
    cents = seeded_centroids(hist, suggest_n_cells(hist.count(), lo, hi))
    idx = semantic_cell_index(hist, cents)
    first = semantic_dedup_incremental(new, idx, cents, threshold=COSINE_THRESHOLD)
    kept_ids = [r.vec_id for r in first.where("keep").collect()]
    assert kept_ids
    kept_index = semantic_cell_index(
        emb.where(F.col("vec_id").isin(kept_ids)), cents
    )
    second = semantic_dedup_incremental(
        new, idx.union(kept_index), cents, threshold=COSINE_THRESHOLD
    )
    gained = {r.vec_id: r for r in second.collect()}
    for vid in kept_ids:
        assert not gained[vid].keep  # now a history hit of itself
        assert gained[vid].n_history_hits >= 1


def test_ivf_index_append_serves_identically_to_full_build(spark, sf_dir, tmp_path):
    """Index lifecycle (r14): build on half the corpus, APPEND the
    other half with the frozen centroids, and serving must be
    bit-identical to a from-scratch build over the whole corpus —
    same assignment fold, same stored norms, just more files per cell
    directory. This is what makes index maintenance affordable at
    100 TB: appends cost (batch assignment + batch write), re-centers
    are a deliberate, drift-triggered event."""
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_topk_indexed,
        seeded_centroids,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_similarity import (
        N_CELLS,
        N_PROBE,
        _queries_df,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seeded_centroids(emb, N_CELLS)
    full, grown = str(tmp_path / "full"), str(tmp_path / "grown")
    build_ivf_index(emb, cents, full)
    build_ivf_index(emb.where(F.col("vec_id") % 2 == 0), cents, grown)
    ivf_index_append(emb.where(F.col("vec_id") % 2 != 0), cents, grown)
    q = _queries_df(spark, sf_dir)
    served_full = sorted(
        map(tuple, ivf_topk_indexed(spark, q, full, cents, k=TOP_K, n_probe=N_PROBE).collect())
    )
    served_grown = sorted(
        map(tuple, ivf_topk_indexed(spark, q, grown, cents, k=TOP_K, n_probe=N_PROBE).collect())
    )
    assert served_full == served_grown


def test_quantizer_drift_flags_the_drifted_cell(spark):
    """Semantics pin for the staleness monitor: vectors near their
    centroid report ~0 distance; a cell absorbing far-away appends
    reports the growth. Constructed: centroid axes e0/e1; residents on
    the axes (dist² 0), then appends near e1 at distance d — cell 1's
    mean rises by exactly the appended mass while cell 0 is
    untouched."""
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        quantizer_drift,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    schema = "vec_id bigint, embedding array<double>"
    resident = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], schema
    )
    base = {
        r["cell"]: (r["n_vectors"], r["avg_dist2"], r["max_dist2"])
        for r in quantizer_drift(resident, cents).collect()
    }
    assert base == {0: (1, 0.0, 0.0), 1: (1, 0.0, 0.0)}
    grown = resident.unionByName(
        spark.createDataFrame([(2, [0.3, 1.0]), (3, [0.5, 1.0])], schema)
    )
    after = {
        r["cell"]: (r["n_vectors"], r["avg_dist2"], r["max_dist2"])
        for r in quantizer_drift(grown, cents).collect()
    }
    assert after[0] == (1, 0.0, 0.0)  # undrifted cell untouched
    n, avg, mx = after[1]
    assert n == 3
    # dist² of [0.3,1] and [0.5,1] to e1 are 0.09 and 0.25; the report
    # rounds half-up at 1e-6, so compare at that granularity
    assert abs(avg - (0.0 + 0.09 + 0.25) / 3) <= 5e-7
    assert abs(mx - 0.25) <= 5e-7


def _mk_index(spark, tmp_path, rows, cents, name="idx", meta=()):
    schema = "vec_id bigint, embedding array<double>" + (
        ", " + ", ".join(f"{m} int" for m in meta) if meta else ""
    )
    from ecommerce_dataengineering_project_spark.operators.similarity import build_ivf_index

    path = str(tmp_path / name)
    build_ivf_index(
        spark.createDataFrame(rows, schema), cents, path, meta_cols=tuple(meta)
    )
    return path


def test_ivf_append_rejects_foreign_centroids_and_meta(spark, tmp_path):
    """Fail-fast gates on the append verb (r14 ADVICE): an append under
    re-fitted centroids would silently re-cell the residents, and an
    append with a different meta_cols tuple would write mixed-schema
    files whose missing column makes filtered serving silently drop the
    appended vectors — both must refuse loudly, not degrade recall."""
    import pytest

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        ivf_index_append,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    path = _mk_index(
        spark, tmp_path, [(0, [1.0, 0.1], 1), (1, [0.1, 1.0], 2)], cents, meta=("label",)
    )
    batch = spark.createDataFrame(
        [(2, [0.9, 0.0], 3)], "vec_id bigint, embedding array<double>, label int"
    )
    with pytest.raises(ValueError, match="quantizer mismatch"):
        ivf_index_append(batch, [[0.5, 0.5], [0.0, 1.0]], path, meta_cols=("label",))
    with pytest.raises(ValueError, match="meta-column mismatch"):
        ivf_index_append(batch, cents, path, meta_cols=())
    ivf_index_append(batch, cents, path, meta_cols=("label",))  # matching: OK


def test_ivf_append_compaction_bounds_files_serving_identical(spark, sf_dir, tmp_path):
    """The small-file hygiene hook (VERDICT r14 item 4): every append
    adds >=1 file per touched cell; with max_files_per_cell set, hot
    cells bin-pack back down to the threshold and served results stay
    value-identical. Probe-scan cost tracks file count at 100 TB, so
    an append-only deployment needs exactly this dial."""
    import glob
    import os

    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_topk_indexed,
        seeded_centroids,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_similarity import (
        N_CELLS,
        N_PROBE,
        _queries_df,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seeded_centroids(emb, N_CELLS)
    loose, packed = str(tmp_path / "loose"), str(tmp_path / "packed")
    for path, cap in ((loose, None), (packed, 1)):
        build_ivf_index(emb.where(F.col("vec_id") % 3 == 0), cents, path)
        for rem in (1, 2):  # two appends -> up to 3 files per cell
            ivf_index_append(
                emb.where(F.col("vec_id") % 3 == rem), cents, path,
                max_files_per_cell=cap,
            )
    max_files = max(
        len(glob.glob(os.path.join(d, "*.parquet")))
        for d in glob.glob(os.path.join(packed, "cell=*"))
    )
    assert max_files <= 1, f"compaction left {max_files} files in a cell"
    q = _queries_df(spark, sf_dir)
    a = sorted(map(tuple, ivf_topk_indexed(spark, q, loose, cents, n_probe=N_PROBE).collect()))
    b = sorted(map(tuple, ivf_topk_indexed(spark, q, packed, cents, n_probe=N_PROBE).collect()))
    assert a == b


def test_ivf_recenter_no_movers_touches_no_files_and_bumps_version(spark, tmp_path):
    """Re-center semantics pin, the quiet case: tight clusters whose
    flagged centroid moves WITHOUT changing any membership must leave
    every data file byte-identical (the rewrite set is membership
    changes, not flagged cells) while still bumping the quantizer
    manifest — after which serving with the pre-re-center centroids
    must refuse (the staleness contract)."""
    import glob
    import os

    import pytest

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        ivf_recenter,
        ivf_topk_indexed,
        read_quantizer_manifest,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    rows = [
        (0, [1.0, 0.0]), (1, [0.9, 0.05]),
        (2, [0.0, 1.0]), (3, [0.1, 0.95]), (4, [0.2, 0.9]),
    ]
    path = _mk_index(spark, tmp_path, rows, cents)
    snap = {
        f: (os.path.getsize(f), open(f, "rb").read())
        for f in glob.glob(os.path.join(path, "cell=*", "*.parquet"))
    }
    new_cents, stats = ivf_recenter(spark, path, cents, [1])
    assert stats["moved"] == 0 and stats["rewritten_cells"] == []
    assert read_quantizer_manifest(path)["version"] == 2
    for f, (size, blob) in snap.items():
        assert os.path.getsize(f) == size and open(f, "rb").read() == blob
    # cell 1's centroid moved to the fixed-point mean of its members
    assert new_cents[0] == cents[0]
    exp = [(0.0 + 0.1 + 0.2) / 3, (1.0 + 0.95 + 0.9) / 3]
    assert all(abs(a - b) <= 1e-6 for a, b in zip(new_cents[1], exp))
    q = spark.createDataFrame([(100, [0.0, 1.0])], "vec_id bigint, embedding array<double>")
    with pytest.raises(ValueError, match="stale quantizer"):
        ivf_topk_indexed(spark, q, path, cents, k=2, n_probe=1)
    assert ivf_topk_indexed(spark, q, path, new_cents, k=2, n_probe=2).count() > 0


def test_ivf_recenter_serving_equivalent_to_full_rebuild(spark, sf_dir, tmp_path):
    """The re-center contract at corpus scale: after recentering the
    flagged cells IN PLACE (movers migrate directories, manifest bumps),
    serving must be bit-identical to a from-scratch build_ivf_index
    under the re-centered centroid set — same assignment fold, same
    stored norms, only the maintenance path differs."""
    import shutil

    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        build_ivf_index,
        ivf_recenter,
        ivf_topk_indexed,
        quantizer_drift,
        seeded_centroids,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_similarity import (
        DRIFT_TOP_CELLS,
        N_CELLS,
        N_PROBE,
        _queries_df,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seeded_centroids(emb, N_CELLS)
    lived = str(tmp_path / "lived")
    build_ivf_index(emb, cents, lived)
    report = quantizer_drift(
        spark.read.parquet(lived), cents, id_col="neighbor_id", vec_col="cv"
    )
    flagged = [
        r["cell"]
        for r in report.orderBy(F.col("avg_dist2").desc(), F.col("cell").asc())
        .limit(DRIFT_TOP_CELLS)
        .collect()
    ]
    new_cents, stats = ivf_recenter(spark, lived, cents, flagged)
    fresh = str(tmp_path / "fresh")
    build_ivf_index(emb, new_cents, fresh)
    q = _queries_df(spark, sf_dir)
    a = sorted(map(tuple, ivf_topk_indexed(spark, q, lived, new_cents, n_probe=N_PROBE).collect()))
    b = sorted(map(tuple, ivf_topk_indexed(spark, q, fresh, new_cents, n_probe=N_PROBE).collect()))
    assert a == b
    # the in-place index's stored cells equal the fresh assignment
    lv = spark.read.parquet(lived).select("neighbor_id", "cell")
    fr = spark.read.parquet(fresh).select("neighbor_id", "cell")
    assert lv.exceptAll(fr).count() == 0 and fr.exceptAll(lv).count() == 0
    shutil.rmtree(lived)


def test_ivf_lifecycle_recenter_recovers_recall(spark, tmp_path):
    """The capstone semantic pin for the lifecycle: re-centering must
    actually RECOVER RECALL, which is the only reason the verb exists.
    Constructed: residents cluster around two axis centroids; appends
    land as a third, distant cluster the frozen quantizer crams into
    whichever cell is nearest (drift). Queries aimed at the appended
    cluster then under-recall at n_probe=1 — the probed cell is picked
    by a centroid that does not represent the cluster. The drift
    report flags the absorbing cell (top mean dist²), ivf_recenter
    moves its centroid into the appended mass, and the SAME
    n_probe=1 serve must then recall strictly more of the exact
    neighbors. Monitor → re-center → measurable recall recovery,
    end to end on the persisted index."""
    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_index_append,
        ivf_recenter,
        ivf_topk_indexed,
        quantizer_drift,
    )

    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0]]
    residents = [(i, [1.0 - 0.01 * i, 0.01 * i, 0.0]) for i in range(8)] + [
        (10 + i, [0.01 * i, 1.0 - 0.01 * i, 0.0]) for i in range(8)
    ]
    # the drifted ingest: a tight cluster far from both centroids,
    # straddling their midplane so the frozen quantizer SPLITS it
    # between the two cells — that split is exactly what makes
    # n_probe=1 under-recall until a re-center gives the cluster a
    # representative centroid of its own cell
    appended = [
        (100 + i, [0.3 + d, 0.3 - d, 1.0 - 0.005 * i])
        for i in range(10)
        for d in [0.02 if i % 2 == 0 else -0.02]
    ]
    schema = "vec_id bigint, embedding array<double>"
    path = str(tmp_path / "idx")
    build_ivf_index(spark.createDataFrame(residents, schema), cents, path)
    ivf_index_append(spark.createDataFrame(appended, schema), cents, path)

    corpus = spark.createDataFrame(residents + appended, schema)
    queries = spark.createDataFrame([(999, [0.3, 0.3, 1.0])], schema)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(queries, corpus, k=5).collect()
    }

    def recall(cents_now):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk_indexed(
                spark, queries, path, cents_now, k=5, n_probe=1
            ).collect()
        }
        return len(got & exact) / len(exact)

    before = recall(cents)
    report = quantizer_drift(
        spark.read.parquet(path), cents, id_col="neighbor_id", vec_col="cv"
    )
    flagged = [
        r["cell"]
        for r in report.orderBy(F.col("avg_dist2").desc(), F.col("cell").asc())
        .limit(1)
        .collect()
    ]
    new_cents, stats = ivf_recenter(spark, path, cents, flagged)
    after = recall(new_cents)
    assert after > before, f"recall {before:.2f} -> {after:.2f} did not recover"
    assert after == 1.0  # the re-centered cell now owns the cluster


def test_ivf_split_cell_serving_equivalent_and_ids_stable(spark, sf_dir, tmp_path):
    """Split contract: after splitting the hottest cell in place,
    (a) serving under the grown centroid set is bit-identical to a
    from-scratch build with the same centroids, (b) the split cell's
    occupancy strictly drops while every OTHER pre-existing cell id
    keeps its identity (no renumbering — directories stay addressable),
    and (c) the old centroid set can no longer serve (manifest bump)."""
    import pytest
    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        build_ivf_index,
        ivf_split_cell,
        ivf_topk_indexed,
        seeded_centroids,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_similarity import (
        N_CELLS,
        N_PROBE,
        _queries_df,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seeded_centroids(emb, N_CELLS)
    lived = str(tmp_path / "lived")
    build_ivf_index(emb, cents, lived)
    occ = {
        r["cell"]: r["n"]
        for r in spark.read.parquet(lived).groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    hot = max(occ, key=lambda c: (occ[c], -c))
    new_cents, stats = ivf_split_cell(spark, lived, cents, hot)
    assert len(new_cents) == N_CELLS + 1
    # unchanged ids keep their centroids — no renumbering
    assert all(
        new_cents[i] == [float(x) for x in cents[i]]
        for i in range(N_CELLS)
        if i != hot
    )
    occ2 = {
        r["cell"]: r["n"]
        for r in spark.read.parquet(lived).groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert occ2[hot] < occ[hot]  # the hot cell actually shed members
    assert occ2.get(N_CELLS, 0) > 0  # the child exists and owns rows
    fresh = str(tmp_path / "fresh")
    build_ivf_index(emb, new_cents, fresh)
    q = _queries_df(spark, sf_dir)
    a = sorted(map(tuple, ivf_topk_indexed(spark, q, lived, new_cents, n_probe=N_PROBE).collect()))
    b = sorted(map(tuple, ivf_topk_indexed(spark, q, fresh, new_cents, n_probe=N_PROBE).collect()))
    assert a == b
    with pytest.raises(ValueError, match="stale quantizer"):
        ivf_topk_indexed(spark, q, lived, cents, n_probe=N_PROBE)


def test_ivf_split_cell_refuses_underpopulated_cell(spark, tmp_path):
    """A cell with fewer members than requested children cannot split
    — refuse loudly rather than emit duplicate/missing centroids."""
    import pytest

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        ivf_split_cell,
    )

    cents = [[1.0, 0.0], [0.0, 1.0]]
    path = _mk_index(
        spark, tmp_path, [(0, [1.0, 0.0]), (1, [0.0, 1.0])], cents
    )
    with pytest.raises(ValueError, match="cannot split"):
        ivf_split_cell(spark, path, cents, 0, n_children=2)


def test_ivf_lifecycle_soak_serving_invariant_across_verbs(spark, sf_dir, tmp_path):
    """Multi-cycle ops soak over ONE lived-in index: build on a third
    of the corpus, append the rest in two compacted batches, then
    re-center the most-drifted cells, then split the hottest cell.
    After EVERY mutation the lived index must serve bit-identically to
    a from-scratch build over the same corpus under the current
    centroid set, and the quantizer manifest must bump exactly on the
    centroid-changing verbs (appends keep the frozen set). This is the
    sequence a production deployment actually runs for months; the
    invariant is what makes the maintenance verbs safe to run blind."""
    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.operators.similarity import (
        build_ivf_index,
        ivf_index_append,
        ivf_recenter,
        ivf_split_cell,
        ivf_topk_indexed,
        quantizer_drift,
        read_quantizer_manifest,
        seeded_centroids,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_similarity import (
        N_CELLS,
        N_PROBE,
        _queries_df,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seeded_centroids(emb, N_CELLS)
    lived = str(tmp_path / "lived")
    q = _queries_df(spark, sf_dir)

    def assert_serves_like_fresh(cents_now, tag):
        fresh = str(tmp_path / f"fresh_{tag}")
        build_ivf_index(emb, cents_now, fresh)
        a = sorted(map(tuple, ivf_topk_indexed(spark, q, lived, cents_now, n_probe=N_PROBE).collect()))
        b = sorted(map(tuple, ivf_topk_indexed(spark, q, fresh, cents_now, n_probe=N_PROBE).collect()))
        assert a == b, f"serving diverged from fresh build after {tag}"

    build_ivf_index(emb.where(F.col("vec_id") % 3 == 0), cents, lived)
    assert read_quantizer_manifest(lived)["version"] == 1
    for rem in (1, 2):
        ivf_index_append(
            emb.where(F.col("vec_id") % 3 == rem), cents, lived, max_files_per_cell=1
        )
        assert read_quantizer_manifest(lived)["version"] == 1  # frozen set kept
    assert_serves_like_fresh(cents, "appends")

    report = quantizer_drift(
        spark.read.parquet(lived), cents, id_col="neighbor_id", vec_col="cv"
    )
    flagged = [
        r["cell"]
        for r in report.orderBy(F.col("avg_dist2").desc(), F.col("cell").asc())
        .limit(2)
        .collect()
    ]
    cents2, _ = ivf_recenter(spark, lived, cents, flagged)
    assert read_quantizer_manifest(lived)["version"] == 2
    assert_serves_like_fresh(cents2, "recenter")

    occ = {
        r["cell"]: r["n"]
        for r in spark.read.parquet(lived).groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    hot = max(occ, key=lambda c: (occ[c], -c))
    cents3, _ = ivf_split_cell(spark, lived, cents2, hot)
    assert read_quantizer_manifest(lived)["version"] == 3
    assert len(cents3) == len(cents2) + 1
    assert_serves_like_fresh(cents3, "split")
