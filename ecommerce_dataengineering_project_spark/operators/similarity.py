"""Similarity search over embedding columns (SURVEY §2k X3).

- ``cosine`` / ``brute_force_topk``: the exact baseline. Dot products
  run as JVM higher-order functions (zip_with + sequential aggregate
  fold), so summation order is deterministic and oracle-checkable.
- ``lsh_bucket`` / ``lsh_topk``: the scale path — random-hyperplane
  LSH (Charikar '02). Hyperplane coefficients are derived from sha-256
  so they are plain literals: the bucketing is reproducible on any
  engine and needs no stored model. At 100 TB: bucket assignment is a
  narrow map-only pass; search shuffles only within the probed bucket
  instead of broadcasting the full corpus.

Queries-side note: scoring K query vectors against N corpus vectors is
expressed as broadcast(queries) x corpus — the corpus never shuffles.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.functions.scalars import round_half_up


def _fold_sum(arr: Column) -> Column:
    """Sequential left-fold sum of an array<double> (deterministic
    order; matches a SQL list_reduce oracle bit-for-bit)."""
    return F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x)


def _at(name: str, i: int, cast: bool) -> str:
    e = f"element_at(`{name}`, {i})"
    return f"CAST({e} AS DOUBLE)" if cast else e


def _dot_sql(a: str, b: str, dim: int, cast: bool) -> str:
    terms = " + ".join(f"{_at(a, i, cast)} * {_at(b, i, cast)}" for i in range(1, dim + 1))
    return f"(0.0D + {terms})"


def _norm_sql(a: str, dim: int, cast: bool) -> str:
    terms = " + ".join(f"{_at(a, i, cast)} * {_at(a, i, cast)}" for i in range(1, dim + 1))
    return f"SQRT(0.0D + {terms})"


def dot(
    a: Column | str, b: Column | str, dim: int | None = None, cast: bool = False
) -> Column:
    """Dot product. With ``dim`` known (pass column NAMES, not Columns),
    the sum is unrolled into a left-associated
    ``a[1]*b[1] + ... + a[d]*b[d]`` expression — the SAME IEEE-754
    evaluation order as the sequential fold (bit-identical result).
    The unrolled tree is built as ONE ``F.expr`` SQL string:
    constructing it Column-by-Column costs thousands of py4j round
    trips before Spark ever sees the plan.

    Choose by context, values are identical either way: the unrolled
    form avoids HOF/array re-materialization when composed over
    narrow source columns (bucket assignment, per-row norms); on a
    high-volume pair loop the FOLD (dim=None) is measurably faster —
    a 129-term generated method exceeds the JIT huge-method limit and
    deoptimizes to interpreted bytecode (see dedup.py).

    ``cast=True`` casts each ELEMENT to double at extraction — use it
    when the input is an un-materialized float array: wrapping the
    array in ``transform(.., cast)`` and then unrolling would
    re-materialize the whole casted array once per term after
    projection collapse."""
    if dim is None:
        ad = as_double(a) if cast else a
        bd = as_double(b) if cast else b
        return _fold_sum(F.zip_with(ad, bd, lambda x, y: x * y))
    assert isinstance(a, str) and isinstance(b, str), "unrolled dot takes column names"
    return F.expr(_dot_sql(a, b, dim, cast))


def norm(a: Column | str, dim: int | None = None, cast: bool = False) -> Column:
    if dim is None:
        ad = as_double(a) if cast else a
        return F.sqrt(_fold_sum(F.transform(ad, lambda x: x * x)))
    assert isinstance(a, str), "unrolled norm takes a column name"
    return F.expr(_norm_sql(a, dim, cast))


def as_double(a: Column | str) -> Column:
    a = F.col(a) if isinstance(a, str) else a
    return F.transform(a, lambda x: x.cast("double"))


def cosine(a: Column | str, b: Column | str, dim: int | None = None) -> Column:
    """Cosine similarity of two array<float|double> columns, computed
    in double precision (element-wise casts; bit-identical to casting
    the arrays first)."""
    if dim is None:
        return dot(a, b, cast=True) / (norm(a, cast=True) * norm(b, cast=True))
    assert isinstance(a, str) and isinstance(b, str)
    return F.expr(
        f"{_dot_sql(a, b, dim, True)} / ({_norm_sql(a, dim, True)} * {_norm_sql(b, dim, True)})"
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors for each query vector.

    queries is broadcast (K rows), corpus streams through map-side —
    no corpus shuffle; the only shuffle is the per-query top-k window
    over K*N scored rows, bounded by the window partition count K.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        round_half_up(cosine("qv", "cv", dim), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def filtered_topk(
    queries: DataFrame,
    corpus: DataFrame,
    predicate: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int | None = None,
) -> DataFrame:
    """Metadata-FILTERED exact top-k: each query's nearest neighbors
    among only the corpus rows satisfying ``predicate`` — filtered
    vector search ("top-k among label=3 docs"), the retrieval shape
    every RAG/eval pipeline needs beside unfiltered ANN.

    The predicate applies to the corpus BELOW the broadcast scoring
    join, so Catalyst pushes it into the parquet scan (PushedFilters —
    plan-pinned in tests/test_similarity.py): non-matching row groups
    are skipped and the n·K cosine loop runs over SURVIVORS only.
    Exact recall at cost n_filtered·K.

    Why pre-filter and not probe-then-filter: composing IVF probing
    with a post-filter loses recall precisely when the filter is
    selective — survivors may all live outside the probed cells (the
    classic filtered-ANN trap). At 100 TB, make the filter free
    instead: partition or z-order the corpus ON the filter columns so
    the pushed predicate prunes FILES, then serve cells within the
    surviving partitions — the `ann_ivf_indexed` + layout composition
    this repo already ships. Post-filtering a probed candidate set is
    only right for near-unselective predicates; it needs k/selectivity
    over-probing to hold recall, which stops paying exactly when
    pre-filtering starts being cheap.
    """
    return brute_force_topk(
        queries, corpus.where(predicate), id_col=id_col, vec_col=vec_col,
        k=k, dim=dim,
    )


def benchmark_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.8,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic sibling
    of the verbatim n-gram check (operators/text.py decontaminate):
    flag corpus vectors whose max cosine against ANY benchmark/eval
    vector clears ``threshold``. Paraphrased eval answers share no
    n-grams but sit next to the eval set in embedding space; training
    pipelines run BOTH gates before a corpus ships.

    Scale shape: eval sets are benchmark-sized (a constant m — MBs of
    embeddings) against a TB corpus, so the benchmark side BROADCASTS
    and scoring is a map-side BroadcastNestedLoopJoin — the corpus is
    never shuffled; the per-doc max/argmax runs map-side as partial
    aggregation before one corpus-id exchange. Cost is n*m cosines
    with m constant: linear in the corpus. For eval suites large
    enough that n*m stings, assign BOTH sides IVF cells (nearest_cells)
    and score within probed cells only — the same crossover
    dedup_embedding_cosine documents.

    Determinism: cosines round half-up at 1e-6 (the repo's portable
    float policy); the nearest eval id breaks cosine ties by SMALLEST
    id via max(struct(cos, -id)) — identical to the oracle's
    (cos DESC, id ASC) row_number pick. That negate-and-max tie-break
    (and the bigint output column) REQUIRES an integral BENCHMARK
    ``id_col``; string/UUID benchmark ids fail fast below with a
    targeted error — re-key such ids upstream (e.g. ``xxhash64``/
    ``monotonically_increasing_id``), or swap the pick for a
    row_number window over (cos DESC, id ASC), which orders any type
    but adds a per-corpus-id sort this map-side agg avoids (ADVICE
    r12). The CORPUS id is never negated — it rides through as a
    groupBy key in its own type — so string/UUID corpus ids (the
    large, expensive-to-re-key side) are accepted as-is (ADVICE r13
    narrowed the check to the benchmark frame only).

    Edge semantics: every output row carries a real nearest neighbor,
    so an EMPTY benchmark yields an EMPTY relation (there is no max
    cosine to report), not an all-false flag column — callers gating a
    corpus on the flag should treat "no eval set" upstream.
    """
    _INTEGRAL = ("tinyint", "smallint", "int", "bigint")
    bench_id_type = dict(benchmark.dtypes).get(id_col)
    if bench_id_type not in _INTEGRAL:
        raise TypeError(
            f"benchmark_contamination requires an integral BENCHMARK id_col "
            f"for the max(struct(cos, -id)) tie-break; benchmark.{id_col} is "
            f"{bench_id_type!r} — re-key to a long (xxhash64 / "
            f"monotonically_increasing_id) upstream (corpus ids pass through "
            f"untyped and may be string/UUID)"
        )
    # Norms are per-VECTOR, so compute them once per side before the
    # pair join — inside the cosine they would be re-evaluated per
    # PAIR, tripling the flops of the n*m scoring loop (measured
    # 6.2 s -> ~2 s at sf0.1). Same float values, same op order as the
    # oracle's nrm CTE, so parity is unaffected.
    c = corpus.select(
        F.col(id_col).alias("cid"),
        F.col(vec_col).alias("cv"),
        norm(F.col(vec_col), dim=None, cast=True).alias("cn")
        if dim is None
        else F.expr(_norm_sql(vec_col, dim, True)).alias("cn"),
    )
    # A small single-file corpus scans as ONE partition and would score
    # all n*m pairs in one task (semantic_dedup's observation). Round-
    # robin only when the scan is narrower than the session — at lake
    # scale the scan already has more partitions than cores.
    par = corpus.sparkSession.sparkContext.defaultParallelism
    if c.rdd.getNumPartitions() < par:
        c = c.repartition(par)
    b = benchmark.select(
        F.col(id_col).alias("bid"),
        F.col(vec_col).alias("bv"),
        norm(F.col(vec_col), dim=None, cast=True).alias("bn")
        if dim is None
        else F.expr(_norm_sql(vec_col, dim, True)).alias("bn"),
    )
    dot_col = (
        dot("cv", "bv", cast=True)
        if dim is None
        else F.expr(_dot_sql("cv", "bv", dim, True))
    )
    scored = c.crossJoin(F.broadcast(b)).select(
        "cid",
        "bid",
        round_half_up(dot_col / (F.col("cn") * F.col("bn")), 6).alias("cos"),
    )
    best = scored.groupBy("cid").agg(
        F.max(
            F.struct(F.col("cos").alias("c"), (-F.col("bid")).alias("nb"))
        ).alias("m")
    )
    return best.select(
        F.col("cid").alias(id_col),
        F.col("m.c").alias("max_eval_cosine"),
        (-F.col("m.nb")).cast("bigint").alias("nearest_eval_id"),
        (F.col("m.c") >= F.lit(threshold)).alias("is_contaminated"),
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric int8 quantization per vector: ``scale = max|v|/127``,
    ``q_i = floor(v_i/scale + 0.5)`` (round-half-up — the repo's
    engine-portable rounding; an all-zero vector quantizes to zeros
    with scale 0). 4x storage shrink for a 100 TB embedding corpus and
    int8-dot rescoring downstream; reconstruction error is bounded by
    scale/2 per element (pinned in tests). Map-only — no shuffle, no
    Python."""
    vd = as_double(F.col(vec_col))
    scale = F.array_max(F.transform(vd, lambda x: F.abs(x))) / F.lit(127.0)
    q = F.when(
        F.col("q_scale") == 0.0,
        F.transform(F.col("__vd"), lambda x: F.lit(0)),
    ).otherwise(
        F.transform(
            F.col("__vd"),
            lambda x: F.floor(x / F.col("q_scale") + F.lit(0.5)).cast("int"),
        )
    )
    return (
        df.withColumn("__vd", vd)
        .withColumn("q_scale", scale)
        .withColumn("q_vec", q)
        .drop("__vd")
    )


NUM_PLANES = 8


def hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: coefficient (j, d) is a
    sha-256-derived value in [-1, 1). Pure data — identical literals
    in engine code and oracle SQL."""
    coeffs = []
    for d in range(dim):
        h = hashlib.sha256(f"plane_{plane}_dim_{d}".encode()).hexdigest()
        coeffs.append(((int(h[:15], 16) % 2001) - 1000) / 1000.0)
    return coeffs


def projection_coeffs(j: int, dim: int) -> list[float]:
    """Deterministic pseudo-random projection row j: sha-256-derived
    values in [-1, 1), namespaced apart from ``hyperplane`` so the JL
    projection and the LSH planes never share coefficients. Pure data —
    identical literals in engine code and oracle SQL."""
    coeffs = []
    for d in range(dim):
        h = hashlib.sha256(f"proj_{j}_dim_{d}".encode()).hexdigest()
        coeffs.append(((int(h[:15], 16) % 2001) - 1000) / 1000.0)
    return coeffs


def project_embeddings(
    df: DataFrame,
    dim: int,
    k: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection dim -> k: each output
    coordinate is a dot product against a deterministic sha-derived
    row (``projection_coeffs``), rounded half-up at 1e-6 so the doubles
    hash-match any IEEE-754 engine. The cheap first stage before
    clustering / ANN / near-dup when the source embedding is wide:
    distances are preserved within (1±eps) at k = O(log n / eps^2),
    and downstream operators (semantic_dedup, IVF, LSH) run on k dims
    instead of dim.

    Scale shape: MAP-ONLY — k unrolled multiply-add chains appended to
    the scan inside one codegen stage (k*dim terms — 8x64 at the
    registered query's config; small enough for JIT, see SCALE.md on
    the fold-vs-unroll cutover). No
    shuffle, no Python, parallelizes with the input partitioning.
    """
    cols = [F.col(id_col)]
    for j in range(k):
        coeffs = projection_coeffs(j, dim)
        dot_txt = " + ".join(
            f"CAST(element_at(`{vec_col}`, {i + 1}) AS DOUBLE) * {coeffs[i]!r}D"
            for i in range(dim)
        )
        cols.append(
            # double literals (D suffix): bare 1000000.0 is DECIMAL in
            # Spark SQL and would promote the whole chain to decimal
            F.expr(
                f"FLOOR((0.0D + {dot_txt}) * 1000000.0D + 0.5D) / 1000000.0D"
            ).alias(f"p{j}")
        )
    return df.select(*cols)


def lsh_bucket(vec: str, dim: int, num_planes: int = NUM_PLANES) -> Column:
    """Sign-bit bucket id for a named vector column:
    bit j = (vec . plane_j) >= 0. Plane coefficients are inlined as
    double literals in one F.expr string (see dot() on why)."""
    parts = []
    for j in range(num_planes):
        coeffs = hyperplane(j, dim)
        dot_txt = " + ".join(
            f"CAST(element_at(`{vec}`, {i + 1}) AS DOUBLE) * {coeffs[i]!r}D"
            for i in range(dim)
        )
        parts.append(f"CASE WHEN (0.0D + {dot_txt}) >= 0.0D THEN {1 << j} ELSE 0 END")
    return F.expr("CAST(" + " + ".join(parts) + " AS INT)")


def fit_ivf_centroids(
    corpus: DataFrame,
    dim: int,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 42,
    fitter: str = "local",
    sample_rows: int = 100_000,
) -> list[list[float]]:
    """Coarse quantizer for IVF. Centroids are a few KB of driver
    state either way and ship to executors inside the
    :func:`nearest_cells` UDF.

    fitter="local" (default): collect a bounded sample and run seeded
    Lloyd iterations in numpy — a coarse quantizer needs rough cells,
    not convergence, and each distributed Lloyd iteration is a full
    Spark job (~1 s of overhead at any scale). This is standard IVF
    practice: train on a sample, assign distributed.

    fitter="ml": seeded pyspark.ml KMeans over the full corpus — use
    when the corpus is too skewed for sampling or the model should be
    persisted via MLlib.
    """
    if fitter == "ml":
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feats = corpus.select(
            array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
        )
        model = KMeans(k=n_cells, seed=seed, maxIter=5).fit(feats)
        return [list(map(float, c)) for c in model.clusterCenters()]

    pdf = corpus.select(F.col(vec_col).cast("array<double>")).limit(sample_rows).toPandas()
    X = np.stack(pdf.iloc[:, 0].to_numpy()).astype(np.float64)
    rng = np.random.default_rng(seed)
    C = X[rng.choice(len(X), size=min(n_cells, len(X)), replace=False)]
    for _ in range(5):  # Lloyd
        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for j in range(len(C)):
            members = X[assign == j]
            if len(members):
                C[j] = members.mean(axis=0)
    return [list(map(float, c)) for c in C]


def suggest_n_cells(
    n_rows: int, min_cells: int = 4, max_cells: int = 4096
) -> int:
    """Cell-count rule for SemDeDup / IVF coarse quantizers: ~sqrt(n)
    cells keeps expected per-cell occupancy ~sqrt(n), so total
    intra-cell pair work stays ~n^1.5 instead of degrading back toward
    n^2 as the corpus grows past a fixed cell count (VERDICT r5 #3).

    Uses floor(IEEE-double sqrt) + clamp so a SQL oracle reproduces the
    count exactly (``GREATEST(min, LEAST(max, CAST(FLOOR(SQRT(n)) AS
    INT)))``). The ceiling bounds the per-vector assignment work
    (n_cells x dim multiply-adds, 4096 x 64 at most); past it a
    trained hierarchical quantizer is the better shape.
    """
    return int(min(max_cells, max(min_cells, math.floor(math.sqrt(max(n_rows, 0))))))


SEED_MULT = 1000003
SEED_MOD = 999983


def seeded_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Deterministic data-point centroids — IVF "random init" without
    the Lloyd refinement: the ``n_cells`` corpus vectors ranking first
    by the integer hash ``((id % SEED_MOD) * SEED_MULT) % SEED_MOD``
    (ties by id).  The id is reduced modulo SEED_MOD *before* the
    multiply: ``id * 1000003`` overflows bigint for ids above ~9.2e12
    (raising under ANSI mode, silently wrapping otherwise), while the
    pre-reduced form is identical mathematically and overflow-free —
    ``(SEED_MOD - 1) * SEED_MULT`` fits comfortably in 63 bits.
    Pure integer arithmetic + row identity, so the SAME centroids are
    derivable in any engine — which makes the whole IVF query
    oracle-checkable end-to-end, unlike trained k-means means whose
    float accumulation order is engine-specific.

    At scale this is a TakeOrdered over a map-only hash projection (no
    full sort, no training pass); the n_cells vectors are a few KB of
    driver state, exactly like the trained path."""
    rows = (
        corpus.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
        .withColumn(
            "h", ((F.col("id") % SEED_MOD) * F.lit(SEED_MULT)) % F.lit(SEED_MOD)
        )
        .orderBy("h", "id")
        .limit(n_cells)
        .collect()
    )
    return [list(map(float, r.v)) for r in rows]


def _halfsq(c: list[float]) -> float:
    """|c|^2 / 2 with dimension-ascending accumulation — the same
    left-fold order as the SQL LIST_REDUCE oracle (0.0 + t1 == t1
    exactly, so the Spark fold with a 0.0 init matches too)."""
    acc = 0.0
    for x in c:
        acc += x * x
    return acc / 2.0


def _fold_dots(X: np.ndarray, M: np.ndarray) -> np.ndarray:
    """``X @ M.T`` accumulated one dimension at a time in ascending
    order, NOT as a BLAS matmul: BLAS may reassociate or FMA the sum,
    and a score within ~1e-13 of a tie (or of zero, for a sign bit)
    would then flip against the sequential LIST_REDUCE fold the SQL
    oracles run. Each step is one IEEE multiply and one add per cell,
    and 0.0 + t1 == t1, so every entry is bit-identical to that fold."""
    S = np.zeros((len(X), M.shape[0]), dtype=np.float64)
    for d in range(X.shape[1]):
        S += np.outer(X[:, d], M[:, d])
    return S


def nearest_cells(
    vec: Column, centroids: list[list[float]], n_probe: int = 1
) -> Column:
    """The nearest-centroid assigner — the one way a vector gets its
    cell (IVF, SemDeDup, the index lifecycle). ``vec`` is an
    array<double> column; the result is a struct of

    - ``cells``: the ``n_probe`` nearest cell ids, nearest first;
    - ``score``: the nearest cell's ``dot(v, c) - |c|^2/2``.

    The score's argmax is the L2-nearest centroid. Dots are
    :func:`_fold_dots` sums and ``|c|^2/2`` is :func:`_halfsq`, so
    every score is bit-identical to the oracles' LIST_REDUCE fold.
    Cells are ordered by a stable sort on the negated score, so equal
    scores go to the LOWER cell id — the oracles'
    ``ORDER BY s DESC, cell ASC``.

    One Arrow-batched pandas UDF: the centroids ride in its pickled
    closure (PySpark broadcasts a command past its size threshold),
    so the plan's size does not grow with the cell count."""
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    C = np.asarray(centroids, dtype=np.float64)  # (cells, dim)
    half_sq = np.asarray([_halfsq(c) for c in centroids], dtype=np.float64)
    out = StructType(
        [
            StructField("cells", ArrayType(IntegerType())),
            StructField("score", DoubleType()),
        ]
    )

    @F.pandas_udf(out)
    def nearest(vecs: pd.Series) -> pd.DataFrame:
        scores = _fold_dots(np.stack(vecs.to_numpy()), C) - half_sq
        order = np.argsort(-scores, axis=1, kind="stable")[:, :n_probe]
        best = scores[np.arange(len(scores)), order[:, 0]]
        return pd.DataFrame({"cells": list(order.astype("int32")), "score": best})

    return nearest(vec)


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors live in their nearest-centroid
    cell; each query probes its ``n_probe`` nearest cells and scores
    only those vectors. The probe join shuffles only by cell id.
    Assignment is :func:`nearest_cells`, bit-identical to a SQL
    LIST_REDUCE fold, so with ``seeded_centroids`` the whole query is
    oracle-checkable.

    vs LSH (lsh_topk): IVF adapts to the data distribution (cells
    follow density), costs a selection/training pass; LSH is oblivious
    but free. Recall is regression-tested against brute_force_topk.
    """
    if centroids is None:
        centroids = fit_ivf_centroids(corpus, dim, n_cells, vec_col)
    # Cast + norm are materialized per ROW here, below the join — the
    # pair loop then runs one fold dot per candidate. The unrolled
    # dim-wide expression is wrong on a pair loop: a 193-term generated
    # method blows the JIT huge-method limit and deoptimizes to
    # interpreted bytecode (~7x on this operator).
    c = _ivf_corpus_cells(corpus, centroids, id_col, vec_col)
    q = _ivf_probes(queries, centroids, id_col, vec_col, n_probe)
    return _ivf_score_and_rank(c, q, k)


def _ivf_corpus_cells(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
    meta_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The corpus relation ``(neighbor_id, cv, cell, c_nrm,
    *meta_cols)`` — ONE definition shared by the per-run batch path
    (:func:`ivf_topk`) and the persisted index build
    (:func:`build_ivf_index`), so the two cannot drift apart.
    ``meta_cols`` are filter attributes carried verbatim into the
    index so FILTERED serving can push predicates into the index scan
    (:func:`ivf_topk_indexed` ``predicate``)."""
    return (
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            as_double(F.col(vec_col)).alias("cv"),
            *[F.col(m) for m in meta_cols],
        )
        .withColumn("cell", nearest_cells(F.col("cv"), centroids).cells[0])
        .withColumn("c_nrm", norm("cv"))
    )


def _ivf_probes(
    queries: DataFrame,
    centroids: list[list[float]],
    id_col: str,
    vec_col: str,
    n_probe: int,
) -> DataFrame:
    """The query relation: one row per (query, probed cell) with
    ``(query_id, qv, q_nrm, cell)`` — shared by :func:`ivf_topk` and
    :func:`ivf_topk_indexed`."""
    return (
        queries.select(
            F.col(id_col).alias("query_id"),
            as_double(F.col(vec_col)).alias("qv"),
        )
        .withColumn("probe_cells", nearest_cells(F.col("qv"), centroids, n_probe).cells)
        .withColumn("q_nrm", norm("qv"))
        .select("query_id", "qv", "q_nrm", F.explode("probe_cells").alias("cell"))
    )


def _ivf_score_and_rank(c: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Probe join + cosine + per-query top-k — the ONE scoring block
    both IVF paths share (same rounding, same tie-break), for the same
    no-drift reason as :func:`_ivf_corpus_cells`. ``c`` carries
    (neighbor_id, cv, cell, c_nrm); ``q`` carries one row per
    (query, probe cell) with (query_id, qv, q_nrm, cell)."""
    scored = c.join(F.broadcast(q), on="cell").where(
        F.col("query_id") != F.col("neighbor_id")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            round_half_up(
                dot("qv", "cv") / (F.col("q_nrm") * F.col("c_nrm")), 6
            ).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# IVF index lifecycle: build -> serve -> append -> drift -> re-center.
# The quantizer manifest is the version contract that keeps the verbs
# honest: every index carries the sha of the EXACT centroid set it
# was assigned with, so an append under re-fitted centroids (silent
# re-celling), an append with a different stored-meta schema (silent
# mixed-schema cells whose pushed predicates drop appended rows), or a
# serve with a pre-re-center quantizer (stale probes) all fail fast
# instead of silently degrading recall.
# ---------------------------------------------------------------------------

QUANTIZER_MANIFEST = "_quantizer.json"


def centroid_sha(centroids: list[list[float]]) -> str:
    """Version hash of a centroid set: sha256 over the exact repr of
    the float lists (repr round-trips IEEE doubles, so two centroid
    sets share a sha iff they are bit-identical)."""
    return hashlib.sha256(
        repr([[float(x) for x in c] for c in centroids]).encode()
    ).hexdigest()[:16]


def write_quantizer_manifest(
    path: str, centroids: list[list[float]], meta_cols: tuple[str, ...], version: int
) -> None:
    """Atomically (write + rename) persist the index's quantizer
    contract beside its cell directories. Underscore-prefixed, so
    Spark's file listing never sees it as data."""
    import json
    import os

    doc = {
        "version": version,
        "centroid_sha": centroid_sha(centroids),
        "n_cells": len(centroids),
        "dim": len(centroids[0]) if centroids else 0,
        "meta_cols": list(meta_cols),
    }
    tmp = os.path.join(path, QUANTIZER_MANIFEST + ".tmp")
    with open(tmp, "w") as fh:
        json.dump(doc, fh)
    os.replace(tmp, os.path.join(path, QUANTIZER_MANIFEST))


def read_quantizer_manifest(path: str) -> dict | None:
    """The index's quantizer contract, or None for a pre-manifest
    directory (a serve against one skips the staleness check; the
    lifecycle verbs require the manifest and refuse)."""
    import json
    import os

    p = os.path.join(path, QUANTIZER_MANIFEST)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def _require_manifest(
    path: str, centroids: list[list[float]], meta_cols: tuple[str, ...] | None, verb: str
) -> dict:
    """Fail-fast gate for the mutation verbs (append / re-center):
    the target must be a manifest-bearing index whose frozen quantizer
    matches ``centroids`` bit-for-bit and (when ``meta_cols`` is given)
    whose stored-meta schema matches the incoming frame's — a mismatch
    would write mixed-schema files into the cell partitions, and
    filtered serving's pushed predicate would then silently exclude
    the rows whose files lack the column (r14 ADVICE)."""
    man = read_quantizer_manifest(path)
    if man is None:
        raise ValueError(
            f"{verb}: no {QUANTIZER_MANIFEST} at {path} — the lifecycle verbs "
            "require an index written by build_ivf_index (which records the "
            "frozen quantizer); rebuild the index to adopt the manifest"
        )
    got = centroid_sha(centroids)
    if man["centroid_sha"] != got:
        raise ValueError(
            f"{verb}: quantizer mismatch — index at {path} is version "
            f"{man['version']} with centroid sha {man['centroid_sha']}, caller "
            f"passed sha {got}; appends/serves must use the index's OWN frozen "
            "centroids (re-fitting per batch silently re-cells the residents)"
        )
    if meta_cols is not None and list(meta_cols) != man["meta_cols"]:
        raise ValueError(
            f"{verb}: meta-column mismatch — index stores {man['meta_cols']}, "
            f"caller passed {list(meta_cols)}; a mixed-schema append would make "
            "filtered serving silently drop rows from files lacking the column"
        )
    return man


def build_ivf_index(
    corpus: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple[str, ...] = (),
) -> None:
    """Persist the IVF index as a CELL-PARTITIONED parquet table —
    the serving-path form of :func:`ivf_topk`. Each corpus vector is
    assigned its nearest-centroid cell (:func:`nearest_cells`, the
    SAME relation definition the batch path scores from) and
    written under ``cell=<id>/``; its L2 norm is precomputed and
    stored alongside (an index precomputes what every query would
    otherwise recompute). At 100 TB the build is one assignment pass +
    one partitioned write; queries then PRUNE TO PROBED CELL
    DIRECTORIES at planning time — the scan never opens the other
    ``n_cells - n_probe`` shards of the corpus, which is the entire
    point of an inverted-file index on object storage.

    ``meta_cols``: filter attributes (label, language, source, ...)
    stored as ordinary columns INSIDE the cell partitions, so filtered
    serving pushes its predicate into the same pruned scan
    (PushedFilters beside the cell PartitionFilters — min/max row-group
    stats skip non-matching row groups within each probed cell; sort
    within cells on the hottest filter column at write time to sharpen
    those stats, the z-order move). For near-always-selective filters,
    promote the column into the partitioning itself
    (``partitionBy(meta, "cell")``) and pruning handles both at
    planning time.
    """
    (
        _ivf_corpus_cells(corpus, centroids, id_col, vec_col, tuple(meta_cols))
        .repartition("cell")
        .write.mode("overwrite")
        .partitionBy("cell")
        .parquet(path)
    )
    write_quantizer_manifest(path, centroids, tuple(meta_cols), version=1)


def ivf_index_append(
    new_vectors: DataFrame,
    centroids: list[list[float]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    meta_cols: tuple[str, ...] = (),
    max_files_per_cell: int | None = None,
) -> None:
    """Append an ingest batch to an EXISTING :func:`build_ivf_index`
    table without touching the resident files — the index lifecycle's
    third verb (build → serve → append). New vectors are assigned with
    the index's OWN centroids (the versioned-quantizer contract
    ``semantic_cell_index`` documents: re-fitting per batch would
    silently re-cell the residents) and land as new files inside the
    existing ``cell=<id>/`` directories; serving needs no change —
    the same cell PartitionFilters prune the same directories, now
    with one more file each. At 100 TB this is the only affordable
    maintenance mode: a batch append costs (batch assignment + batch
    write), never a corpus rewrite. Re-center (a fresh
    :func:`build_ivf_index` under a new fingerprint) only when the
    quantizer drift monitor (:func:`quantizer_drift`) says the
    centroids have gone stale — the same refresh-both-together
    versioning rule as incremental SemDeDup. Serving equivalence with
    a from-scratch build over the union corpus is pinned in
    tests/test_similarity.py (bit-identical: same assignment fold,
    same stored norms).

    The append is gated on the index's quantizer manifest: the passed
    centroids must be the index's OWN frozen set (bit-for-bit) and
    ``meta_cols`` must equal the stored schema — both mismatches fail
    fast instead of silently writing re-celled or mixed-schema files.

    ``max_files_per_cell``: the small-file hygiene hook — every append
    adds >=1 file per touched cell directory, and probe-scan cost
    grows with file count, not bytes (the same pressure
    ``sources/txlog.py auto_compact`` answers for streaming appends).
    When set, cells whose file count exceeds the threshold are
    bin-packed back down with the staged-swap rewrite
    (:func:`ecommerce_dataengineering_project_spark.sources.maintenance.compact_partitioned`
    — cold cells' files untouched, crash leaves originals intact);
    served results are value-identical, pinned in tests."""
    _require_manifest(path, centroids, tuple(meta_cols), "ivf_index_append")
    (
        _ivf_corpus_cells(new_vectors, centroids, id_col, vec_col, tuple(meta_cols))
        .repartition("cell")
        .write.mode("append")
        .partitionBy("cell")
        .parquet(path)
    )
    if max_files_per_cell is not None:
        from ecommerce_dataengineering_project_spark.sources.maintenance import (
            compact_partitioned,
        )

        compact_partitioned(
            new_vectors.sparkSession, path, target_files=max_files_per_cell
        )


def quantizer_drift(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell quantizer staleness report — the monitor that decides
    WHEN the append-only index lifecycle must pay for a re-center.
    For each vector, the squared L2 distance to its assigned centroid
    (``|v|² − 2·dot(v,c) + |c|²`` — the same fold arithmetic as the
    assignment, so the report is SQL-oracle-reproducible); per cell:
    member count, mean and max distance (rounded half-up at 1e-6).
    Read it like a SemDeDup/IVF ops dashboard: cells whose mean
    distance grows against the fit-time baseline are absorbing data
    the centroid no longer represents (recall decays there first);
    compare snapshots across appends and re-center when the drift
    crosses the budgeted recall margin. One scan, map-side partial
    aggregation, no shuffle beyond the |cells|-row agg — safe to run
    per ingest batch at 100 TB."""
    from ecommerce_dataengineering_project_spark.functions.scalars import round_half_up

    # dist² to the ASSIGNED centroid from the assigner's own best
    # score: score = dot − ½|c|², so dist² = |v|² − 2·score — one
    # extra fold (|v|², the same zip_with fold the oracle uses) plus
    # the score the cell was chosen by.
    v = corpus.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v")
    ).withColumn("a", nearest_cells(F.col("v"), centroids))
    return (
        v.select(
            F.col("a.cells")[0].alias("cell"),
            (dot("v", "v") - 2.0 * F.col("a.score")).alias("dist2"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            round_half_up(F.avg("dist2"), 6).alias("avg_dist2"),
            round_half_up(F.max("dist2"), 6).alias("max_dist2"),
        )
    )


RECENTER_SCALE = 1_000_000


def recenter_centroids(
    index_members: DataFrame,
    centroids: list[list[float]],
    cells: list[int],
    vec_col: str = "cv",
    cell_col: str = "cell",
    scale: int = RECENTER_SCALE,
) -> list[list[float]]:
    """Lloyd-step centroids for the flagged cells only: each flagged
    cell's centroid moves to the mean of its CURRENT members; every
    other centroid is returned untouched.

    The mean is computed in FIXED POINT — each coordinate quantized to
    ``round_half_up(x * scale)`` as int64, summed exactly (integer
    addition is commutative/associative, so the result is independent
    of partitioning and engine), divided once in double at the end.
    That is what makes a re-center deterministic enough to be
    SQL-oracle-checked AND reproducible across cluster layouts — a
    float mean's accumulation order is engine- and partition-specific.
    Quantization error is <= 0.5/scale per coordinate, far inside a
    coarse quantizer's tolerance (cells are kilometer markers, not
    survey pins).

    ``index_members`` is the persisted index relation (vectors under
    ``vec_col``); the scan is pruned to the flagged cells' directories
    via the ``cell`` partition column — at 100 TB a re-center reads
    ONLY the drifted cells, never the resident corpus
    (plan-pinned in tests/test_layout.py). The per-cell coordinate agg
    is map-side partial (|flagged| x dim result rows)."""
    flagged = sorted(set(cells))
    rows = (
        index_members.where(F.col(cell_col).isin(flagged))
        .select(F.col(cell_col).alias("c"), F.posexplode(F.col(vec_col)).alias("pos", "x"))
        .groupBy("c", "pos")
        .agg(
            F.sum(
                F.expr(f"CAST(FLOOR(x * {float(scale)!r} + 0.5) AS BIGINT)")
            ).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    sums: dict[tuple[int, int], int] = {}
    counts: dict[int, int] = {}
    for r in rows:
        sums[(r["c"], r["pos"])] = r["s"]
        counts[r["c"]] = r["n"]
    dim = len(centroids[0]) if centroids else 0
    new = [list(map(float, c)) for c in centroids]
    for c in flagged:
        n = counts.get(c, 0)
        if n == 0:
            continue  # an empty flagged cell keeps its centroid
        new[c] = [sums[(c, p)] / (n * float(scale)) for p in range(dim)]
    return new


def ivf_recenter(
    spark,
    path: str,
    centroids: list[list[float]],
    cells: list[int],
    vec_col: str = "cv",
    scale: int = RECENTER_SCALE,
) -> tuple[list[list[float]], dict]:
    """Drift-triggered re-center — the verb that closes the IVF index
    lifecycle (build → serve → append → monitor → RE-CENTER). The
    drift report (:func:`quantizer_drift`) is the work list: flagged
    ``cells`` get fresh centroids from their current members
    (:func:`recenter_centroids`, reading ONLY the flagged cells'
    directories), then ONE pass over the index reassigns every stored
    vector under the updated centroid set and rewrites ONLY the cell
    directories whose membership changed (dynamic partition overwrite
    — untouched cells' files stay byte-identical; a cell emptied by
    the moves has its directory dropped). Finally the quantizer
    manifest version bumps with the new centroid sha, so any serve or
    append still holding the pre-re-center centroids fails fast
    instead of probing stale cells.

    Returns ``(new_centroids, stats)`` where stats carries
    ``moved`` (vectors that changed cell), ``rewritten_cells``,
    ``emptied`` and the new manifest ``version``. Serving equivalence
    with a from-scratch :func:`build_ivf_index` under the new
    centroids is pinned in tests/test_similarity.py.

    At 100 TB: cost = (flagged-cell scan) + (one assignment pass over
    the index) + (rewrite of changed cells only). The assignment pass
    is a map-only scan — the unavoidable term, since moving a centroid
    can pull vectors in from ANY cell; the write is bounded by how
    much membership actually changed, which is exactly the quantity a
    re-center exists to fix."""
    man = _require_manifest(path, centroids, None, "ivf_recenter")
    idx = spark.read.parquet(path)
    new_cents = recenter_centroids(
        idx, centroids, cells, vec_col=vec_col, scale=scale
    )
    return new_cents, _reapply_centroids(spark, path, man, new_cents, vec_col)


def _reapply_centroids(
    spark, path: str, man: dict, new_cents: list[list[float]], vec_col: str = "cv"
) -> dict:
    """The shared mutation tail of the centroid-changing lifecycle
    verbs (:func:`ivf_recenter`, :func:`ivf_split_cell`): one map-only
    assignment pass over the index under the UPDATED centroid set,
    dynamic-partition-overwrite of ONLY the cell directories whose
    membership changed (untouched cells byte-identical; cells emptied
    by the moves dropped; brand-new cells created), then the quantizer
    manifest version bump that makes any serve or append still holding
    the previous centroids fail fast."""
    import os
    import shutil

    idx = spark.read.parquet(path)
    re = idx.withColumn("new_cell", nearest_cells(F.col(vec_col), new_cents).cells[0])
    movers = re.where(F.col("new_cell") != F.col("cell"))
    pair_counts = movers.groupBy("cell", "new_cell").count().collect()
    moved = sum(r["count"] for r in pair_counts)
    affected = sorted(
        {r["cell"] for r in pair_counts} | {r["new_cell"] for r in pair_counts}
    )
    emptied: list[int] = []
    if affected:
        staged = (
            re.where(F.col("new_cell").isin(affected))
            .drop("cell")
            .withColumnRenamed("new_cell", "cell")
            # truncate lineage so the overwrite no longer reads from
            # its own target (same stage-then-overwrite commit as
            # maintenance.merge_upsert_path); materialized state is
            # bounded by the affected cells' rows, not the index
            .localCheckpoint(eager=True)
        )
        present = {r["cell"] for r in staged.select("cell").distinct().collect()}
        emptied = sorted(set(affected) - present)
        # Writer option, not a session conf: a path write honours it
        # (only insertInto ignores it, see maintenance.merge_upsert), so
        # a concurrent write in the same session keeps its own mode.
        (
            staged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("cell")
            .parquet(path)
        )
        for c in emptied:  # dynamic overwrite never saw these cells
            shutil.rmtree(os.path.join(path, f"cell={c}"), ignore_errors=True)
    version = man["version"] + 1
    write_quantizer_manifest(path, new_cents, tuple(man["meta_cols"]), version)
    return {
        "moved": moved,
        "rewritten_cells": affected,
        "emptied": emptied,
        "version": version,
    }


def ivf_split_cell(
    spark,
    path: str,
    centroids: list[list[float]],
    cell: int,
    n_children: int = 2,
    id_col: str = "neighbor_id",
    vec_col: str = "cv",
) -> tuple[list[list[float]], dict]:
    """Hot-cell SPLIT — the occupancy-maintenance verb of the index
    lifecycle. An append-only deployment keeps the sqrt(n) per-cell
    occupancy invariant (suggest_n_cells) not by full rebuilds but by
    splitting whichever cell the append stream overfills: the hot
    cell's centroid is REPLACED by one child and the other children
    are APPENDED as new cell ids, so every other cell's id — and its
    directory — stays stable.

    Child centroids are the same deterministic data-point selection as
    :func:`seeded_centroids`, ranked by the integer hash over the hot
    cell's CURRENT members (read partition-pruned from the index —
    the split never scans the resident corpus), which keeps the whole
    verb engine-reproducible and therefore SQL-oracle-checkable. The
    mutation tail is shared with :func:`ivf_recenter`
    (:func:`_reapply_centroids`): one assignment pass under the grown
    centroid set — a global pass, because new children can pull in
    vectors from ANY cell, exactly like a moved centroid — then a
    rewrite bounded by changed membership and a manifest version bump.

    The converse (merging cold cells) is deliberately not a verb:
    unprobed cells cost nothing at serve time — their directories are
    simply never opened — so a merge would buy only centroid-table
    size, while a split buys the per-cell scan bound that filtered and
    unfiltered probes actually pay for."""
    man = _require_manifest(path, centroids, None, "ivf_split_cell")
    members = spark.read.parquet(path).where(F.col("cell") == cell)
    children = seeded_centroids(
        members, n_children, id_col=id_col, vec_col=vec_col
    )
    if len(children) < n_children:
        raise ValueError(
            f"ivf_split_cell: cell {cell} has only {len(children)} members — "
            f"cannot split into {n_children}"
        )
    new_cents = [list(map(float, c)) for c in centroids]
    new_cents[cell] = children[0]
    new_cents.extend(children[1:])
    return new_cents, _reapply_centroids(spark, path, man, new_cents, vec_col)


def ivf_topk_indexed(
    spark,
    queries: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    predicate: Column | None = None,
) -> DataFrame:
    """Serve ANN top-k from a persisted :func:`build_ivf_index` table.

    The query set's probe cells are resolved FIRST (one bounded
    driver-side collect — a serving query set is Q vectors by nature,
    so the list is Q x n_probe ints; batch-analytics workloads where
    Q is corpus-sized use :func:`ivf_topk`, whose probe resolution
    stays distributed). The static ``cell IN (...)`` filter then
    prunes the index scan to the probed directories at PLANNING time
    (``PartitionFilters``, pinned in tests/test_layout.py) — none of
    the other cells' files are opened, the property that makes a
    persisted IVF index pay on a 100 TB corpus. Scoring reuses the
    index's precomputed norms; results are bit-identical to
    :func:`ivf_topk` with the same centroids (same fold arithmetic),
    so the same SQL oracle checks both.

    ``predicate``: optional metadata filter over the index's
    ``meta_cols`` — FILTERED ANN served from the SAME index:
    Catalyst stacks it as PushedFilters on the already-cell-pruned
    scan (both pins in tests/test_layout.py), so only surviving rows
    of the probed cells are scored. Semantics are probe-then-filter:
    recall against exact filtered search degrades as the predicate
    gets MORE selective (survivors may live outside the probed cells
    — the classic filtered-ANN trap; see :func:`filtered_topk` for
    the argument). Hold recall by over-probing ~k/selectivity, or for
    always-selective predicates make the filter column a partition
    column of the index itself (``build_ivf_index`` meta docstring)
    so pre-filtering is free at planning time.
    """
    man = read_quantizer_manifest(index_path)
    if man is not None and man["centroid_sha"] != centroid_sha(centroids):
        raise ValueError(
            f"ivf_topk_indexed: stale quantizer — index at {index_path} is "
            f"version {man['version']} (sha {man['centroid_sha']}), caller "
            f"probes with sha {centroid_sha(centroids)}; after a re-center, "
            "serving must adopt the re-centered centroid set"
        )
    # probe assignment runs ONCE, not once per consumer (the collect
    # below + the serving join)
    q = _ivf_probes(queries, centroids, id_col, vec_col, n_probe)
    q = q.localCheckpoint(eager=True)
    probed = sorted(r["cell"] for r in q.select("cell").distinct().collect())
    cand = spark.read.parquet(index_path).where(F.col("cell").isin(probed))
    if predicate is not None:
        cand = cand.where(predicate)
    return _ivf_score_and_rank(cand, q, k)


def _lsh_table_assigner(
    dim: int, n_tables: int, planes_per_table: int, multiprobe: bool = False
):
    """Arrow-batched multi-table bucket keys: one sign-bit matmul per
    batch; key = table * 2^planes + bucket. Planes reuse the
    sha-derived hyperplane() coefficients, so assignments are
    deterministic data, not model state.

    ``multiprobe``: also emit every one-bit-flipped bucket per table
    (query side only) — near-boundary neighbors land one sign flip
    away, so probing Hamming-1 buckets buys most of the recall a
    whole extra table would, at zero index cost."""
    from pyspark.sql.types import ArrayType, IntegerType

    P = np.asarray(
        [hyperplane(j, dim) for j in range(n_tables * planes_per_table)],
        dtype=np.float64,
    )  # (tables*planes, dim)
    weights = np.tile(1 << np.arange(planes_per_table), n_tables)

    @F.pandas_udf(ArrayType(IntegerType()))
    def table_keys(vecs: pd.Series) -> pd.Series:
        X = np.stack(vecs.to_numpy())  # (batch, dim)
        S = _fold_dots(X, P)  # sign bits must match the oracle's fold
        bits = (S >= 0).astype(np.int64)  # (batch, tables*planes)
        contrib = (bits * weights).reshape(len(X), n_tables, planes_per_table)
        buckets = contrib.sum(axis=2)  # (batch, tables)
        base = (np.arange(n_tables) << planes_per_table) + buckets
        if not multiprobe:
            return pd.Series(list(base.astype("int32")))
        probes = [base] + [base ^ (1 << j) for j in range(planes_per_table)]
        keys = np.concatenate(probes, axis=1)
        return pd.Series(list(keys.astype("int32")))

    return table_keys


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_tables: int = 8,
    planes_per_table: int = 4,
    multiprobe: bool = True,
) -> DataFrame:
    """ANN top-k via multi-table hyperplane LSH: a pair is a candidate
    if it collides in ANY of ``n_tables`` tables of
    ``planes_per_table`` sign bits. One table of many planes has
    near-zero recall for top-k (buckets outnumber vectors); the
    union-of-tables form is the standard recall/cost dial, and
    Hamming-1 multiprobe on the query side raises recall further
    without growing the index. Candidates join on the 4-byte table
    key; recall vs brute_force_topk is regression-tested in
    tests/test_similarity.py.
    """
    assign = _lsh_table_assigner(dim, n_tables, planes_per_table)
    assign_q = _lsh_table_assigner(dim, n_tables, planes_per_table, multiprobe)
    # Per-row cast + norm below the join; fold dot on the pair loop
    # (same reasoning as ivf_topk — unrolled 193-term methods blow the
    # JIT limit).
    q = queries.select(
        F.col(id_col).alias("query_id"),
        as_double(F.col(vec_col)).alias("qv"),
        F.explode(assign_q(F.col(vec_col).cast("array<double>"))).alias("tkey"),
    ).withColumn("q_nrm", norm("qv"))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        as_double(F.col(vec_col)).alias("cv"),
        F.explode(assign(F.col(vec_col).cast("array<double>"))).alias("tkey"),
    ).withColumn("c_nrm", norm("cv"))
    cand = (
        c.join(F.broadcast(q), on="tkey")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "q_nrm", "neighbor_id", "cv", "c_nrm")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.select(
            "query_id",
            "neighbor_id",
            round_half_up(
                dot("qv", "cv") / (F.col("q_nrm") * F.col("c_nrm")), 6
            ).alias("cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def arrow_quantized_norms(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """``mapInArrow`` twin of the vector-stats surface: per-row
    quantized squared L2 norm computed batch-at-a-time on raw Arrow
    RecordBatches (no pandas materialization at all — the cheapest
    Python path Spark offers, §2j's third arm beside pandas UDFs and
    applyInPandas).

    Exactness contract: each component is widened float32→float64
    (exact), scaled by 1000.0 and floored (one IEEE multiply — any
    engine reproduces it bit-for-bit), then squared and summed as
    *integers*, so the result is order-independent and oracle-exact —
    the same trick the int8 quantizer uses to stay engine-portable.
    Components are bounded (|x|·1000 ≲ 1e4 for unit-ish embeddings →
    per-row sums ≪ 2^63), and the arithmetic runs vectorized in numpy
    over the whole batch via ``np.add.reduceat`` on the flattened list
    buffer — no per-row Python.
    """
    import numpy as np
    import pyarrow as pa

    out_schema = f"{id_col} bigint, dims int, norm_q bigint"

    def batches(it):
        for rb in it:
            ids = rb.column(0)
            vecs = rb.column(1)
            if isinstance(vecs, pa.ChunkedArray):  # pragma: no cover
                vecs = vecs.combine_chunks()
            offsets = vecs.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            flat = vecs.values.to_numpy(zero_copy_only=False).astype(np.float64)
            q = np.floor(flat * 1000.0).astype(np.int64)
            sq = q * q
            # prefix-sum difference: exact integer segment sums with no
            # empty-row edge cases (csum[hi] - csum[lo] is 0 for lo==hi)
            lens = np.diff(offsets)
            csum = np.concatenate(([0], np.cumsum(sq)))
            sums = csum[offsets[1:]] - csum[offsets[:-1]]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids.to_numpy(zero_copy_only=False), pa.int64()),
                    pa.array(lens.astype(np.int32), pa.int32()),
                    pa.array(sums, pa.int64()),
                ],
                names=[id_col, "dims", "norm_q"],
            )

    return df.select(id_col, vec_col).mapInArrow(batches, out_schema)


# ---------------------------------------------------------------- PQ
# Product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): split each vector into M subspaces and
# store, per subspace, only the 4-bit id of its nearest codebook
# entry — 64 float64 dims compress to one BIGINT (128x), which is what
# makes a 100 TB embedding corpus scannable from memory. Codebooks
# here are the seeded data-point rows (seeded_centroids) sliced per
# subspace, so — like IVF above — encoding is pure fold arithmetic and
# the whole code assignment reproduces bit-for-bit in a SQL oracle.
PQ_SUBSPACES = 8
PQ_CODES = 16


def pq_codebooks(
    centroids: list[list[float]], m: int = PQ_SUBSPACES
) -> list[list[list[float]]]:
    """Slice the K seeded rows into per-subspace codebooks:
    ``books[sub][code] == centroids[code][sub*d0:(sub+1)*d0]``."""
    d = len(centroids[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by {m} subspaces")
    d0 = d // m
    return [[c[i * d0 : (i + 1) * d0] for c in centroids] for i in range(m)]


def _pq_sub_dist_sql(vec: str, off: int, code_slice: list[float]) -> str:
    """L2^2 between a vector slice and one codebook entry as a
    sequential fold — dimension-ascending accumulation, bit-identical
    to the oracle's LIST_REDUCE (0.0 init folds exactly like no-init:
    0.0 + t1 == t1)."""
    d0 = len(code_slice)
    carr = "array(" + ", ".join(f"{x!r}D" for x in code_slice) + ")"
    return (
        f"aggregate(zip_with(slice(`{vec}`, {off + 1}, {d0}), {carr}, "
        f"(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x)"
    )


def pq_code_expr(vec: str, books: list[list[list[float]]]) -> Column:
    """Packed PQ code for a named array<double> column: per subspace
    the argmin code (ties to the LOWER id via struct min ordering —
    the same (d ASC, code ASC) order the oracle's ROW_NUMBER uses),
    packed little-endian base-K into one BIGINT.

    Deliberately ONE flat expression per subspace/code, not a
    transform(sequence(..), j -> ..) over a 2-D codebook literal: the
    compact form captures the outer lambda variable inside a nested
    HOF, and when two sides scan the same source, Spark 4.1.2's
    relation deduplication mis-rebinds the captured attribute
    (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND at execution, reproduced)."""
    d0 = len(books[0][0])
    terms = []
    for mi, book in enumerate(books):
        structs = ", ".join(
            f"named_struct('d', {_pq_sub_dist_sql(vec, mi * d0, book[j])}, 'c', {j})"
            for j in range(len(book))
        )
        terms.append(
            f"(CAST(array_min(array({structs})).c AS BIGINT) * {len(book) ** mi}L)"
        )
    return F.expr(" + ".join(terms))


def pq_encode(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_SUBSPACES,
) -> DataFrame:
    """Map-only PQ encoding: (id, pq_code BIGINT). No shuffle, no
    Python; the codebooks ride as plan literals (K x dim doubles —
    identical size to the IVF centroid set)."""
    books = pq_codebooks(centroids, m)
    v = emb.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
    par = emb.sparkSession.sparkContext.defaultParallelism
    if v.rdd.getNumPartitions() < par:
        v = v.repartition(par)  # single-file fixture: spread the folds
    return v.select(
        F.col(id_col), pq_code_expr("__v", books).alias("pq_code")
    )


def pq_reconstruct_expr(code: str, books: list[list[list[float]]]) -> Column:
    """Decoded (approximate) vector from a packed code: concat of the
    selected codebook slices. With exact queries this gives ADC
    scoring — distance(query, reconstruct(code)) — the standard PQ
    search mode: the corpus stays 8 bytes/vector and only the
    codebooks (a few KB) are materialized."""
    k = len(books[0])
    parts = []
    for mi, book in enumerate(books):
        entries = ", ".join(
            "array(" + ", ".join(f"{x!r}D" for x in slice_) + ")"
            for slice_ in book
        )
        parts.append(
            f"element_at(array({entries}), "
            f"CAST((`{code}` div {k ** mi}L) % {k} AS INT) + 1)"
        )
    return F.expr("concat(" + ", ".join(parts) + ")")


def pq_adc_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = PQ_SUBSPACES,
) -> DataFrame:
    """PQ ANN: encode the corpus to packed codes, score queries against
    the RECONSTRUCTED vectors (asymmetric distance computation), keep
    top-k by cosine. The corpus side of the score join carries only
    (id, 8-byte code); everything wide is rebuilt from plan-literal
    codebooks executor-side. Recall vs brute force is pinned in
    tests/test_similarity.py."""
    from pyspark.sql import Window

    from ecommerce_dataengineering_project_spark.functions.scalars import round_half_up

    books = pq_codebooks(centroids, m)
    codes = pq_encode(corpus, centroids, id_col, vec_col, m)
    c = codes.select(
        F.col(id_col).alias("neighbor_id"),
        pq_reconstruct_expr("pq_code", books).alias("cv"),
    ).withColumn("c_nrm", norm("cv"))
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    ).withColumn("q_nrm", norm("qv"))
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.select(
            "query_id",
            "neighbor_id",
            round_half_up(
                dot("qv", "cv") / (F.col("q_nrm") * F.col("c_nrm")), 6
            ).alias("adc_cosine"),
        )
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def mmr_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    k_pool: int = 10,
    k_div: int = 3,
    lam_tenths: int = 7,
) -> DataFrame:
    """Maximal-Marginal-Relevance diversified top-k (Carbonell &
    Goldstein 1998): greedily pick ``k_div`` results from each query's
    exact top-``k_pool`` pool, trading relevance against redundancy —
    ``score = lam*rel(d) - (1-lam)*max_{s in S} sim(d, s)``. The
    retrieval-quality reranker RAG pipelines bolt onto ANN output.

    Spark-first shape: the greedy loop UNROLLS into ``k_div`` plan
    stages (pick 1 = plain argmax; each later pick joins the remaining
    pool against the selected set's pairwise sims and takes a
    windowed argmax) — all codegen, no Python, and every stage's
    width is bounded by ``k_pool`` rows per query, so the whole
    rerank costs O(Q * k_pool^2) regardless of corpus size. Scores
    are integer micro-units (rel/sim = 6-dp-rounded cosines * 1e6,
    lambda in tenths), so the greedy argmax chain — ties broken on
    neighbor id — reproduces bit-for-bit in a SQL oracle.
    """
    pool = brute_force_topk(queries, corpus, id_col, vec_col, k_pool, dim)
    pool = pool.select(
        "query_id",
        "neighbor_id",
        F.floor(F.col("cosine") * 1e6 + F.lit(0.5)).cast("bigint").alias("rel_u"),
    ).localCheckpoint(eager=False)
    vecs = corpus.select(
        F.col(id_col).alias("__nid"), as_double(F.col(vec_col)).alias("__nv")
    )
    pv = pool.join(vecs, F.col("neighbor_id") == F.col("__nid")).select(
        "query_id", "neighbor_id", "rel_u", "__nv"
    )
    a = pv.select(
        F.col("query_id").alias("qa"),
        F.col("neighbor_id").alias("na"),
        F.col("__nv").alias("va"),
    )
    b = pv.select(
        F.col("query_id").alias("qb"),
        F.col("neighbor_id").alias("nb"),
        F.col("__nv").alias("vb"),
    )
    # pairwise candidate sims, k_pool^2 rows per query — shuffled on
    # the query id only
    pairs = (
        a.join(b, (F.col("qa") == F.col("qb")) & (F.col("na") != F.col("nb")))
        .select(
            F.col("qa").alias("query_id"),
            F.col("na").alias("cand"),
            F.col("nb").alias("sel"),
            F.floor(
                round_half_up(cosine("va", "vb", dim), 6) * 1e6 + F.lit(0.5)
            )
            .cast("bigint")
            .alias("sim_u"),
        )
        .localCheckpoint(eager=False)
    )
    lam, inv = F.lit(lam_tenths).cast("bigint"), F.lit(10 - lam_tenths).cast(
        "bigint"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_u").desc(), F.col("neighbor_id").asc()
    )
    first = (
        pool.withColumn("score_u", lam * F.col("rel_u"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("query_id", "neighbor_id", "score_u", F.lit(1).alias("pick"))
    )
    selected = first
    for pick in range(2, k_div + 1):
        remaining = pool.join(
            selected.select(
                F.col("query_id").alias("__sq"), F.col("neighbor_id").alias("__sn")
            ),
            (F.col("query_id") == F.col("__sq"))
            & (F.col("neighbor_id") == F.col("__sn")),
            "left_anti",
        )
        penal = (
            remaining.join(
                pairs.withColumnRenamed("query_id", "__pq"),
                (F.col("query_id") == F.col("__pq"))
                & (F.col("neighbor_id") == F.col("cand")),
            )
            .join(
                selected.select(
                    F.col("query_id").alias("__sq"),
                    F.col("neighbor_id").alias("__sn"),
                ),
                (F.col("__pq") == F.col("__sq")) & (F.col("sel") == F.col("__sn")),
            )
            .groupBy("query_id", "neighbor_id", "rel_u")
            .agg(F.max("sim_u").alias("max_sim_u"))
        )
        nxt = (
            penal.withColumn(
                "score_u", lam * F.col("rel_u") - inv * F.col("max_sim_u")
            )
            .withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select(
                "query_id", "neighbor_id", "score_u", F.lit(pick).alias("pick")
            )
        )
        # Each later pick references `selected` THREE times (the
        # anti-join, the penalty join, and the growing union), so an
        # un-materialized accumulator re-derives every earlier pick's
        # whole join chain per reference — the unrolled plan grew to
        # 74 exchanges at k_div=3 (r15 plan audit). Checkpointing the
        # accumulator (lazy; at most Q*k_div tiny rows) makes pick
        # p+1's plan read pick p's RESULT instead of its derivation —
        # the same bounded-state rule the lineage-truncation note in
        # connected_components applies per iteration.
        selected = selected.unionByName(nxt)
        if pick < k_div:
            selected = selected.localCheckpoint(eager=False)
    return selected.select(
        "query_id", F.col("pick").cast("int").alias("pick"), "neighbor_id", "score_u"
    )
