"""Dedup queries over the documents/embeddings tables (SURVEY §2k
X1/X2). Oracle SQL mirrors the exact same portable hashing arithmetic
(sha-256 prefix -> int64 universal hashing), so even the MinHash-LSH
pipeline is checked bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.operators.dedup import (
    BANDS,
    M61,
    M31,
    MINHASH_A,
    MINHASH_B,
    NUM_HASHES,
    ROWS_PER_BAND,
    connected_components,
    connected_components_star,
    embedding_near_dup_pairs,
    exact_dedup_groups,
    exact_jaccard_pairs,
    minhash_lsh_dedup,
    simhash,
    SIMHASH_BITS,
)
from ecommerce_dataengineering_project_spark.sources.readers import load_table

JACCARD_THRESHOLD = 0.8
NGRAM_THRESHOLD = 0.5
COSINE_THRESHOLD = 0.4

# The shingle relation feeds two queries; persist once per (session,
# corpus) so the tokenize+hash map work and its cache are shared across
# them. Keyed on the session too: a DataFrame outliving its (stopped)
# SparkSession must not be served to a new one. The value keeps a
# strong reference to the session, so its id can never be recycled
# onto a different live session.
_SHINGLE_CACHE: dict[tuple[int, str], tuple[SparkSession, DataFrame]] = {}


def _shingles_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ecommerce_dataengineering_project_spark.operators.dedup import shingles

    key = (id(spark), sf_dir)
    if key not in _SHINGLE_CACHE:
        docs = load_table(spark, sf_dir, "documents")
        _SHINGLE_CACHE[key] = (spark, shingles(docs, "doc_id").persist())
    return _SHINGLE_CACHE[key][1]


# The scored n-gram pair relation likewise feeds two queries (the
# near-dup report and the cluster collapse); persist once per
# (session, corpus).
_PAIRS_CACHE: dict[tuple[int, str], tuple[SparkSession, DataFrame]] = {}


def _ngram_pairs_for(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir)
    if key not in _PAIRS_CACHE:
        docs = load_table(spark, sf_dir, "documents")
        pairs = exact_jaccard_pairs(
            docs, "doc_id", threshold=NGRAM_THRESHOLD, sh=_shingles_for(spark, sf_dir)
        ).persist()
        _PAIRS_CACHE[key] = (spark, pairs)
    return _PAIRS_CACHE[key][1]


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup_groups(docs, "doc_id")


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_dedup(docs, "doc_id", threshold=JACCARD_THRESHOLD)


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ngram_pairs_for(spark, sf_dir)


DF_CAP = 50


def q_dedup_ngram_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-capped scale variant: hot shingles (document frequency
    > 50) are excluded from candidate generation only; Jaccard values
    stay exact. The oracle replicates the cap, so this is checked
    bit-for-bit too."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_jaccard_pairs(
        docs,
        "doc_id",
        threshold=NGRAM_THRESHOLD,
        max_doc_freq=DF_CAP,
        sh=_shingles_for(spark, sf_dir),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair -> cluster collapse: connected components over the n-gram
    Jaccard near-dup pair graph (threshold 0.5); every doc labeled
    with its component's minimum doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _ngram_pairs_for(spark, sf_dir).select("id_a", "id_b")
    return connected_components(pairs, docs.select("doc_id"))


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cluster collapse as dedup_clusters, via the O(log n)-round
    alternating large-star/small-star algorithm — the scale path for
    chained (high-diameter) near-dup graphs. Same oracle fixpoint."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _ngram_pairs_for(spark, sf_dir).select("id_a", "id_b")
    return connected_components_star(pairs, docs.select("doc_id"))


def q_canonical_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The keep-best final stage of fuzzy dedup (operators/dedup.py
    keep_canonical): near-dup clusters collapse to their single
    highest-quality member (quality_score desc, token_count desc,
    doc_id asc) instead of the arbitrary minimum id — the variant
    every real corpus reduction wants. Reuses the session-cached
    n-gram pair relation and the text-stats quality heuristic, both
    independently oracle-checked."""
    from ecommerce_dataengineering_project_spark.operators.dedup import keep_canonical
    from ecommerce_dataengineering_project_spark.operators.text import with_text_stats

    docs = load_table(spark, sf_dir, "documents")
    pairs = _ngram_pairs_for(spark, sf_dir).select("id_a", "id_b")
    clusters = connected_components(pairs, docs.select("doc_id"))
    quality = with_text_stats(docs).select("doc_id", "quality_score", "token_count")
    kept = keep_canonical(
        clusters,
        quality,
        [F.col("quality_score").desc(), F.col("token_count").desc()],
    )
    return kept.select("cluster_id", "doc_id", "cluster_size", "quality_score")


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup (operators/dedup.py
    dedup_incremental_exact): even doc_ids play the already-accepted
    history (as its persisted fingerprint index), odd doc_ids are the
    incoming batch checked against it plus batch-internally."""
    from ecommerce_dataengineering_project_spark.operators.dedup import (
        content_hash,
        dedup_incremental_exact,
    )

    docs = load_table(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") % 2 == 0).select(
        content_hash("text").alias("fingerprint")
    )
    new_batch = docs.where(F.col("doc_id") % 2 != 0)
    return dedup_incremental_exact(new_batch, history)


def q_dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest NEAR-dup (operators/dedup.py
    minhash_incremental): even doc_ids play the accepted history as
    its persisted LSH band index, odd doc_ids are the incoming batch —
    sketch-level decisions, history text never rescanned."""
    from ecommerce_dataengineering_project_spark.operators.dedup import (
        minhash_band_index,
        minhash_incremental,
    )

    docs = load_table(spark, sf_dir, "documents")
    history = minhash_band_index(docs.where(F.col("doc_id") % 2 == 0))
    new_batch = docs.where(F.col("doc_id") % 2 != 0)
    return minhash_incremental(new_batch, history)


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, "doc_id")


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=COSINE_THRESHOLD, dim=64)


# Cell count is DATA-derived (~sqrt(n), operators/similarity.py
# suggest_n_cells) so per-cell occupancy stays ~sqrt(n) as the corpus
# grows — a fixed count would degrade back toward per-cell O(n^2) at
# 100x (VERDICT r5 #3). The oracle derives the same count in SQL.
SEM_CELL_CLAMP = (4, 4096)
_SEM_CENTROIDS: dict[str, list] = {}


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (operators/dedup.py semantic_dedup): nearest-centroid
    cells from the deterministic seeded selection, intra-cell cosine
    pairs, keep-smallest-id — every stage integer/fold arithmetic, so
    the cluster-scoped dedup oracle-checks bit-for-bit like the
    global-scan variant above it."""
    from ecommerce_dataengineering_project_spark.operators.dedup import semantic_dedup
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        seeded_centroids,
        suggest_n_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    if sf_dir not in _SEM_CENTROIDS:
        lo, hi = SEM_CELL_CLAMP
        n_cells = suggest_n_cells(emb.count(), min_cells=lo, max_cells=hi)
        _SEM_CENTROIDS[sf_dir] = seeded_centroids(emb, n_cells)
    return semantic_dedup(
        emb, _SEM_CENTROIDS[sf_dir], threshold=COSINE_THRESHOLD
    )


def q_semantic_dedup_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's 100 TB configuration (VERDICT r11 item 3): shard the
    corpus on a natural partition key (here `label` — the per-language
    / per-source shape) and pair only within (shard, cell). S shards
    cut the n^1.5 envelope to n^1.5/sqrt(S); with shards that grow
    with the corpus, n per invocation is bounded and the operator is
    linear. Same seeded centroids, fold assignment, and keep rule as
    `semantic_dedup` — the recall delta is exactly the cross-shard
    pairs, which the oracle excludes identically."""
    from ecommerce_dataengineering_project_spark.operators.dedup import semantic_dedup
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        seeded_centroids,
        suggest_n_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    if sf_dir not in _SEM_CENTROIDS:
        lo, hi = SEM_CELL_CLAMP
        n_cells = suggest_n_cells(emb.count(), min_cells=lo, max_cells=hi)
        _SEM_CENTROIDS[sf_dir] = seeded_centroids(emb, n_cells)
    return semantic_dedup(
        emb,
        _SEM_CENTROIDS[sf_dir],
        threshold=COSINE_THRESHOLD,
        shard_col="label",
    )


SEM_OCCUPANCY = 100  # target vectors per cell in the prod configuration

# Centroid memos (here and _SEM_INC_CENTROIDS below) are keyed by
# sf_dir PATH alone — deliberately weaker than the content-fingerprint
# keying of the drift baseline and the IVF index directory (ADVICE
# r13): these cache driver-side Python lists, not persisted artifacts,
# so the blast radius of a stale entry is one process whose fixture
# was mutated in place mid-run — which the fixture tables never are
# (they are immutable bench inputs, same contract as the pre-existing
# _SEM_CENTROIDS). Anything that OUTLIVES the process (the IVF index,
# the drift-baseline artifact) carries the content fingerprint.
_SEM_PROD_CENTROIDS: dict[str, list] = {}


def q_semantic_dedup_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The measured 100 TB SemDeDup configuration, registered whole
    (VERDICT r12 item 3): shard on the natural corpus partition
    (`label`) AND constant-occupancy cells (n/SEM_OCCUPANCY, so
    intra-cell pair work is n·occupancy = linear) AND the Arrow-batched
    BLAS matmul assigner (`max_codegen_doubles=1` forces the same path
    `cell_assign` auto-takes past the literal budget at real cell
    counts). This is the `prod100tb` arm of
    tools/profile_semdedup_scale.py — 1.9× across the sf0.1→sf1 decade
    vs the registry shape's 10.5× (SCALE.md) — now carrying its own
    oracle: the DuckDB fold-argmax assignment is ARGMAX-EQUAL to the
    BLAS matmul argmax (test-pinned, ADVICE r13). Both score the same
    mathematical dot−½‖c‖² values, but numpy's pairwise-sum /
    BLAS-reordered accumulation is NOT bit-identical to a sequential
    fold — agreement holds because no fixture vector's top-two cell
    scores sit within FP discrepancy of each other, a margin
    tests/test_exactness_windows.py asserts per decade (so a fixture
    regen or BLAS change near a tie fails a named precondition, not an
    opaque driver hash). Keep-set equality vs the codegen anchor is
    pinned in tests/test_similarity.py."""
    from ecommerce_dataengineering_project_spark.operators.dedup import semantic_dedup
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        seeded_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    if sf_dir not in _SEM_PROD_CENTROIDS:
        n_cells = max(SEM_CELL_CLAMP[0], emb.count() // SEM_OCCUPANCY)
        _SEM_PROD_CENTROIDS[sf_dir] = seeded_centroids(emb, n_cells)
    return semantic_dedup(
        emb,
        _SEM_PROD_CENTROIDS[sf_dir],
        threshold=COSINE_THRESHOLD,
        max_codegen_doubles=1,
        shard_col="label",
    )


_SEM_INC_CENTROIDS: dict[str, list] = {}


def q_semantic_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest SEMANTIC dedup (operators/dedup.py
    semantic_dedup_incremental — NEW r13, completing the incremental
    family beside dedup_incremental / dedup_incremental_minhash): even
    vec_ids play the accepted history as its persisted cell index,
    odd vec_ids are the incoming batch, checked against history cells
    and batch-internally. Centroids are the HISTORY's seeded centroids
    (the index's versioned quantizer — at ingest time the batch hasn't
    been seen), so the oracle seeds its cents CTE from the even slice
    only."""
    from ecommerce_dataengineering_project_spark.operators.dedup import (
        semantic_cell_index,
        semantic_dedup_incremental,
    )
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        seeded_centroids,
        suggest_n_cells,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    history = emb.where(F.col("vec_id") % 2 == 0)
    new_batch = emb.where(F.col("vec_id") % 2 != 0)
    if sf_dir not in _SEM_INC_CENTROIDS:
        lo, hi = SEM_CELL_CLAMP
        n_cells = suggest_n_cells(history.count(), min_cells=lo, max_cells=hi)
        _SEM_INC_CENTROIDS[sf_dir] = seeded_centroids(history, n_cells)
    cents = _SEM_INC_CENTROIDS[sf_dir]
    return semantic_dedup_incremental(
        new_batch,
        semantic_cell_index(history, cents),
        cents,
        threshold=COSINE_THRESHOLD,
    )


QUERIES = {
    "dedup_exact": q_dedup_exact,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_ngram_capped": q_dedup_ngram_capped,
    "dedup_clusters": q_dedup_clusters,
    "dedup_clusters_star": q_dedup_clusters_star,
    "canonical_docs": q_canonical_docs,
    "dedup_incremental": q_dedup_incremental,
    "dedup_incremental_minhash": q_dedup_incremental_minhash,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "semantic_dedup": q_semantic_dedup,
    "semantic_dedup_sharded": q_semantic_dedup_sharded,
    "semantic_dedup_prod": q_semantic_dedup_prod,
    "semantic_dedup_incremental": q_semantic_dedup_incremental,
}


def _r6(expr: str) -> str:
    return f"FLOOR(({expr}) * 1000000.0 + 0.5) / 1000000.0"


# Shingles are emitted pre-hashed to 60-bit ints (operators/dedup.py
# shingles()); the oracle applies the identical sha-256-prefix hash.
_SHINGLES = """
    t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
    sh AS (
        SELECT DISTINCT doc_id,
               CAST(CONCAT('0x', SUBSTR(SHA256(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]), 1, 15)) AS BIGINT) AS shingle
        FROM t, UNNEST(GENERATE_SERIES(1, LEN(ws) - 2)) AS s(i)
    )
"""

_SIG_EXPRS = ",\n            ".join(
    f"MIN(({MINHASH_A[i]} * x31 + {MINHASH_B[i]}) % {M61}) AS sig_{i}"
    for i in range(NUM_HASHES)
)

_BAND_SELECTS = "\n        UNION ALL\n".join(
    "        SELECT doc_id, {b} AS band_id, SHA256(CONCAT_WS('_', {cols})) AS band_hash FROM sig".format(
        b=b,
        cols=", ".join(
            f"CAST(sig_{b * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
        ),
    )
    for b in range(BANDS)
)

_JACCARD_TAIL = """
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS n_inter
        FROM cand c
        JOIN sh s1 ON s1.doc_id = c.id_a
        JOIN sh s2 ON s2.doc_id = c.id_b AND s2.shingle = s1.shingle
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT i.id_a, i.id_b,
               {r6} AS jaccard
        FROM inter i
        JOIN sizes na ON na.doc_id = i.id_a
        JOIN sizes nb ON nb.doc_id = i.id_b
    )
    SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= {thr}
""".format(
    r6=_r6("i.n_inter * 1.0 / (na.n + nb.n - i.n_inter)"), thr="{thr}"
)

_VOTE_EXPRS = ",\n            ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
    for b in range(SIMHASH_BITS)
)
_BIT_SUM = " + ".join(
    f"CASE WHEN v_{b} > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END"
    for b in range(SIMHASH_BITS)
)

_COS = """
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    n AS (SELECT vec_id, v,
                 SQRT(LIST_REDUCE(LIST_TRANSFORM(v, x -> x * x), (x, y) -> x + y)) AS nrm
          FROM e)
"""

ORACLES = {
    "dedup_exact": """
        SELECT SHA256(text) AS fingerprint,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS dup_count
        FROM documents GROUP BY 1
    """,
    "dedup_minhash_lsh": f"""
        WITH {_SHINGLES},
        hx AS (
            SELECT doc_id, shingle % {M31} AS x31
            FROM sh
        ),
        sig AS (
            SELECT doc_id,
            {_SIG_EXPRS}
            FROM hx GROUP BY doc_id
        ),
        bands AS (
{_BAND_SELECTS}
        ),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM bands a
            JOIN bands b ON a.band_id = b.band_id AND a.band_hash = b.band_hash
                        AND a.doc_id < b.doc_id
        ),
        {_JACCARD_TAIL.format(thr=JACCARD_THRESHOLD)}
    """,
    "dedup_ngram_jaccard": f"""
        WITH {_SHINGLES},
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ),
        {_JACCARD_TAIL.format(thr=NGRAM_THRESHOLD)}
    """,
    "dedup_ngram_capped": f"""
        WITH {_SHINGLES},
        rare AS (
            SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= {DF_CAP}
        ),
        cs AS (SELECT sh.* FROM sh JOIN rare USING (shingle)),
        cand AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM cs a JOIN cs b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ),
        {_JACCARD_TAIL.format(thr=NGRAM_THRESHOLD)}
    """,
    # Pairs >= 0.5 from the same shingle arithmetic, then min-label
    # transitive closure as a recursive CTE (the engine's iterative
    # label propagation reaches the same fixpoint).
    "dedup_clusters": f"""
        WITH RECURSIVE {_SHINGLES},
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
            FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ),
        pairs AS (
            SELECT i.id_a, i.id_b
            FROM inter i
            JOIN sizes na ON na.doc_id = i.id_a
            JOIN sizes nb ON nb.doc_id = i.id_b
            WHERE {_r6("i.n_inter * 1.0 / (na.n + nb.n - i.n_inter)")} >= {NGRAM_THRESHOLD}
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b, id_a FROM pairs
        ),
        reach(node, lab) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
        )
        SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node
    """,
    "dedup_simhash": f"""
        WITH toks AS (
            SELECT doc_id,
                   CAST(CONCAT('0x', SUBSTR(SHA256(w), 1, 15)) AS BIGINT) AS h
            FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w FROM documents)
        ),
        votes AS (
            SELECT doc_id,
            {_VOTE_EXPRS}
            FROM toks GROUP BY doc_id
        )
        SELECT doc_id, {_BIT_SUM} AS simhash FROM votes
    """,
    "dedup_embedding_cosine": f"""
        WITH {_COS},
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   {_r6("LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(a.v, b.v), x -> x[1] * x[2]), (x, y) -> x + y) / (a.nrm * b.nrm)")} AS cosine
            FROM n a JOIN n b ON a.vec_id < b.vec_id
        )
        SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= {COSINE_THRESHOLD}
    """,
}

# Same fixpoint, different iteration schedule — the star variant
# oracle-checks against the identical recursive-CTE closure.
ORACLES["dedup_clusters_star"] = ORACLES["dedup_clusters"]

# Mirrors operators/dedup.py dedup_incremental_exact: membership in
# the even-id history's fingerprint set, batch keep-first by id.
ORACLES["dedup_incremental"] = """
    WITH hist AS (
        SELECT DISTINCT SHA256(text) AS fingerprint FROM documents
        WHERE doc_id % 2 = 0
    ),
    batch AS (
        SELECT doc_id, SHA256(text) AS fingerprint FROM documents
        WHERE doc_id % 2 <> 0
    ),
    m AS (
        SELECT b.doc_id, b.fingerprint,
               h.fingerprint IS NOT NULL AS dup_of_history,
               ROW_NUMBER() OVER (
                   PARTITION BY b.fingerprint ORDER BY b.doc_id ASC
               ) AS rn
        FROM batch b LEFT JOIN hist h ON h.fingerprint = b.fingerprint
    )
    SELECT doc_id, fingerprint, dup_of_history,
           (NOT dup_of_history) AND rn = 1 AS keep
    FROM m
"""

# Mirrors operators/dedup.py semantic_dedup with the ann_ivf_topk
# oracle's centroid selection + fold assignment (ext_similarity.py):
# seeded data-point centroids, nearest-cell by the same sequential
# fold, intra-cell cosine pairs, keep iff no smaller-id neighbor.
from ecommerce_dataengineering_project_spark.operators.similarity import (  # noqa: E402
    SEED_MOD,
    SEED_MULT,
)

def _sem_assign(n_cells_sql: str) -> str:
    """The seeded-centroid fold-argmax assignment CTEs, parameterized
    by the cell-count subquery (sqrt(n) for the registry anchor,
    n/occupancy for the prod configuration)."""
    return f"""
    cents AS (
        SELECT cell, cv, halfsq FROM (
            SELECT v AS cv,
                   ROW_NUMBER() OVER (ORDER BY ((vec_id % {SEED_MOD}) * {SEED_MULT}) % {SEED_MOD} ASC,
                                      vec_id ASC) - 1 AS cell,
                   LIST_REDUCE(LIST_TRANSFORM(v, x -> x * x), (x, y) -> x + y)
                       / 2.0 AS halfsq
            FROM n
        ) WHERE cell < ({n_cells_sql})
    ),
    cell_scores AS (
        SELECT e.vec_id, c.cell,
               LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(e.v, c.cv), x -> x[1] * x[2]),
                           (x, y) -> x + y) - c.halfsq AS s
        FROM n e CROSS JOIN cents c
    ),
    assign AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, cell ASC) AS rn
            FROM cell_scores
        ) WHERE rn = 1
    )"""


_SEM_ASSIGN = _sem_assign(
    f"""SELECT GREATEST({SEM_CELL_CLAMP[0]},
                            LEAST({SEM_CELL_CLAMP[1]},
                                  CAST(FLOOR(SQRT(COUNT(*))) AS INTEGER)))
                        FROM embeddings"""
)

# The prod configuration's cell count: constant ~SEM_OCCUPANCY-vector
# occupancy (integer floor division, clamp only at the low end).
_SEM_ASSIGN_PROD = _sem_assign(
    f"""SELECT GREATEST({SEM_CELL_CLAMP[0]},
                            CAST(COUNT(*) // {SEM_OCCUPANCY} AS INTEGER))
                        FROM embeddings"""
)

_SEM_COSINE = _r6(
    "LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(na.v, nb.v), x -> x[1] * x[2]),"
    " (x, y) -> x + y) / (na.nrm * nb.nrm)"
)


def _sem_cosine(a: str, b: str) -> str:
    """The same rounded-cosine SQL over arbitrary (v, nrm) aliases."""
    return _r6(
        f"LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP({a}.v, {b}.v), x -> x[1] * x[2]),"
        f" (x, y) -> x + y) / ({a}.nrm * {b}.nrm)"
    )

ORACLES["semantic_dedup"] = f"""
    WITH {_COS},
    {_SEM_ASSIGN},
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM assign a
        JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN n na ON na.vec_id = a.vec_id
        JOIN n nb ON nb.vec_id = b.vec_id
        WHERE {_SEM_COSINE} >= {COSINE_THRESHOLD}
    )
    SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
           d.id_b IS NULL AS keep
    FROM assign a
    LEFT JOIN (SELECT DISTINCT id_b FROM pairs) d ON d.id_b = a.vec_id
"""

# Identical assignment and keep rule; pairs additionally require label
# equality (the shard), and the shard rides the output.
ORACLES["semantic_dedup_sharded"] = f"""
    WITH {_COS},
    {_SEM_ASSIGN},
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM assign a
        JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id AND eb.label = ea.label
        JOIN n na ON na.vec_id = a.vec_id
        JOIN n nb ON nb.vec_id = b.vec_id
        WHERE {_SEM_COSINE} >= {COSINE_THRESHOLD}
    )
    SELECT a.vec_id, e.label, CAST(a.cell AS INTEGER) AS cell,
           d.id_b IS NULL AS keep
    FROM assign a
    JOIN embeddings e ON e.vec_id = a.vec_id
    LEFT JOIN (SELECT DISTINCT id_b FROM pairs) d ON d.id_b = a.vec_id
"""

# The 100 TB composition (shard + constant-occupancy cells + Arrow
# assigner): same shard-scoped pair/keep SQL as the sharded anchor —
# only the cell count changes — because the BLAS matmul assignment is
# argmax-equal to this fold-argmax (test-pinned; both compute
# dot − ½‖c‖², but BLAS accumulation order differs, so agreement
# rests on the per-decade top-1/top-2 margin guard in
# tests/test_exactness_windows.py plus the keep-set pin against the
# codegen anchor in tests/test_similarity.py).
ORACLES["semantic_dedup_prod"] = f"""
    WITH {_COS},
    {_SEM_ASSIGN_PROD},
    pairs AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM assign a
        JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN embeddings ea ON ea.vec_id = a.vec_id
        JOIN embeddings eb ON eb.vec_id = b.vec_id AND eb.label = ea.label
        JOIN n na ON na.vec_id = a.vec_id
        JOIN n nb ON nb.vec_id = b.vec_id
        WHERE {_SEM_COSINE} >= {COSINE_THRESHOLD}
    )
    SELECT a.vec_id, e.label, CAST(a.cell AS INTEGER) AS cell,
           d.id_b IS NULL AS keep
    FROM assign a
    JOIN embeddings e ON e.vec_id = a.vec_id
    LEFT JOIN (SELECT DISTINCT id_b FROM pairs) d ON d.id_b = a.vec_id
"""

# Incremental SemDeDup: cents seeded from the HISTORY (even-id) slice
# only — the index's versioned quantizer — then BOTH sides fold-argmax
# assigned; history hits at any id, batch hits at smaller odd ids.
ORACLES["semantic_dedup_incremental"] = f"""
    WITH {_COS},
    hist AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 2 = 0),
    newb AS (SELECT vec_id, v, nrm FROM n WHERE vec_id % 2 <> 0),
    cents AS (
        SELECT cell, cv, halfsq FROM (
            SELECT v AS cv,
                   ROW_NUMBER() OVER (ORDER BY ((vec_id % {SEED_MOD}) * {SEED_MULT}) % {SEED_MOD} ASC,
                                      vec_id ASC) - 1 AS cell,
                   LIST_REDUCE(LIST_TRANSFORM(v, x -> x * x), (x, y) -> x + y)
                       / 2.0 AS halfsq
            FROM hist
        ) WHERE cell < (SELECT GREATEST({SEM_CELL_CLAMP[0]},
                            LEAST({SEM_CELL_CLAMP[1]},
                                  CAST(FLOOR(SQRT(COUNT(*))) AS INTEGER)))
                        FROM hist)
    ),
    cell_scores AS (
        SELECT e.vec_id, c.cell,
               LIST_REDUCE(LIST_TRANSFORM(LIST_ZIP(e.v, c.cv), x -> x[1] * x[2]),
                           (x, y) -> x + y) - c.halfsq AS s
        FROM n e CROSS JOIN cents c
    ),
    assign AS (
        SELECT vec_id, cell FROM (
            SELECT vec_id, cell,
                   ROW_NUMBER() OVER (PARTITION BY vec_id
                                      ORDER BY s DESC, cell ASC) AS rn
            FROM cell_scores
        ) WHERE rn = 1
    ),
    hh AS (
        SELECT b.vec_id, CAST(COUNT(*) AS BIGINT) AS n_history_hits
        FROM newb b
        JOIN assign ab ON ab.vec_id = b.vec_id
        JOIN hist h ON TRUE
        JOIN assign ah ON ah.vec_id = h.vec_id AND ah.cell = ab.cell
        WHERE {_sem_cosine("b", "h")} >= {COSINE_THRESHOLD}
        GROUP BY 1
    ),
    bh AS (
        SELECT a.vec_id, CAST(COUNT(*) AS BIGINT) AS n_batch_hits
        FROM newb a
        JOIN assign aa ON aa.vec_id = a.vec_id
        JOIN newb p ON p.vec_id < a.vec_id
        JOIN assign ap ON ap.vec_id = p.vec_id AND ap.cell = aa.cell
        WHERE {_sem_cosine("a", "p")} >= {COSINE_THRESHOLD}
        GROUP BY 1
    )
    SELECT b.vec_id, CAST(ab.cell AS INTEGER) AS cell,
           COALESCE(hh.n_history_hits, 0) AS n_history_hits,
           COALESCE(bh.n_batch_hits, 0) AS n_batch_hits,
           (COALESCE(hh.n_history_hits, 0) = 0
            AND COALESCE(bh.n_batch_hits, 0) = 0) AS keep
    FROM newb b
    JOIN assign ab ON ab.vec_id = b.vec_id
    LEFT JOIN hh ON hh.vec_id = b.vec_id
    LEFT JOIN bh ON bh.vec_id = b.vec_id
"""

# The cluster closure again (same pair arithmetic + recursive CTE),
# then keep-best per cluster: quality desc, token_count desc, doc_id
# asc — mirroring operators/dedup.py keep_canonical and the
# text-stats quality heuristic (ext_text.py "text_stats" oracle).
ORACLES["canonical_docs"] = f"""
    WITH RECURSIVE {_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT i.id_a, i.id_b
        FROM inter i
        JOIN sizes na ON na.doc_id = i.id_a
        JOIN sizes nb ON nb.doc_id = i.id_b
        WHERE {_r6("i.n_inter * 1.0 / (na.n + nb.n - i.n_inter)")} >= {NGRAM_THRESHOLD}
    ),
    edges AS (
        SELECT id_a AS src, id_b AS dst FROM pairs
        UNION
        SELECT id_b, id_a FROM pairs
    ),
    reach(node, lab) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT e.dst, r.lab FROM reach r JOIN edges e ON e.src = r.node
    ),
    clusters AS (
        SELECT node AS doc_id, MIN(lab) AS cluster_id FROM reach GROUP BY node
    ),
    q AS (
        SELECT doc_id,
               CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS token_count,
               {_r6(
                   "LEAST(1.0, LEN(STRING_SPLIT(text, ' ')) / 100.0)"
                   " * (1.0 - LEN(LIST_FILTER(STRING_SPLIT(text, ' '),"
                   " w -> w IN ('the', 'a', 'data', 'value'))) * 1.0"
                   " / LEN(STRING_SPLIT(text, ' ')))"
               )} AS quality_score
        FROM documents
    ),
    ranked AS (
        SELECT c.cluster_id, c.doc_id,
               CAST(COUNT(*) OVER (PARTITION BY c.cluster_id) AS BIGINT)
                   AS cluster_size,
               q.quality_score,
               ROW_NUMBER() OVER (
                   PARTITION BY c.cluster_id
                   ORDER BY q.quality_score DESC, q.token_count DESC,
                            c.doc_id ASC
               ) AS rn
        FROM clusters c JOIN q ON q.doc_id = c.doc_id
    )
    SELECT cluster_id, doc_id, cluster_size, quality_score
    FROM ranked WHERE rn = 1
"""

# Mirrors operators/dedup.py minhash_incremental: identical shingle /
# signature / band arithmetic on both populations, then the two
# collision probes (history = even ids' band index, batch = odd ids).
ORACLES["dedup_incremental_minhash"] = f"""
    WITH {_SHINGLES},
    hx AS (SELECT doc_id, shingle % {M31} AS x31 FROM sh),
    sig AS (
        SELECT doc_id,
        {_SIG_EXPRS}
        FROM hx GROUP BY doc_id
    ),
    bands AS (
{_BAND_SELECTS}
    ),
    hist AS (SELECT * FROM bands WHERE doc_id % 2 = 0),
    nb AS (SELECT * FROM bands WHERE doc_id % 2 <> 0),
    hh AS (
        SELECT n.doc_id, COUNT(DISTINCT h.doc_id) AS n_history_hits
        FROM nb n JOIN hist h
          ON n.band_id = h.band_id AND n.band_hash = h.band_hash
        GROUP BY 1
    ),
    bh AS (
        SELECT a.doc_id, COUNT(DISTINCT b.doc_id) AS n_batch_hits
        FROM nb a JOIN nb b
          ON a.band_id = b.band_id AND a.band_hash = b.band_hash
         AND b.doc_id < a.doc_id
        GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(COALESCE(hh.n_history_hits, 0) AS BIGINT) AS n_history_hits,
           CAST(COALESCE(bh.n_batch_hits, 0) AS BIGINT) AS n_batch_hits,
           COALESCE(hh.n_history_hits, 0) > 0 AS dup_of_history,
           COALESCE(hh.n_history_hits, 0) = 0
               AND COALESCE(bh.n_batch_hits, 0) = 0 AS keep
    FROM documents d
    LEFT JOIN hh ON hh.doc_id = d.doc_id
    LEFT JOIN bh ON bh.doc_id = d.doc_id
    WHERE d.doc_id % 2 <> 0
"""


def q_fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (operators/linkage.py): nearest edit-distance
    neighbor per part name under last-token blocking — the entity-
    resolution sibling of the shingle-based near-dup layer, with an
    exact engine-portable metric (unit-cost Levenshtein)."""
    from ecommerce_dataengineering_project_spark.operators.linkage import (
        fuzzy_nearest,
    )

    part = load_table(spark, sf_dir, "part")
    return fuzzy_nearest(part, "p_partkey", "p_name", max_dist=2)


QUERIES["fuzzy_name_matches"] = q_fuzzy_name_matches


def q_fuzzy_multiblock_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage, recall side (operators/linkage.py
    fuzzy_nearest_multiblock): nearest edit-distance neighbor under
    UNIONED blocking (last token OR first token OR first-char/length-
    band) at max_dist=3 — recovering pairs a single last-token block
    misses (e.g. "red ring" ~ "red rod": the typo is IN the last
    token, so last-token blocking never compares them; the shared
    first token does)."""
    from ecommerce_dataengineering_project_spark.operators.linkage import (
        fuzzy_nearest_multiblock,
    )

    part = load_table(spark, sf_dir, "part")
    return fuzzy_nearest_multiblock(part, "p_partkey", "p_name", max_dist=3)


QUERIES["fuzzy_multiblock_matches"] = q_fuzzy_multiblock_matches

# Key-level all-candidate oracle (no collapse, no pair dedup): a pair
# is compared iff ANY of the three block keys agrees — the same
# semantics the unioned-block operator implements via the exploded
# block-key array + pair dedup.
ORACLES["fuzzy_multiblock_matches"] = """
    WITH p AS (
        SELECT p_partkey AS key, p_name AS name,
               STRING_SPLIT(p_name, ' ')[-1] AS lt,
               STRING_SPLIT(p_name, ' ')[1] AS ft,
               SUBSTR(p_name, 1, 1) AS fc,
               LENGTH(p_name) // 4 AS lb
        FROM part
    ),
    pairs AS (
        SELECT a.key AS key_a, b.key AS key_b,
               a.name AS name_a, b.name AS name_b,
               CAST(LEVENSHTEIN(a.name, b.name) AS INTEGER) AS dist
        FROM p a JOIN p b
          ON a.key < b.key
         AND (a.lt = b.lt OR a.ft = b.ft OR (a.fc = b.fc AND a.lb = b.lb))
        WHERE LEVENSHTEIN(a.name, b.name) BETWEEN 1 AND 3
    ),
    sym AS (
        SELECT key_a, key_b, name_a, name_b, dist FROM pairs
        UNION ALL
        SELECT key_b, key_a, name_b, name_a, dist FROM pairs
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY key_a ORDER BY dist ASC, key_b ASC) AS rn
        FROM sym
    )
    SELECT key_a AS key, name_a AS name, key_b AS nearest_key,
           name_b AS nearest_name, dist
    FROM ranked WHERE rn = 1
"""

ORACLES["fuzzy_name_matches"] = """
    WITH p AS (
        SELECT p_partkey AS key, p_name AS name,
               STRING_SPLIT(p_name, ' ')[-1] AS blk
        FROM part
    ),
    pairs AS (
        SELECT a.key AS key_a, b.key AS key_b,
               a.name AS name_a, b.name AS name_b,
               CAST(LEVENSHTEIN(a.name, b.name) AS INTEGER) AS dist
        FROM p a JOIN p b ON a.blk = b.blk AND a.key < b.key
        WHERE LEVENSHTEIN(a.name, b.name) BETWEEN 1 AND 2
    ),
    sym AS (
        SELECT key_a, key_b, name_a, name_b, dist FROM pairs
        UNION ALL
        SELECT key_b, key_a, name_b, name_a, dist FROM pairs
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY key_a ORDER BY dist ASC, key_b ASC) AS rn
        FROM sym
    )
    SELECT key_a AS key, name_a AS name, key_b AS nearest_key,
           name_b AS nearest_name, dist
    FROM ranked WHERE rn = 1
"""


SUBSTRING_CHUNK_WORDS = 10


def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup: repeated 10-word spans excised
    corpus-wide (first occurrence kept), documents reassembled — the
    C4/RefinedWeb exact-substring shape, below record granularity
    (reference dedups whole rows only:
    pipeline/spark/streaming_consumer.py dropDuplicates)."""
    from ecommerce_dataengineering_project_spark.operators.dedup import substring_dedup

    docs = load_table(spark, sf_dir, "documents")
    return substring_dedup(docs, chunk_words=SUBSTRING_CHUNK_WORDS)


QUERIES["dedup_substring"] = q_dedup_substring

ORACLES["dedup_substring"] = f"""
    WITH w AS (
        SELECT doc_id, STRING_SPLIT(text, ' ') AS ws,
               CAST(CEIL(LEN(STRING_SPLIT(text, ' ')) / {SUBSTRING_CHUNK_WORDS}.0)
                    AS BIGINT) AS n_chunks
        FROM documents
    ),
    spans AS (
        SELECT doc_id, n_chunks, CAST(i AS BIGINT) AS chunk_idx,
               ARRAY_TO_STRING(
                   ws[CAST(i * {SUBSTRING_CHUNK_WORDS} + 1 AS BIGINT):
                      CAST(i * {SUBSTRING_CHUNK_WORDS} + {SUBSTRING_CHUNK_WORDS}
                           AS BIGINT)], ' ') AS chunk
        FROM w, UNNEST(RANGE(n_chunks)) AS t(i)
    ),
    kept AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY chunk ORDER BY doc_id, chunk_idx) AS rn
        FROM spans
    )
    SELECT doc_id,
           STRING_AGG(chunk, ' ' ORDER BY chunk_idx) AS clean_text,
           MAX(n_chunks) AS n_chunks,
           CAST(COUNT(*) AS BIGINT) AS n_kept
    FROM kept WHERE rn = 1
    GROUP BY doc_id
"""
