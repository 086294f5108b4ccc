"""Deduplication operators for training-data pipelines (SURVEY §2k
X1/X2).

Scale design (the whole point of these ops is the 100 TB case):

- exact dedup: hash-groupBy on a 256-bit content fingerprint — one
  shuffle keyed by the hash, map-side combined, no text comparison.
- MinHash-LSH near-dup: per-document shingle sets -> 16 minhashes ->
  4 bands -> band bucket self-join. Each document is split once into
  one ``array<bigint>`` of distinct shingle hashes; signatures are
  ``array_min`` over it (no shuffle) and exact Jaccard verification is
  ``size(array_intersect)`` of a candidate pair's two sets. The
  candidate join is on band hashes (tiny keys), so the cross-product
  only materializes within buckets. This is the standard
  sub-quadratic pipeline (Broder '97 resemblance sketches; LSH banding
  per Mining of Massive Datasets ch.3). Pitfall: an n-gram lambda that
  closes over the token expression gets ``split(text)`` inlined into
  its body by the optimizer, which re-splits the document per n-gram
  (quadratic in document length); see ``shingle_sets``.
- SimHash: 60-bit per-doc signature via per-bit vote aggregation
  (Charikar '02) — one groupBy, signatures join/band cheaply.
- n-gram Jaccard: the exact (quadratic-within-bucket) baseline used to
  verify the sketch pipelines.

Hashing is deliberately engine-portable: sha-256 -> 60-bit integer
prefix -> universal hashing ((a*h + b) mod M61) in int64 arithmetic.
No JVM-private hash (xxhash64/murmur) appears in any semantic result,
so every operator is oracle-checkable bit-for-bit on any SQL engine.
All expressions are built-in column ops — no Python in the row path.
"""

from __future__ import annotations

import functools

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.functions.scalars import round_half_up

# Universal-hash parameters (sql_universal_hash): h_i(x) = (A[i]*x31 + B[i])
# mod M61 with x31 = x mod M31. x31 < 2^31 keeps A[i]*x31 < 2^62, inside
# signed-int64 range on every engine. Constants are arbitrary fixed odd
# numbers (seeded once).
M61 = (1 << 61) - 1
M31 = (1 << 31) - 1
MINHASH_A = [
    1099511627, 405031865, 871782911, 297121507,
    662083089, 815124493, 428625201, 903066725,
    154858673, 324528437, 499796871, 678679671,
    860281219, 104395301, 122949829, 141650939,
]
MINHASH_B = [
    12820163, 402653189, 201326611, 805306457,
    1610612741, 1073741827, 644245093, 128849019,
    257698037, 515396075, 103079215, 206158423,
    412316861, 824633727, 164926743, 329853487,
]
NUM_HASHES = 16
BANDS = 4
ROWS_PER_BAND = NUM_HASHES // BANDS


def content_hash(text: str | Column) -> Column:
    """256-bit content fingerprint (exact-dedup key)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.sha2(c, 256)


def hash60(col: Column) -> Column:
    """Portable 60-bit integer hash of a string column (sha-256 hex
    prefix -> base-16 parse). Avoids engine-private hash functions."""
    return F.conv(F.substring(F.sha2(col, 256), 1, 15), 16, 10).cast("bigint")


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """X1: group identical content; keep the smallest id as survivor.

    One shuffle on the 256-bit hash; duplicate text never compares
    byte-wise. Output: fingerprint, keep_id, dup_count.
    """
    return (
        df.select(F.col(id_col), content_hash(text_col).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, __toks): each document split into its tokens, once."""
    # A corpus that arrives as FEWER partitions than the session would
    # otherwise serialize the tokenize+hash work into those few tasks;
    # spread it first (cheap: the exchange moves raw text once, before
    # the n-gram fan-out). Guarded like semantic_dedup/pq_encode: at
    # lake scale the scan already has more partitions than cores and
    # an unconditional repartition would shuffle every row for nothing.
    par = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < par:
        df = df.repartition(par)
    return df.select(F.col(id_col), F.split(F.col(text_col), " ").alias("__toks"))


def _shingle_set(n: int) -> Column:
    """The distinct n-gram hashes of the ``__toks`` column."""
    toks = F.col("__toks")
    # slice() rejects a negative length; docs shorter than n (and NULL
    # texts, whose size is NULL) get zero-length slices instead.
    n_grams = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    grams = F.transform(
        F.arrays_zip(*[F.slice(toks, k + 1, n_grams).alias(f"t{k}") for k in range(n)]),
        lambda g: F.concat_ws(" ", *[g[f"t{k}"] for k in range(n)]),
    )
    return F.coalesce(
        F.array_distinct(F.transform(grams, hash60)), F.array().cast("array<bigint>")
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str = "text", n: int = 3) -> DataFrame:
    """One row per document: (id, shingle_set), the document's distinct
    word n-gram shingles as an ``array<bigint>`` of 60-bit hashes.
    Documents shorter than ``n`` tokens, and NULL texts, get an empty
    set.

    Hashing at the source keeps every downstream shuffle and join key
    8 bytes instead of a full n-gram string — at corpus scale the
    candidate-pair and verification joins move an order of magnitude
    fewer bytes. The hash is the portable sha-256 prefix (module
    docstring), so SQL oracles reproduce it exactly.

    Each document is split ONCE. The n-grams are the rows of
    ``arrays_zip`` over the n shifted ``slice``s of the token array, so
    the lambda that joins a gram reads only its own element. A lambda
    that instead indexes the token column (``element_at(toks, i + k)``)
    is quadratic: Catalyst inlines ``split(text)`` into the lambda body
    and every n-gram re-splits the whole document. The slices reference
    the token column several times, which keeps CollapseProject from
    inlining the split back into them. Likewise, no filter may sit on
    ``shingle_set`` before it is materialized: Catalyst pushes it below
    the projection and evaluates the set twice.
    """
    return _tokens(df, id_col, text_col).select(
        F.col(id_col), _shingle_set(n).alias("shingle_set")
    )


def shingles(df: DataFrame, id_col: str, text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (one row each),
    emitted as 60-bit integer hashes: :func:`shingle_sets` exploded."""
    # explode the set EXPRESSION, not a shingle_set column: over a
    # column, Catalyst infers size(shingle_set) > 0 and pushes that
    # filter below the projection (see shingle_sets)
    return _tokens(df, id_col, text_col).select(
        F.col(id_col), F.explode(_shingle_set(n)).alias("shingle")
    )


def sql_universal_hash(x: str, i: int) -> str:
    """SQL text of the i-th universal hash of the bigint expression x:
    (A[i]*(x mod M31) + B[i]) mod M61. SQL text, not Column calls: the
    set path wraps it in 16 lambdas, and each lambda built through the
    Column API costs many py4j round trips on the driver."""
    return f"({MINHASH_A[i]} * ({x} % {M31}) + {MINHASH_B[i]}) % {M61}"


def minhash_signatures(sh: DataFrame, id_col: str) -> DataFrame:
    """16 minhash values per document over its shingle rows (the
    :func:`shingles` relation). One groupBy: the per-shingle hash
    arithmetic is codegen'd, the mins combine map-side."""
    return sh.groupBy(id_col).agg(
        *[
            F.expr(f"min({sql_universal_hash('shingle', i)})").alias(f"sig_{i}")
            for i in range(NUM_HASHES)
        ]
    )


def set_signatures(sets: DataFrame, id_col: str) -> DataFrame:
    """16 minhash values per document over its :func:`shingle_sets`
    row: a projection, no shuffle. An empty set's signature is NULL
    (the minimum of an empty array); :func:`band_keys` gives it no
    bands."""
    return sets.select(
        F.col(id_col),
        *[
            F.expr(f"array_min(transform(shingle_set, x -> {sql_universal_hash('x', i)}))")
            .alias(f"sig_{i}")
            for i in range(NUM_HASHES)
        ],
    )


def band_keys(sig: DataFrame, id_col: str) -> DataFrame:
    """LSH band keys (id, band_id, band_hash) from a signature
    relation — the unit both the batch self-join and the persisted
    incremental index are built from.

    A NULL signature (an empty shingle set) gets no bands: its band
    hash would be the hash of "" and every empty document would share
    it. The guard is on the explode's input, not a filter, so Catalyst
    never pushes it below an unmaterialized signature projection."""
    band_rows = []
    for b in range(BANDS):
        cols = [F.col(f"sig_{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        band_rows.append(
            F.struct(
                F.lit(b).alias("band_id"),
                F.sha2(F.concat_ws("_", *[c.cast("string") for c in cols]), 256).alias(
                    "band_hash"
                ),
            )
        )
    bands = F.when(F.col("sig_0").isNotNull(), F.array(*band_rows))
    return sig.select(F.col(id_col), F.explode(bands).alias("band")).select(
        id_col, "band.band_id", "band.band_hash"
    )


def lsh_candidate_pairs(sig: DataFrame, id_col: str) -> DataFrame:
    """Band the signatures and self-join on band hashes.

    Docs agreeing on all rows of any band become a candidate pair.
    The join key is (band_id, band_hash) — candidate generation never
    touches text and the shuffle is by bucket, so skew is bounded by
    bucket size, not corpus size.
    """
    # the band relation is both sides of the self-join — without
    # materialization each side re-derives the signatures feeding it
    # (r15 plan audit; same fix as minhash_incremental)
    bands = band_keys(sig, id_col).localCheckpoint(eager=False)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col(f"a.band_id") == F.col(f"b.band_id"))
            & (F.col(f"a.band_hash") == F.col(f"b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def minhash_lsh_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.8,
) -> DataFrame:
    """X2 end-to-end over per-document shingle sets:
    :func:`shingle_sets` -> :func:`set_signatures` -> LSH bands ->
    verified pairs (id_a, id_b, jaccard).

    Each document is split once; an n-gram lambda that closes over
    the token expression would re-split it per n-gram (quadratic in
    document length; see :func:`shingle_sets`). Every stage after the
    split reads one row per document. The
    signatures are 16 ``array_min``s over the set (no groupBy), the
    candidates are the band-hash self-join, and verification is exact
    Jaccard as ``size(array_intersect(a, b))`` over each candidate pair
    joined to its two sets. Pairs that share no shingle are dropped, as
    a shingle-level intersection join would drop them.

    The set relation feeds the signatures and both sides of the
    verification join; it is materialized once so the tokenize +
    sha-256 map work runs once, not once per consumer.
    """
    # eager localCheckpoint, not persist(): the result is returned
    # lazily, so a cache entry could never be unpersisted by the
    # caller (session-lifetime storage leak)
    sets = shingle_sets(df, id_col, text_col).localCheckpoint(eager=True)
    cand = lsh_candidate_pairs(set_signatures(sets, id_col), id_col)
    sa = sets.select(F.col(id_col).alias("id_a"), F.col("shingle_set").alias("set_a"))
    sb = sets.select(F.col(id_col).alias("id_b"), F.col("shingle_set").alias("set_b"))
    scored = cand.join(sa, "id_a").join(sb, "id_b").select(
        "id_a",
        "id_b",
        F.size(F.array_intersect("set_a", "set_b")).alias("n_inter"),
        (F.size("set_a") + F.size("set_b")).alias("n_sum"),
    )
    jac = F.col("n_inter") / (F.col("n_sum") - F.col("n_inter"))
    return (
        scored.where(F.col("n_inter") > 0)
        .select("id_a", "id_b", round_half_up(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def _jaccard_from_inter(
    inter: DataFrame, sh: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Score (id_a, id_b, n_inter) against per-doc set sizes."""
    # consumed by both join sides (n_a / n_b) — one |docs|-row lazy
    # checkpoint instead of two aggregate passes over the shingles
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh")).localCheckpoint(
        eager=False
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_inter") / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", round_half_up(jac, 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def exact_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    sh: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (the verification baseline
    for the sketch pipelines): candidates are pairs sharing >= 1
    shingle, so disjoint docs never pair. Quadratic only within
    shingle-collision groups.

    The shingle self-join already enumerates every shared shingle per
    pair, so ``n_inter`` is a direct groupBy COUNT over it — no
    ``distinct()`` pass and no re-join against the shingle table (the
    old shape paid three extra shuffles for information the candidate
    join had already computed).

    ``max_doc_freq``: the scale dial — exclude shingles appearing in
    more than this many documents from CANDIDATE GENERATION (a shingle
    in f docs contributes f^2 candidate pairs; stopword-like shingles
    dominate the quadratic cost while contributing least evidence).
    Verification still counts ALL shared shingles — the hot (df >
    cap) shingles are folded back in via per-doc hot-sets, which are
    small arrays by construction (only stopword-like shingles are
    hot), so the Jaccard VALUES are exact; only pairs whose every
    shared shingle is hot can be missed. None = fully exact (the
    default baseline).
    """
    if sh is None:
        # eager localCheckpoint, not persist(): the result is
        # returned lazily, so a cache entry could never be
        # unpersisted by the caller (session-lifetime storage leak)
        sh = shingles(df, id_col, text_col).localCheckpoint(eager=True)
    if max_doc_freq is None:
        sa = sh.select(F.col(id_col).alias("id_a"), "shingle")
        sb = sh.select(F.col(id_col).alias("id_b"), "shingle")
        inter = (
            sa.join(sb, "shingle")
            .where(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        return _jaccard_from_inter(inter, sh, id_col, threshold)

    # The HOT shingle list (df > cap) is the small relation here — few
    # distinct shingles are stopword-like — so broadcast it; the rare
    # list is most of the vocabulary and must never be broadcast.
    hot_list = F.broadcast(
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") > max_doc_freq)
        .select("shingle")
    )
    rare_sh = sh.join(hot_list, "shingle", "left_anti")
    ra = rare_sh.select(F.col(id_col).alias("id_a"), "shingle")
    rb = rare_sh.select(F.col(id_col).alias("id_b"), "shingle")
    rare_inter = (
        ra.join(rb, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_rare"))
    )
    # Exactness fix-up: per-doc sets of HOT shingles. The arrays are
    # small (bounded by the hot vocabulary) but the relation has up to
    # one row per doc, so it joins by key — AQE may still broadcast it
    # when it is actually small.
    hot_sets = sh.join(hot_list, "shingle").groupBy(id_col).agg(
        F.collect_set("shingle").alias("hot_set")
    )
    ha = hot_sets.select(F.col(id_col).alias("id_a"), F.col("hot_set").alias("hot_a"))
    hb = hot_sets.select(F.col(id_col).alias("id_b"), F.col("hot_set").alias("hot_b"))
    n_hot = F.size(F.array_intersect(F.col("hot_a"), F.col("hot_b")))
    inter = (
        rare_inter.join(ha, "id_a", "left")
        .join(hb, "id_b", "left")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_rare")
                + F.when(
                    F.col("hot_a").isNotNull() & F.col("hot_b").isNotNull(), n_hot
                ).otherwise(F.lit(0))
            ).alias("n_inter"),
        )
    )
    return _jaccard_from_inter(inter, sh, id_col, threshold)


def _checkpoint_signed(df: DataFrame, c1: str, c2: str) -> tuple[DataFrame, tuple]:
    """Eagerly localCheckpoint ``df`` and return it with a 2-scalar
    convergence signature: row count + order-independent XOR of
    ``xxhash64(c1, c2)`` — overflow-proof where a SUM over hash60-scale
    ids (up to 2^60) blows past int64 at >=16 rows and RAISES under
    Spark 4's default ANSI mode. The signature rides the
    checkpoint-materializing job as an ``observe()`` CollectMetrics
    metric (the X28 pattern) — never a second scan of the relation."""
    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.expr(f"bit_xor(xxhash64({c1}, {c2}))").alias("sig"),
    ).localCheckpoint(eager=True)
    return out, (obs.get["n"], obs.get["sig"])


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = 25,
    on_exhausted: str = "fallback",
) -> DataFrame:
    """Collapse near-dup PAIRS into CLUSTERS: connected components of
    the undirected pair graph, labeled by the minimum member id. The
    missing last stage of every dedup pipeline — pairs say "these two
    match", the pipeline needs "keep one representative per group",
    and match relations are not transitive-closed by construction.

    Min-label propagation: each round every node takes the smallest
    label among itself and its neighbors (one join + one map-side-
    combined groupBy per round — no driver-side graph state; labels
    are per-edge messages, so a 100 TB edge set just shuffles by key).
    Rounds needed = graph diameter, which for near-dup clusters is
    small (components are quasi-cliques of rewrites of one document —
    LSH/Jaccard candidates share shingles, so most members pair
    directly). For adversarial long-chain graphs the alternating
    large-star/small-star variant (Kiveris et al., "Connected
    Components in MapReduce") converges in O(log n) rounds; the
    per-round dataflow below is the same shape.

    Convergence is detected via a 2-scalar signature (count +
    order-independent XOR of the (node, label) pair hashes): a round
    either strictly decreases some label or changes nothing, so an
    unchanged signature IS the fixpoint (two scalars per round to the
    driver — the loop is driver-side but the data never is). The
    signature rides the round's label rebuild as an ``observe()``
    metric (the X28 CollectMetrics pattern): it is accumulated inline
    by the SAME job that materializes the round's eager
    ``localCheckpoint`` — no second aggregate pass over the labels,
    no extra exchange, one job per round. (The earlier lazy-checkpoint
    + separate ``agg().collect()`` formulation re-scanned the labels
    through a partial/final aggregate each round — a measured 1.28x
    on the sf0.1 headline.) ``localCheckpoint`` truncates each
    round's lineage so the plan doesn't grow with the round count.

    If ``max_rounds`` is exhausted before the fixpoint (diameter >
    max_rounds — chained near-dup families), the labels are NOT
    transitively closed and silently returning them would be wrong.
    ``on_exhausted`` decides: ``"fallback"`` (default) reruns with the
    O(log n) large/small-star variant, which converges on any shape;
    ``"raise"`` raises ``RuntimeError``.

    Returns (id_col, cluster_id); singleton docs keep their own id.
    """
    if on_exhausted not in ("fallback", "raise"):
        raise ValueError(f"on_exhausted must be fallback|raise, got {on_exhausted!r}")
    und = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .persist()
    )
    # Iterate only over nodes that appear in some edge: in a dedup
    # graph nearly every doc is a singleton, and singletons are their
    # own fixpoint — keeping them out shrinks every round's join and
    # state by orders of magnitude at corpus scale.
    _checkpoint_signed_nl = functools.partial(
        _checkpoint_signed, c1="node", c2="label"
    )
    labels, prev_sum = _checkpoint_signed_nl(
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    converged = False
    for _ in range(max_rounds):
        nbr_min = (
            und.join(labels, und["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels, cur_sum = _checkpoint_signed_nl(
            labels.join(nbr_min, labels["node"] == nbr_min["dst"], "left").select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
        )
        if cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    und.unpersist()
    if not converged:
        # Labels were still moving on the last allowed round: they are
        # not a transitive closure and MUST NOT be returned as-is.
        if on_exhausted == "fallback":
            import warnings

            warnings.warn(
                f"connected_components: no fixpoint after {max_rounds} rounds "
                "(graph diameter exceeds max_rounds); falling back to the "
                "O(log n) large/small-star variant",
                RuntimeWarning,
                stacklevel=2,
            )
            return connected_components_star(edges, nodes, id_col=id_col)
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds; "
            "the graph's diameter exceeds max_rounds — raise max_rounds or "
            "use connected_components_star (O(log n) rounds on any shape)"
        )
    out = nodes.select(F.col(id_col)).join(
        labels.select(F.col("node").alias(id_col), "label"), id_col, "left"
    )
    return out.select(
        F.col(id_col), F.coalesce(F.col("label"), F.col(id_col)).alias("cluster_id")
    )


def connected_components_star(
    edges: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14): converges in O(log n) rounds on ANY graph shape, where
    plain min-label propagation needs diameter rounds — the variant to
    reach for when near-dup clusters chain (A~B~C without A~C), e.g.
    boilerplate families or template cascades at corpus scale.

    Edge set is kept directed big->small and distinct. Each half-round
    is one groupBy + one join (shuffles on node id); no driver-side
    graph state — only a 2-scalar signature per round for the fixpoint
    test, observed inline (CollectMetrics) on the job that
    materializes the round's eager localCheckpoint — one job per
    round, zero extra scans. At fixpoint the edges form stars (node ->
    component min); labels fall out of one final left join. Same
    output contract as :func:`connected_components` (and the same
    recursive-CTE oracle).
    """

    _checkpoint_signed_uv = functools.partial(_checkpoint_signed, c1="u", c2="v")
    e, sig = _checkpoint_signed_uv(
        edges.select(
            F.greatest("id_a", "id_b").alias("u"), F.least("id_a", "id_b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )

    def _large_star(df: DataFrame) -> DataFrame:
        sym = df.unionAll(df.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = m.select("u", F.least("u", "mn").alias("m"))
        return (
            sym.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(df: DataFrame) -> DataFrame:
        # df is big->small: every neighbor v of u here has v < u
        m = df.groupBy("u").agg(F.min("v").alias("m"))
        attach = (
            df.join(m, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(m.select("u", F.col("m").alias("v")))
        )
        return attach.where(F.col("u") != F.col("v")).distinct()

    converged = False
    for _ in range(max_rounds):
        e, new_sig = _checkpoint_signed_uv(_small_star(_large_star(e)))
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_rounds} "
            "rounds (needs ~log2(n) — raise max_rounds)"
        )
    # stars: each non-root points at its component min
    roots = e.groupBy("u").agg(F.min("v").alias("label"))
    out = nodes.select(F.col(id_col)).join(
        roots.select(F.col("u").alias(id_col), "label"), id_col, "left"
    )
    return out.select(
        F.col(id_col), F.coalesce(F.col("label"), F.col(id_col)).alias("cluster_id")
    )


SIMHASH_BITS = 60


def simhash(df: DataFrame, id_col: str, text_col: str = "text") -> DataFrame:
    """60-bit SimHash per document: per-bit +1/-1 token votes, bit set
    where the vote is positive. One explode + one groupBy; the 60 vote
    sums are map-side combined."""
    toks = df.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), " ")).alias("token")
    ).select(F.col(id_col), hash60(F.col("token")).alias("h"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when((F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1))) == 1, 1).otherwise(-1)
            ).alias(f"v_{b}")
            for b in range(SIMHASH_BITS)
        ]
    )
    sig = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v_{b}") > 0, F.lit(1 << b).cast("bigint")).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return votes.select(F.col(id_col), sig.alias("simhash"))


def _fold_norms(M) -> "object":
    """Row norms accumulated dimension-by-dimension — the same IEEE
    addition order as the sequential JVM/SQL fold, so values are
    bit-identical to sqrt(fold(v[k]*v[k]))."""
    import numpy as np

    acc = np.zeros(M.shape[0], dtype=np.float64)
    for k in range(M.shape[1]):
        acc = acc + M[:, k] * M[:, k]
    return np.sqrt(acc)


def embedding_near_dup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    dim: int | None = None,
    max_exact_rows: int = 500_000,
) -> DataFrame:
    """Embedding-cosine near-dup pairs above a threshold.

    Two physical strategies behind one contract, picked by corpus size:

    - ``n <= max_exact_rows``: exact all-pairs (correctness baseline),
      as an Arrow-batched block product — the corpus matrix is
      broadcast once, each task scores its row-block against it in
      numpy and emits only the pairs above threshold; the O(n^2) score
      matrix never leaves the task. The broadcast collects the corpus
      to the driver, which is exactly why this path is gated: at
      500k x 64 floats it is ~128 MB of driver state, the upper end of
      sane.
    - larger corpora: multi-table hyperplane LSH candidates + exact
      rescoring (:func:`_embedding_near_dup_lsh`) — sub-quadratic, no
      driver-side collect, precision still exactly 1.0 (every emitted
      pair is rescored with the same fold cosine); recall < 1.0 is the
      documented ANN trade and is regression-tested.

    Bit-exactness on the exact path: the dot products accumulate
    dimension-by-dimension (``C += outer(A[:,k], B[:,k])``, k
    ascending), which is the same IEEE-754 addition order as the
    sequential zip_with+aggregate fold and the SQL list_reduce oracle —
    no BLAS reassociation — so cosines match the expression form
    bit-for-bit.
    """
    import numpy as np
    import pandas as pd

    # Both strategies emit ids through a declared BIGINT schema (the
    # exact path's Arrow conversion would crash on string ids; the LSH
    # path's cast would NULL them in legacy mode) — fail loudly at
    # entry instead of either.
    id_type = dict(emb.select(id_col).dtypes)[id_col.split(".")[-1]]
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise TypeError(
            f"embedding_near_dup_pairs: id column {id_col!r} must be an "
            f"integer type (got {id_type}) — map string ids to a "
            "surrogate bigint first"
        )

    # Bounded size probe: limit(n+1).count() stops scanning once the
    # threshold is exceeded instead of counting the whole corpus.
    if emb.limit(max_exact_rows + 1).count() > max_exact_rows:
        return _embedding_near_dup_lsh(emb, id_col, vec_col, threshold, dim)

    spark = emb.sparkSession
    corpus = emb.select(F.col(id_col), F.col(vec_col)).toPandas()
    ids_b = corpus[id_col].to_numpy()
    B = np.stack(corpus[vec_col].to_numpy()).astype(np.float64)  # float32 widens exactly
    bc = spark.sparkContext.broadcast((ids_b, B, _fold_norms(B)))

    def score_blocks(batches):
        ids_n, Bn, nrm_n = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids_a = pdf[id_col].to_numpy()
            A = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            C = np.zeros((len(A), len(Bn)), dtype=np.float64)
            for k in range(A.shape[1]):
                C += np.outer(A[:, k], Bn[:, k])
            cos = C / np.outer(_fold_norms(A), nrm_n)
            r = np.floor(cos * 1000000.0 + 0.5) / 1000000.0  # round_half_up(6)
            mask = (r >= threshold) & (ids_a[:, None] < ids_n[None, :])
            ii, jj = np.nonzero(mask)
            yield pd.DataFrame(
                {"id_a": ids_a[ii], "id_b": ids_n[jj], "cosine": r[ii, jj]}
            )

    base = emb.select(F.col(id_col), F.col(vec_col)).repartition(
        spark.sparkContext.defaultParallelism
    )
    return base.mapInPandas(score_blocks, schema="id_a bigint, id_b bigint, cosine double")


def _embedding_near_dup_lsh(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int | None,
    n_tables: int = 8,
    planes_per_table: int = 4,
) -> DataFrame:
    """Scale path for near-dup pairs: LSH-bucketed candidate self-join
    + exact fold-cosine rescoring. Shuffles on 4-byte table keys only;
    nothing is ever collected to the driver. Same output contract as
    the exact path (id_a < id_b, round_half_up(cosine, 6) >= threshold)
    with recall < 1 (pairs missing from every probed bucket)."""
    from ecommerce_dataengineering_project_spark.functions.scalars import round_half_up
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        _lsh_table_assigner,
        as_double,
        dot,
        norm,
    )

    if dim is None:
        dim = emb.select(F.size(F.col(vec_col))).first()[0]
    assign = _lsh_table_assigner(dim, n_tables, planes_per_table)
    v = (
        emb.select(F.col(id_col).alias("id"), as_double(F.col(vec_col)).alias("v"))
        .withColumn("nrm", norm("v"))
    )
    keyed = v.select("id", F.explode(assign(F.col("v"))).alias("tkey"))
    cand = (
        keyed.alias("a")
        .join(keyed.alias("b"), on="tkey")
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    scored = (
        cand.join(v.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                           F.col("nrm").alias("na")), on="id_a")
        .join(v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                       F.col("nrm").alias("nb")), on="id_b")
        .select(
            "id_a",
            "id_b",
            round_half_up(dot("va", "vb") / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
    )
    # Same output contract as the exact path regardless of the source
    # id type: (id_a bigint, id_b bigint, cosine double).
    return scored.where(F.col("cosine") >= F.lit(threshold)).select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("cosine").cast("double").alias("cosine"),
    )


def keep_canonical(
    clusters: DataFrame,
    docs: DataFrame,
    order_cols: list[Column],
    id_col: str = "doc_id",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """The keep-best final stage of fuzzy dedup: given cluster labels
    (from ``connected_components``) and per-doc attributes, keep ONE
    representative per cluster — the first under ``order_cols`` (ties
    always broken by ascending id, so selection is total and
    engine-reproducible). Pairs say "these match", clusters say
    "these are one document", this says WHICH one survives — e.g.
    highest quality score wins, not the arbitrary minimum id.

    Emits the surviving rows with their ``cluster_size`` so downstream
    stages can weight or audit the collapse (size 1 = the doc was
    never a duplicate).

    Scale shape: one hash join on the id (clusters is a (id, label)
    relation, narrow), then ONE exchange on ``cluster_col`` shared by
    the rank window and the size window (same partitioning). Nothing
    driver-side; the representative choice is a row_number, not a
    collect."""
    from pyspark.sql import Window

    joined = clusters.join(docs, id_col)
    order = [*order_cols, F.col(id_col).asc()]
    w_rank = Window.partitionBy(cluster_col).orderBy(*order)
    w_size = Window.partitionBy(cluster_col)
    return (
        joined.withColumn("cluster_size", F.count(F.lit(1)).over(w_size))
        .withColumn("__rn", F.row_number().over(w_rank))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_band_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """The persisted state of incremental NEAR-dup: each accepted
    doc's LSH band keys (id, band_id, band_hash) — one ~80-byte row
    per band and doc, no text. The continuous-ingest caller appends the
    kept docs' keys after every batch; bucket the stored index by
    (band_id, band_hash) to make the probe join shuffle-free."""
    return band_keys(set_signatures(shingle_sets(docs, id_col, text_col), id_col), id_col)


def minhash_incremental(
    new_docs: DataFrame,
    history_bands: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental near-dup — the continuous-ingest variant of X2:
    a NEW batch checks against the persisted band index of everything
    already accepted (``minhash_band_index``), never rescanning
    historical text. The decision is sketch-level (≥1 band collision
    ⇒ near-dup at the index's tuned threshold) — the standard trade
    for incremental dedup at 100 TB, where exact Jaccard rescoring
    against history would mean keeping and rejoining every accepted
    document's shingle set. Per new doc:

    - ``n_history_hits``: distinct accepted docs sharing ≥1 band;
    - ``n_batch_hits``: distinct SMALLER-id batch docs sharing ≥1
      band. This is the CONSERVATIVE one-pass within-batch rule, not
      survivor-aware greedy: a doc is dropped if ANY smaller-id doc
      shares a band, even one that was itself dropped, so a chained
      family (1~2, 2~3, 1≁3) keeps only its smallest id. Deterministic
      under any partitioning; when chained families must keep their
      per-link survivors, run cluster collapse (``dedup_clusters``)
      over the batch instead — survivor-aware greedy is inherently
      sequential.
    - ``dup_of_history`` and ``keep`` (kept ⇔ no hits either way).

    Docs with fewer than 3 tokens have no shingles, hence no bands —
    they cannot collide and are always kept (same convention as the
    exact-Jaccard baseline / decontaminate).

    Scale shape: signatures are a per-document projection over the
    shingle sets (no exchange); both probes are joins on the
    high-entropy (band_id, band_hash) key — history-sized but
    skew-free, and shuffle-free for the stored side if the index is
    bucketed by that key. The final assembly is two left joins back
    to the batch ids.
    """
    # The batch band-key relation feeds THREE plan branches (the
    # history probe and both sides of the within-batch self-join); the
    # derivation behind it (text scan -> shingle sets -> 16 minhashes)
    # is the operator's expensive part, and without materialization
    # each branch re-derives it — the r15 plan audit counted the
    # scan+shingle+sig subtree 4x in one plan. Checkpoint the
    # 4-rows-per-doc skinny relation once (lazy); every branch then
    # reads the result. Same bounded-state shape as the
    # exact_jaccard_pairs shingle checkpoint above.
    sets = shingle_sets(new_docs, id_col, text_col)
    nb = band_keys(set_signatures(sets, id_col), id_col).localCheckpoint(eager=False)
    hist = history_bands.select(
        F.col(id_col).alias("__hist_id"), "band_id", "band_hash"
    )
    hist_hits = (
        nb.join(hist, ["band_id", "band_hash"])
        .select(id_col, "__hist_id")
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_history_hits"))
    )
    a, b = nb.alias("a"), nb.alias("b")
    batch_hits = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"b.{id_col}") < F.col(f"a.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias(id_col), F.col(f"b.{id_col}").alias("__p"))
        .distinct()
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_batch_hits"))
    )
    hh = F.coalesce(F.col("n_history_hits"), F.lit(0)).cast("bigint")
    bh = F.coalesce(F.col("n_batch_hits"), F.lit(0)).cast("bigint")
    return (
        new_docs.select(id_col)
        .join(hist_hits, id_col, "left")
        .join(batch_hits, id_col, "left")
        .select(
            id_col,
            hh.alias("n_history_hits"),
            bh.alias("n_batch_hits"),
            (hh > 0).alias("dup_of_history"),
            ((hh == 0) & (bh == 0)).alias("keep"),
        )
    )


def dedup_incremental_exact(
    new_docs: DataFrame,
    history_fingerprints: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Incremental exact dedup — the continuous-ingest variant of X1:
    a NEW batch checks against the persisted fingerprint index of
    everything already accepted, without ever rescanning historical
    text. Per new doc: ``dup_of_history`` (its fingerprint already
    exists in the index) and ``keep`` (not in history AND the
    batch-first copy by ascending id — so re-running the batch or
    re-ordering its partitions can't change who survives).

    The caller appends ``keep`` rows' fingerprints to the index
    afterwards; history never rewrites.

    Scale shape: history is a fingerprint-only relation (32 bytes per
    accepted doc, billions of rows fine) — the membership check is a
    left join on the hash, which Spark executes as a shuffle hash/SMJ
    join keyed on high-entropy fingerprints (no skew by
    construction). Batch-internal keep-first is ONE window over the
    same fingerprint partitioning, so the whole operator rides a
    single exchange of each side. Bucketing the persisted index by
    fingerprint removes even that at read time."""
    fp = new_docs.select(
        F.col(id_col), content_hash(text_col).alias("fingerprint")
    )
    hist = history_fingerprints.select("fingerprint").distinct().withColumn(
        "__seen", F.lit(1)
    )
    marked = fp.join(hist, "fingerprint", "left")
    from pyspark.sql import Window

    w = Window.partitionBy("fingerprint").orderBy(F.col(id_col).asc())
    return (
        marked.withColumn("dup_of_history", F.col("__seen").isNotNull())
        .withColumn("__rn", F.row_number().over(w))
        .withColumn(
            "keep", (~F.col("dup_of_history")) & (F.col("__rn") == 1)
        )
        .select(id_col, "fingerprint", "dup_of_history", "keep")
    )


def semantic_dedup(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    max_codegen_doubles: int | None = None,
    shard_col: str | None = None,
) -> DataFrame:
    """SemDeDup-style cluster-scoped embedding dedup (Abbas et al.
    2023, arXiv:2303.09540): assign every vector to its nearest
    centroid cell, find cosine near-dup pairs only WITHIN a cell, and
    keep a vector iff no same-cell neighbor with a smaller id clears
    the threshold.

    This is the scale path the global pair scan can't be: the
    candidate space shrinks from O(n^2) to sum of per-cell squares —
    with k balanced cells, a k-fold reduction — and the only wide ops
    are one exchange on the (small-int) cell key plus the keep
    anti-join. Centroids arrive as plan literals (seeded_centroids or
    a trained fit); assignment is the pure-codegen sequential-fold
    scorer (ivf_cell_exact), so with seeded centroids the whole
    operator — assignment, pairing, keep decision — reproduces
    bit-for-bit in a SQL oracle. The price vs the exact global scan
    is recall: near-dups straddling a cell boundary are missed
    (SemDeDup accepts this by design; raise the cell count only as
    sqrt-ish of corpus size to keep cells dense).

    Assignment auto-switches on plan size (similarity.cell_assign):
    past ``max_codegen_doubles`` total centroid doubles (default
    similarity.MAX_CODEGEN_CENTROID_DOUBLES ≈ 2 MB of literals — the
    point sqrt(n) cells cross at true 100-TB corpus sizes) the
    nearest-cell scorer runs as the Arrow-batched numpy matmul instead
    of the codegen fold, keeping plan size O(1) in the cell count. The
    pairing and keep stages are identical either way.

    ``shard_col`` is the 100 TB configuration (the production SemDeDup
    shape): pair only within (shard, cell), where the shard is a
    natural corpus partition (language, source, label, a hash bucket).
    SemDeDup's own envelope is n^1.5 with sqrt(n) cells (measured
    10.8x for 10x data across the sf0.1->sf1 decade, SCALE.md); with S
    shards of n/S rows each the total cost is S * (n/S)^1.5 =
    n^1.5 / sqrt(S) — and when shards GROW with the corpus (per-
    language-and-date buckets do), n-per-invocation is bounded and
    the whole operator is linear in corpus size. The recall trade is
    explicit and usually free: near-dups almost never straddle
    languages/sources, which is exactly why production pipelines shard
    there. The output gains the shard column; keep decisions are
    per-shard (a cross-shard near-dup pair keeps both members). A NULL
    shard never equals anything (SQL semantics), so NULL-shard rows
    are each their own singleton shard and are always kept — map NULLs
    to a sentinel shard upstream if they should dedup together.
    """
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        MAX_CODEGEN_CENTROID_DOUBLES,
        as_double,
        cell_assign,
        dot,
        norm,
    )
    from ecommerce_dataengineering_project_spark.functions.scalars import round_half_up

    shard_cols = [F.col(shard_col).alias("shard")] if shard_col else []
    v = emb.select(
        F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v"), *shard_cols
    )
    # The fold assigner costs n * n_cells * dim interpreted ops; a
    # small single-file corpus otherwise scores it in ONE task (and the
    # self-join recomputes it per branch). Round-robin to the session's
    # parallelism ONLY when the scan is narrower than the session — at
    # lake scale the scan already has more partitions than cores and an
    # unconditional repartition would shuffle every (wide) embedding
    # row for nothing.
    par = emb.sparkSession.sparkContext.defaultParallelism
    if v.rdd.getNumPartitions() < par:
        v = v.repartition(par)
    if max_codegen_doubles is None:
        max_codegen_doubles = MAX_CODEGEN_CENTROID_DOUBLES
    # The assignment is consumed by BOTH sides of the keep-decision
    # self-join; unmaterialized, the probe branch and the partner
    # branch each run the full nearest-cell scorer (n * n_cells * dim)
    # — the single most expensive stage of the operator, twice. The
    # lazy checkpoint scores once. This mirrors what the production
    # path (semantic_cell_index) does anyway: the assignment IS the
    # persisted index there; the in-one-query variant just keeps it in
    # task-local cache instead of a table.
    assigned = (
        v.withColumn(
            "cell",
            cell_assign(F.col("v"), centroids, "v", max_codegen_doubles),
        )
        .withColumn("nrm", norm("v"))
        .localCheckpoint(eager=False)
    )
    # ONE left-outer join carries the whole keep decision: probe row r
    # is a dup iff some same-cell partner with a SMALLER id clears the
    # threshold, so the smaller-id/cell/cosine checks ride as join
    # predicates and a bool_and over the match flag per probe row is
    # the answer. vs the r6 shape (inner pair join -> distinct dup ids
    # -> join back to the corpus) this drops two exchanges and a third
    # recompute of the assignment branch. The partner side broadcasts
    # when small; at lake scale Catalyst extracts the cell equality as
    # the shuffle key and the same plan runs as a shuffle join.
    partners = assigned.select(
        F.col("vid").alias("id_b"),
        F.col("cell").alias("cell_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
        *([F.col("shard").alias("shard_b")] if shard_col else []),
    )
    cond = (
        (F.col("cell") == F.col("cell_b"))
        & (F.col("id_b") < F.col("vid"))
        & (
            round_half_up(dot("v", "vb") / (F.col("nrm") * F.col("nb")), 6)
            >= threshold
        )
    )
    if shard_col:
        # the shard equality rides the join key alongside the cell —
        # at lake scale the exchange is on (shard, cell), so each
        # SemDeDup "invocation" is one key group, n bounded per shard
        cond = cond & (F.col("shard") == F.col("shard_b"))
    group_cols = ["vid", "cell"] + (["shard"] if shard_col else [])
    out_cols = [F.col("vid").alias(id_col)] + (
        [F.col("shard").alias(shard_col)] if shard_col else []
    )
    return (
        assigned.join(partners, cond, "left_outer")
        .groupBy(*group_cols)
        .agg(F.every(F.col("id_b").isNull()).alias("keep"))
        .select(*out_cols, "cell", "keep")
    )


def semantic_cell_index(
    emb: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_codegen_doubles: int | None = None,
) -> DataFrame:
    """The persisted state of incremental SEMANTIC dedup: each accepted
    vector's (id, cell, vector, norm) — the kept-embeddings table plus
    one int and one double, nothing more (unlike MinHash there is no
    smaller sketch to keep: semantic rescoring needs the vectors, so
    the "index" IS the accepted corpus, cell-assigned once at accept
    time). The continuous-ingest caller appends kept rows after every
    batch; PERSIST IT BUCKETED/PARTITIONED BY ``cell`` so the probe
    join in ``semantic_dedup_incremental`` never shuffles history."""
    from ecommerce_dataengineering_project_spark.operators.similarity import (
        MAX_CODEGEN_CENTROID_DOUBLES,
        as_double,
        cell_assign,
        norm,
    )

    if max_codegen_doubles is None:
        max_codegen_doubles = MAX_CODEGEN_CENTROID_DOUBLES
    v = emb.select(F.col(id_col).alias("vid"), as_double(F.col(vec_col)).alias("v"))
    return v.withColumn(
        "cell", cell_assign(F.col("v"), centroids, "v", max_codegen_doubles)
    ).withColumn("nrm", norm("v"))


def semantic_dedup_incremental(
    new_emb: DataFrame,
    history_index: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    max_codegen_doubles: int | None = None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """Incremental SemDeDup — the continuous-ingest variant of X2's
    semantic arm, completing the incremental family (exact:
    ``dedup_incremental_exact``; MinHash: ``minhash_incremental``;
    semantic: this). A NEW batch is cell-assigned with the SAME
    centroids as the accepted history and checked against (a) the
    persisted cell index of everything already accepted
    (``semantic_cell_index``) and (b) itself — history is never
    re-deduped and never rescanned beyond the probed cells. Per new
    vector:

    - ``n_history_hits``: accepted vectors in the same cell with
      cosine ≥ threshold (any id — history is already accepted, so
      every hit outranks the newcomer);
    - ``n_batch_hits``: SMALLER-id batch vectors in the same cell
      clearing the threshold — the same conservative one-pass
      within-batch rule as ``minhash_incremental`` AND the same keep
      rule as batch ``semantic_dedup`` (a chained family keeps its
      smallest id);
    - ``keep`` ⇔ no hits either way.

    Caller contract: new-batch ids are disjoint from history ids, and
    the centroids are the history's centroids — re-fitting centroids
    per batch would silently re-cell history and invalidate the index
    (version centroids WITH the index; refresh both together when
    drift warrants, then re-assign once).

    Scale shape: the new batch is assigned map-side (same codegen/
    Arrow auto-switch as ``semantic_dedup``), then ONE left-outer join
    carries both probes — the history index and the smaller-id batch
    partners ride a single tagged union, so the whole decision is one
    join + one aggregation (the ``semantic_dedup`` single-join move,
    extended with per-source conditional counts; the two-join form
    re-evaluated the assignment fold per branch). The join key is the
    ``cell`` equality — shuffle-free for the history side when the
    index is stored bucketed by cell; the batch side exchanges only
    the (small) batch. Equivalence anchor: on a fused corpus where
    history ∪ batch is deduped from scratch, a batch row's keep here
    implies more-or-equal strictness than the batch operator (history
    rows that batch dedup would have DROPPED still veto newcomers —
    the incremental trade, identical to ``minhash_incremental``'s
    conservative rule; pinned in tests).
    """
    from ecommerce_dataengineering_project_spark.functions.scalars import round_half_up
    from ecommerce_dataengineering_project_spark.operators.similarity import dot

    # ``assigned``: a caller that already cell-assigned the batch (the
    # streaming ingest loop assigns once per epoch and also persists
    # the assignment in its decision log) passes it here so the
    # nearest-cell fold is not re-run. Default path assigns and
    # checkpoints lazily: the relation feeds BOTH the probe side and
    # the within-batch partner side of the union — unmaterialized,
    # each branch re-ran the full scorer over the batch.
    nb = (
        semantic_cell_index(new_emb, centroids, id_col, vec_col, max_codegen_doubles)
        .localCheckpoint(eager=False)
        if assigned is None
        else assigned
    )
    partners = history_index.select(
        F.col("vid").alias("pid"),
        F.col("cell").alias("cell_p"),
        F.col("v").alias("vp"),
        F.col("nrm").alias("np"),
        F.lit(True).alias("from_history"),
    ).unionByName(
        nb.select(
            F.col("vid").alias("pid"),
            F.col("cell").alias("cell_p"),
            F.col("v").alias("vp"),
            F.col("nrm").alias("np"),
            F.lit(False).alias("from_history"),
        )
    )
    cos = round_half_up(dot("v", "vp") / (F.col("nrm") * F.col("np")), 6)
    cond = (
        (F.col("cell") == F.col("cell_p"))
        & (cos >= threshold)
        & (F.col("from_history") | (F.col("pid") < F.col("vid")))
    )
    hh = F.count(F.when(F.col("from_history"), 1)).cast("bigint")
    bh = F.count(F.when(~F.col("from_history"), 1)).cast("bigint")
    return (
        nb.join(partners, cond, "left_outer")
        .groupBy("vid", "cell")
        .agg(
            hh.alias("n_history_hits"),
            bh.alias("n_batch_hits"),
            F.every(F.col("pid").isNull()).alias("keep"),
        )
        .select(
            F.col("vid").alias(id_col),
            "cell",
            "n_history_hits",
            "n_batch_hits",
            "keep",
        )
    )


def substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_words: int = 10,
) -> DataFrame:
    """Exact substring-level dedup (X2): drop repeated ``chunk_words``-word
    spans corpus-wide, keep the FIRST occurrence, reassemble documents.

    The C4 / RefinedWeb "exact substring deduplication" shape: boiler-
    plate and license blocks repeat verbatim across millions of pages,
    so whole-document hashing misses them while near-dup sketches only
    flag, not excise. Chunking the token stream into fixed ``k``-word
    spans and keeping each span's first corpus occurrence removes the
    repeated text itself (reference scope: the pipeline dedups whole
    rows only — ``pipeline/spark/streaming_consumer.py`` dropDuplicates
    — this extends it below record granularity).

    Plan (two shuffles, both necessary):
      1. map-side: split -> slice into ceil(n/k) spans (no self-join,
         no Python); explode.
      2. shuffle on the span string: ``row_number`` over
         (doc_id, chunk_idx) picks the deterministic first occurrence.
      3. shuffle on doc_id: re-assemble kept spans in order via
         ``array_sort(collect_list(struct))``.
    At 100 TB the span-keyed exchange is the cost; spans are ~60 B and
    hash-partition uniformly (natural-language spans have no hot key —
    the worst case, a corpus-dominating boilerplate span, concentrates
    only identical rows which the combiner-free row_number still streams
    through one reducer; salt-and-re-rank if a single span exceeds a
    partition).

    Returns one row per surviving document: ``doc_id``, ``clean_text``
    (kept spans re-joined), ``n_chunks`` (original span count),
    ``n_kept``. Documents whose every span already appeared earlier
    drop out entirely (fully-duplicated docs).
    """
    from pyspark.sql import Window

    k = int(chunk_words)
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("__ws"),
    ).select(
        "doc_id",
        "__ws",
        F.expr(f"cast(ceil(size(__ws) / {k}.0) as bigint)").alias("n_chunks"),
    )
    # span i covers 1-based word slots [i*k+1, i*k+k]; ceil(size/k) >= 1
    # always (split("") -> [""]), so the sequence is never descending.
    spans = F.expr(
        f"transform(sequence(0, cast(n_chunks as int) - 1), "
        f"i -> struct(cast(i as bigint) as chunk_idx, "
        f"array_join(slice(__ws, i * {k} + 1, {k}), ' ') as chunk))"
    )
    exploded = base.select(
        "doc_id", "n_chunks", F.explode(spans).alias("c")
    ).select("doc_id", "n_chunks", F.col("c.chunk_idx"), F.col("c.chunk"))
    first = Window.partitionBy("chunk").orderBy("doc_id", "chunk_idx")
    kept = exploded.withColumn(
        "__rn", F.row_number().over(first)
    ).where(F.col("__rn") == 1)
    return kept.groupBy("doc_id").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(chunk_idx, chunk))), x -> x.chunk), ' ')"
        ).alias("clean_text"),
        F.max("n_chunks").alias("n_chunks"),
        F.count(F.lit(1)).alias("n_kept"),
    )
