"""Property-based tests (hypothesis) for the cross-engine invariants
the oracle harness depends on."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from ecommerce_dataengineering_project_spark.ml.isolation_forest import IsolationForest


@pytest.fixture(scope="module")
def spark_global(spark):
    return spark


def _py_round_half_up(x: float, scale: int) -> float:
    import math

    p = float(10**scale)
    return math.floor(x * p + 0.5) / p


@given(
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    st.integers(min_value=0, max_value=6),
)
@settings(max_examples=300, deadline=None)
def test_round_half_up_matches_duckdb(x, scale):
    """The engine's portable rounding and its SQL twin are the same
    function on any IEEE-754 engine (the whole point of round_half_up:
    Spark's round() and DuckDB's round() disagree on doubles)."""
    from ecommerce_dataengineering_project_spark.functions.scalars import sql_round_half_up

    expr = sql_round_half_up("?", scale)
    (duck_val,) = duckdb.execute(f"SELECT {expr}", [x]).fetchone()
    assert duck_val == _py_round_half_up(x, scale)


@given(st.lists(st.floats(-100, 100, allow_nan=False), min_size=2, max_size=40))
@settings(max_examples=50, deadline=None)
def test_isolation_forest_scores_bounded(xs):
    import numpy as np

    X = np.array(xs).reshape(-1, 1)
    s = IsolationForest(n_estimators=10, seed=1).fit(X).score_samples(X)
    assert ((s > 0.0) & (s <= 1.0)).all()


@given(st.integers(min_value=0, max_value=2**61 - 2))
@settings(max_examples=200, deadline=None)
def test_minhash_universal_hash_stays_in_int64(x31):
    """The MinHash universal-hash arithmetic must never overflow int64
    for any 31-bit input (the portability precondition the dedup
    module's docstring claims)."""
    from ecommerce_dataengineering_project_spark.operators.dedup import (
        M31,
        M61,
        MINHASH_A,
        MINHASH_B,
    )

    x = x31 % M31
    for a, b in zip(MINHASH_A, MINHASH_B):
        v = a * x + b
        assert v < 2**63  # no int64 overflow on any engine
        assert 0 <= v % M61 < M61


@pytest.mark.parametrize("n", [1, 2, 3])
def test_shingles_match_duckdb_on_edge_texts(spark, n):
    """Shingle hashing parity on edge-case texts (short docs, repeated
    tokens, single char, empty and NULL text) — the guard paths of the
    Spark expression — for both the per-document sets and their
    exploded rows."""
    from ecommerce_dataengineering_project_spark.operators.dedup import (
        shingle_sets,
        shingles,
    )

    texts = ["a", "a b", "a b c", "a b c d", "x x x x x", "one two one two one", "", None]
    rows = list(enumerate(texts))
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {(r.doc_id, r.shingle) for r in shingles(df, "doc_id", n=n).collect()}
    sets = {r.doc_id: r.shingle_set for r in shingle_sets(df, "doc_id", n=n).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE d (doc_id INT, text VARCHAR)")
    con.executemany("INSERT INTO d VALUES (?, ?)", rows)
    joined = " || ' ' || ".join(f"ws[i+{k}]" for k in range(n))
    want = set(
        con.sql(
            f"""
            WITH t AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM d)
            SELECT DISTINCT doc_id,
                   CAST(CONCAT('0x', SUBSTR(SHA256({joined}), 1, 15)) AS BIGINT)
            FROM t, UNNEST(GENERATE_SERIES(1, LEN(ws) - {n - 1})) AS s(i)
            """
        ).fetchall()
    )
    assert got == want
    # one row per document (empty set for short, empty and NULL texts),
    # no repeated hash inside a set, and the same shingles as the rows
    assert sorted(sets) == [i for i, _ in rows]
    assert all(len(s) == len(set(s)) for s in sets.values())
    assert {(i, h) for i, s in sets.items() for h in s} == want


def test_minhash_lsh_matches_oracle_with_short_empty_and_null_docs(spark):
    """The set pipeline equals the DuckDB MinHash-LSH oracle on a corpus
    mixing near-duplicate families with documents that have no
    shingles (fewer than 3 tokens, empty, NULL). Those documents never
    pair: an empty set has a NULL signature, and banding it would give
    every empty document the same band hash."""
    import random

    from ecommerce_dataengineering_project_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_lsh_dedup,
        set_signatures,
        shingle_sets,
    )
    from ecommerce_dataengineering_project_spark.queries.ext_dedup import (
        JACCARD_THRESHOLD,
        ORACLES,
    )

    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(400)]
    rows, doc_id = [], 0
    for _ in range(12):
        base = [rnd.choice(vocab) for _ in range(rnd.randrange(20, 60))]
        for copy in range(3):
            toks = list(base)
            for _ in range(copy):  # 0, 1 or 2 single-token edits
                toks[rnd.randrange(len(toks))] = rnd.choice(vocab)
            rows.append((doc_id, " ".join(toks)))
            doc_id += 1
    no_shingles = ["", "", None, None, "a", "a", "a b", "a b"]
    short_ids = set()
    for t in no_shingles:
        rows.append((doc_id, t))
        short_ids.add(doc_id)
        doc_id += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in minhash_lsh_dedup(df, "doc_id", threshold=JACCARD_THRESHOLD).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(con.sql(ORACLES["dedup_minhash_lsh"]).fetchall())
    assert got == want
    assert len(got) >= 12  # the near-duplicate families do pair
    cand = lsh_candidate_pairs(set_signatures(shingle_sets(df, "doc_id"), "doc_id"), "doc_id")
    cand_ids = {i for r in cand.collect() for i in (r.id_a, r.id_b)}
    assert cand_ids and not cand_ids & short_ids


@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000)), min_size=1, max_size=30
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 1000), st.integers(0, 99)),
        min_size=1,
        max_size=30,
    ),
)
@settings(max_examples=20, deadline=None)
def test_asof_join_matches_pandas_merge_asof(spark_global, left_rows, right_rows):
    """asof_join (union-sentinel + window) agrees with pandas
    merge_asof(backward, by=key) on random keyed time series."""
    import pandas as pd

    from ecommerce_dataengineering_project_spark.operators.joins import asof_join

    spark = spark_global
    # dedupe right on (key, ts): merge_asof picks the LAST among equal
    # ts while the operator resolves by greatest value — align inputs
    right_rows = list({(k, ts): v for k, ts, v in right_rows}.items())
    right_rows = [(k, ts, v) for (k, ts), v in right_rows]
    left = spark.createDataFrame(
        [(k, ts * 1000000) for k, ts in left_rows], "k int, lts long"
    ).select("k", F.timestamp_micros(F.col("lts")).alias("lts"))
    right = spark.createDataFrame(
        [(k, ts * 1000000, v) for k, ts, v in right_rows], "k int, rts long, v int"
    ).select("k", F.timestamp_micros(F.col("rts")).alias("rts"), "v")
    got = {
        (r.k, r.lts): r.v
        for r in asof_join(left, right, "k", "lts", "rts", ["v"]).collect()
    }
    lp = pd.DataFrame([(k, pd.Timestamp(ts, unit="s")) for k, ts in left_rows], columns=["k", "ts"]).sort_values("ts", kind="stable")
    rp = pd.DataFrame(
        [(k, pd.Timestamp(ts, unit="s"), v) for k, ts, v in right_rows],
        columns=["k", "ts", "v"],
    ).sort_values(["ts", "v"], kind="stable")
    want_df = pd.merge_asof(lp, rp, on="ts", by="k", direction="backward")
    for _, row in want_df.iterrows():
        v = None if pd.isna(row.v) else int(row.v)
        assert got[(row.k, row.ts.to_pydatetime())] == v


@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 500)), min_size=1, max_size=20
    ),
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 500), st.integers(0, 99)),
        min_size=1,
        max_size=20,
    ),
)
@settings(max_examples=10, deadline=None)
def test_asof_join_forward_matches_pandas(spark_global, left_rows, right_rows):
    """forward direction: earliest right row with rts >= lts."""
    import pandas as pd

    from ecommerce_dataengineering_project_spark.operators.joins import asof_join

    spark = spark_global
    right_rows = [(k, ts, v) for (k, ts), v in
                  {(k, ts): v for k, ts, v in right_rows}.items()]
    left = spark.createDataFrame(
        [(k, ts * 1000000) for k, ts in left_rows], "k int, lts long"
    ).select("k", F.timestamp_micros(F.col("lts")).alias("lts"))
    right = spark.createDataFrame(
        [(k, ts * 1000000, v) for k, ts, v in right_rows], "k int, rts long, v int"
    ).select("k", F.timestamp_micros(F.col("rts")).alias("rts"), "v")
    got = {
        (r.k, r.lts): r.v
        for r in asof_join(
            left, right, "k", "lts", "rts", ["v"], direction="forward"
        ).collect()
    }
    lp = pd.DataFrame(
        [(k, pd.Timestamp(ts, unit="s")) for k, ts in left_rows], columns=["k", "ts"]
    ).sort_values("ts", kind="stable")
    rp = pd.DataFrame(
        [(k, pd.Timestamp(ts, unit="s"), v) for k, ts, v in right_rows],
        columns=["k", "ts", "v"],
    ).sort_values(["ts", "v"], ascending=[True, False], kind="stable")
    want_df = pd.merge_asof(lp, rp, on="ts", by="k", direction="forward")
    for _, row in want_df.iterrows():
        v = None if pd.isna(row.v) else int(row.v)
        assert got[(row.k, row.ts.to_pydatetime())] == v


def test_asof_join_tie_break_greatest_wins(spark):
    """Duplicate (key, ts) right rows resolve to the GREATEST value in
    both directions (the documented contract; the forward path used to
    deliver the smallest)."""
    from ecommerce_dataengineering_project_spark.operators.joins import asof_join

    left = spark.createDataFrame([(1, 10_000_000)], "k int, lts long").select(
        "k", F.timestamp_micros(F.col("lts")).alias("lts")
    )
    right = spark.createDataFrame(
        [(1, 10_000_000, 3), (1, 10_000_000, 7), (1, 10_000_000, 5)],
        "k int, rts long, v int",
    ).select("k", F.timestamp_micros(F.col("rts")).alias("rts"), "v")
    for direction in ("backward", "forward"):
        [row] = asof_join(
            left, right, "k", "lts", "rts", ["v"], direction=direction
        ).collect()
        assert row.v == 7, direction


def test_connected_components_shapes(spark):
    """Chain (worst-case diameter), two components, and singletons all
    converge to min-member labels."""
    from ecommerce_dataengineering_project_spark.operators.dedup import connected_components

    # chain 1-2-3-4-5, triangle 10-11-12 (with redundant edge), singletons 20, 21
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame(
        [(n,) for n in [1, 2, 3, 4, 5, 10, 11, 12, 20, 21]], "doc_id long"
    )
    got = {
        r.doc_id: r.cluster_id
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 21}


def test_connected_components_exhausted_rounds_fail_loud(spark):
    """A path graph with diameter > max_rounds must NOT silently return
    non-transitively-closed cluster ids: the default falls back to the
    O(log n) star variant (with a RuntimeWarning) and still produces
    correct labels; on_exhausted="raise" raises."""
    import warnings

    from ecommerce_dataengineering_project_spark.operators.dedup import connected_components

    # path 1-2-...-30: diameter 29 > max_rounds=3
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 30)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(n,) for n in range(1, 31)], "doc_id long")

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(
            edges, nodes, max_rounds=3, on_exhausted="raise"
        ).collect()

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = {
            r.doc_id: r.cluster_id
            for r in connected_components(edges, nodes, max_rounds=3).collect()
        }
    assert any(issubclass(w.category, RuntimeWarning) for w in caught)
    assert got == {n: 1 for n in range(1, 31)}


def test_stratified_sample_rate_and_determinism(spark, sf_dir):
    """Sampled fraction tracks the per-stratum permille (binomial
    tolerance) and the decision is bit-stable across runs."""
    from ecommerce_dataengineering_project_spark.queries.ext_stats import (
        SAMPLE_RATES,
        q_sample_stratified,
    )
    from ecommerce_dataengineering_project_spark.sources.readers import load_table

    li = load_table(spark, sf_dir, "lineitem")
    totals = {r["l_returnflag"]: r["cnt"] for r in
              li.groupBy("l_returnflag").agg(F.count("*").alias("cnt")).collect()}
    s1 = q_sample_stratified(spark, sf_dir)
    got = {r["l_returnflag"]: r["cnt"] for r in
           s1.groupBy("l_returnflag").agg(F.count("*").alias("cnt")).collect()}
    import math
    for flag, permille in SAMPLE_RATES.items():
        n, p = totals[flag], permille / 1000.0
        expect, sd = n * p, math.sqrt(n * p * (1 - p))
        assert abs(got.get(flag, 0) - expect) < 6 * sd + 5, (flag, got.get(flag), expect)
    # determinism: same rows both runs
    s2 = q_sample_stratified(spark, sf_dir)
    assert s1.exceptAll(s2).count() == 0 and s2.exceptAll(s1).count() == 0


def test_star_cc_shapes_and_random_graphs(spark):
    """Large-star/small-star CC agrees with min-label propagation on a
    long chain (the adversarial shape it exists for), disjoint cliques,
    singletons, and a seeded random graph."""
    import random

    from ecommerce_dataengineering_project_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    def run(edge_list, node_list):
        edges = spark.createDataFrame(edge_list, "id_a long, id_b long")
        nodes = spark.createDataFrame([(n,) for n in node_list], "doc_id long")
        star = {
            r.doc_id: r.cluster_id
            for r in connected_components_star(edges, nodes).collect()
        }
        plain = {
            r.doc_id: r.cluster_id
            for r in connected_components(edges, nodes, max_rounds=200).collect()
        }
        assert star == plain
        return star

    # 40-node chain: diameter 39, log-round algorithm must still finish
    chain = [(i, i + 1) for i in range(1, 40)]
    got = run(chain, list(range(1, 41)) + [99])
    assert all(got[n] == 1 for n in range(1, 41)) and got[99] == 99

    rnd = random.Random(7)
    nodes = list(range(100))
    edges = [
        (rnd.randrange(100), rnd.randrange(100)) for _ in range(60)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    run(edges, nodes)


def test_keep_canonical_picks_best_not_min_id(spark):
    """The representative is the ORDER winner (quality desc, ties by
    ascending id), not the cluster label's minimum id; singletons
    survive with cluster_size 1."""
    from ecommerce_dataengineering_project_spark.operators.dedup import (
        connected_components,
        keep_canonical,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 9)], "doc_id long")
    clusters = connected_components(edges, nodes)
    attrs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (9, 0.5)], "doc_id long, quality double"
    )
    kept = {
        r.cluster_id: r
        for r in keep_canonical(
            clusters, attrs, [F.col("quality").desc()]
        ).collect()
    }
    assert set(kept) == {1, 9}
    # cluster {1,2,3}: quality tie 2 vs 3 -> lower id 2 wins; NOT the
    # min-label doc 1
    assert kept[1].doc_id == 2 and kept[1].cluster_size == 3
    assert kept[9].doc_id == 9 and kept[9].cluster_size == 1


def test_dedup_incremental_exact_semantics(spark):
    from ecommerce_dataengineering_project_spark.operators.dedup import (
        content_hash,
        dedup_incremental_exact,
    )

    hist_docs = spark.createDataFrame(
        [(0, "already accepted"), (2, "old news")], "doc_id long, text string"
    )
    history = hist_docs.select(content_hash("text").alias("fingerprint"))
    batch = spark.createDataFrame(
        [
            (11, "already accepted"),   # dup of history -> drop
            (13, "fresh content"),      # unique -> keep
            (15, "twice in batch"),     # batch-first -> keep
            (17, "twice in batch"),     # batch-second -> drop
            (19, "old news"),           # dup of history -> drop
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in dedup_incremental_exact(batch, history).collect()}
    assert {d for d, r in rows.items() if r.keep} == {13, 15}
    assert {d for d, r in rows.items() if r.dup_of_history} == {11, 19}
    # an empty history keeps every batch-first copy
    empty = history.where(F.lit(False))
    rows2 = {r.doc_id: r for r in dedup_incremental_exact(batch, empty).collect()}
    assert {d for d, r in rows2.items() if r.keep} == {11, 13, 15, 19}
    assert not any(r.dup_of_history for r in rows2.values())


def test_minhash_incremental_contracts(spark):
    """Incremental near-dup: an exact copy of a history doc is flagged
    dup_of_history; a batch-internal copy keeps only the smallest id;
    a short (<3-token) doc has no bands and is always kept; a novel
    doc is kept."""
    from ecommerce_dataengineering_project_spark.operators.dedup import (
        minhash_band_index,
        minhash_incremental,
    )

    text = "the quick brown fox jumps over the lazy dog again and again"
    hist_docs = spark.createDataFrame([(0, text)], "doc_id long, text string")
    new_docs = spark.createDataFrame(
        [
            (1, text),  # exact copy of history -> dup_of_history
            (3, "totally different content about spark incremental dedup pipelines"),
            (5, "totally different content about spark incremental dedup pipelines"),
            (7, "tiny doc"),  # < 3 tokens: no shingles, always kept
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in minhash_incremental(new_docs, minhash_band_index(hist_docs)).collect()
    }
    assert out[1].dup_of_history and not out[1].keep
    assert out[3].keep and not out[3].dup_of_history  # batch-first copy
    assert not out[5].keep and out[5].n_batch_hits == 1  # later copy dropped
    assert out[7].keep and out[7].n_history_hits == 0 and out[7].n_batch_hits == 0
