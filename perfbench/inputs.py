"""Seeded input generation for the benchmark workloads.

Every table is a pure function of (seed, size): the same seed writes the
same bytes, and the program under test only ever receives the generated
paths. Tables use the fixture schemas the engine reads (``events``,
``lineitem``, ``documents``, ``embeddings``), so ``load_table`` and the
DuckDB oracles treat them exactly like fixture tables.

Planted duplicate structure is returned beside the data (``Planted``),
so output checks compare against known structure instead of re-deriving
it with the code under test.
"""

from __future__ import annotations

import datetime as _dt
import json
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

EVENT_TYPES = ("view", "click", "cart", "purchase", "error")
EVENT_P = (0.40, 0.30, 0.10, 0.15, 0.05)
EPOCH = _dt.datetime(2024, 1, 1)
EVENT_SPAN_DAYS = 30
EMB_DIM = 64
LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)


def events_table(seed: int, n: int, n_users: int) -> pa.Table:
    """Click-stream events spread over 30 days of January 2024, in
    event-time order (so a time-ordered replay never drops an on-time
    row to the watermark)."""
    rng = np.random.default_rng([seed, 1])
    offs = np.sort(rng.integers(0, EVENT_SPAN_DAYS * 86_400_000_000, n))
    ts = np.datetime64(EPOCH, "us") + offs.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES)[rng.choice(len(EVENT_TYPES), n, p=EVENT_P)]
            ),
            "value": pa.array(np.round(rng.gamma(2.0, 10.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def lineitem_from_purchases(bronze_values: list[str], seed: int, n_days: int) -> pa.Table:
    """Map the producer's seeded purchase JSON (``generate_bronze_purchases``)
    onto the lineitem fact the gold models read, using the engine's own
    column mapping (queries/core.py: price=l_extendedprice,
    quantity=l_quantity, member_discount=l_discount,
    supplement_price=l_tax, transaction_time=l_shipdate). The producer
    emits one purchase every ~0.5 s, so each row is shifted by a seeded
    whole number of days to give the daily aggregate and the anomaly
    model ``n_days`` points."""
    rng = np.random.default_rng([seed, 2])
    shift = rng.integers(0, n_days, len(bronze_values))
    cols: dict[str, list] = {name: [] for name in LINEITEM_SCHEMA.names}
    for i, raw in enumerate(bronze_values):
        p = json.loads(raw)
        t = _dt.datetime.strptime(p["transaction_time"], "%Y-%m-%d %H:%M:%S.%f")
        cols["l_orderkey"].append(i // 4)
        cols["l_partkey"].append(int.from_bytes(p["product_id"].encode(), "big") % 100_000)
        cols["l_suppkey"].append(i % 97)
        cols["l_linenumber"].append(i % 4 + 1)
        cols["l_quantity"].append(float(p["quantity"]))
        cols["l_extendedprice"].append(p["price"])
        cols["l_discount"].append(p["member_discount"])
        cols["l_tax"].append(p["supplement_price"])
        cols["l_returnflag"].append("R" if p["is_member"] else "N")
        cols["l_linestatus"].append("F")
        cols["l_shipdate"].append(t + _dt.timedelta(days=int(shift[i])))
    return pa.table(cols, schema=LINEITEM_SCHEMA)


@dataclass(frozen=True)
class Planted:
    """Known duplicate structure of a generated corpus."""

    n_docs: int
    n_low_quality: int  # short docs the quality filter must drop
    first_ids: tuple[int, ...]  # smallest id of each distinct kept text
    near_of: dict[int, int]  # near copy id -> its original's id
    n_tokens: dict[int, int]  # token count of each doc in first_ids
    n_vectors: int
    n_vector_copies: int  # exact embedding copies


def corpus_tables(
    seed: int,
    n_unique: int,
    n_exact: int,
    n_near: int,
    n_low: int,
    n_vec: int,
    n_vec_copies: int,
) -> tuple[pa.Table, pa.Table, Planted]:
    """Documents and embeddings with planted duplicates.

    Good documents are 60-120 tokens drawn from a 4000-word vocabulary
    with no stopwords, so every one clears the quality filter and two
    independent documents share no word 3-gram in practice. An exact
    copy repeats a good document byte for byte; a near copy drops its
    original's last token (word-3-gram Jaccard >= 57/58, far above the
    0.8 threshold). Low-quality docs have 8-15 tokens. Exact copies
    collapse to the smallest id of their text; a near pair that LSH
    banding finds collapses to the original, which the quality ordering
    ranks first (it is one token longer).
    """
    rng = np.random.default_rng([seed, 3])
    vocab = np.array([f"w{i:04d}" for i in range(4000)])
    originals = [
        list(vocab[rng.integers(0, len(vocab), int(rng.integers(60, 121)))])
        for _ in range(n_unique)
    ]
    picks = rng.permutation(n_unique)
    texts = [" ".join(t) for t in originals]
    kind = ["orig"] * n_unique
    texts += [" ".join(originals[i]) for i in picks[:n_exact]]
    kind += ["exact"] * n_exact
    texts += [" ".join(originals[i][:-1]) for i in picks[n_exact : n_exact + n_near]]
    kind += ["near"] * n_near
    texts += [
        " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(8, 16)))])
        for _ in range(n_low)
    ]
    kind += ["low"] * n_low
    order = rng.permutation(len(texts))
    doc_ids = np.empty(len(texts), dtype=np.int64)
    doc_ids[order] = np.arange(len(texts), dtype=np.int64)
    # An original's exact copies may receive a smaller id than the
    # original itself; the survivor of each text is its smallest id.
    first_id: dict[str, int] = {}
    for i, d in enumerate(doc_ids):
        if kind[i] != "low":
            first_id[texts[i]] = min(first_id.get(texts[i], int(d)), int(d))
    near_of = {
        int(doc_ids[n_unique + n_exact + j]): first_id[" ".join(originals[o])]
        for j, o in enumerate(picks[n_exact : n_exact + n_near])
    }
    docs = pa.table(
        {
            "doc_id": pa.array(doc_ids[order]),
            "text": pa.array([texts[i] for i in order]),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array([f"src{i % 4}" for i in order]),
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }
    )
    base = _unit(rng.standard_normal((n_vec, EMB_DIM)))
    copy_of = rng.choice(n_vec, n_vec_copies, replace=False)
    # exact copies: a copy shifted even by 1e-6 can fall into another
    # cell than its original, where cell-scoped dedup never compares them
    emb = np.vstack([base, base[copy_of]]).astype(np.float32)
    vorder = rng.permutation(len(emb))
    planted = Planted(
        n_docs=len(texts),
        n_low_quality=n_low,
        first_ids=tuple(sorted(first_id.values())),
        near_of=near_of,
        n_tokens={d: len(t.split(" ")) for t, d in first_id.items()},
        n_vectors=len(emb),
        n_vector_copies=n_vec_copies,
    )
    return docs, _emb_table(np.arange(len(emb), dtype=np.int64), emb[vorder]), planted


def _unit(m: np.ndarray) -> np.ndarray:
    return m / np.linalg.norm(m, axis=1, keepdims=True)


def _emb_table(ids: np.ndarray, vecs: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array((ids % 8).astype(np.int32)),
        }
    )

