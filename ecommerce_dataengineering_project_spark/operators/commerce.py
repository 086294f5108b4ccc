"""Customer-analytics operators over the orders/lineitem tables.

``fct_purchases`` is the reference's gold model over lineitem. The
reference's analytical layer stops at daily revenue + anomaly
flags (anomaly_detection.py:25-43); the rest are the next three queries
an e-commerce warehouse grows immediately after that — segmentation
(RFM), affinity (market-basket pair counts), and trend smoothing
(exponentially decayed revenue). All three are classic one-to-two
shuffle shapes; none needs anything outside DataFrame ops.

Scale notes are per-operator; the common theme is: aggregate FIRST so
every expensive step (ntile windows, pair joins, decay joins) runs on
the collapsed per-key relation, never on raw line items.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.functions.revenue import final_amount
from ecommerce_dataengineering_project_spark.functions.scalars import round_half_up

N_TILES = 5


def lineitem_amount() -> Column:
    """Gold-model revenue over lineitem's columns (purchase semantics:
    price=l_extendedprice, quantity=l_quantity,
    member_discount=l_discount, supplement_price=l_tax)."""
    return final_amount("l_extendedprice", "l_quantity", "l_discount", "l_tax")


def fct_purchases(lineitem: DataFrame) -> DataFrame:
    """The gold-model projection (fct_purchases.sql:30-47) of lineitem:
    one row per line item, no shuffle."""
    return lineitem.select(
        F.col("l_orderkey").cast("string").alias("transaction_id"),
        F.col("l_linenumber").alias("line_number"),
        F.col("l_partkey").cast("string").alias("product_id"),
        F.to_date("l_shipdate").alias("purchase_date"),
        lineitem_amount().alias("final_amount"),
        (F.col("l_returnflag") == F.lit("R")).alias("is_member"),
    )


def rfm_segments(
    orders: DataFrame,
    cust_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    n_tiles: int = N_TILES,
) -> DataFrame:
    """Recency/Frequency/Monetary scoring: quintile (``ntile``) ranks
    of each customer's days-since-last-order, order count, and rounded
    lifetime spend, plus a coarse segment label. Higher score = better
    on every axis (5 = most recent / most frequent / highest spend).

    Determinism: every ntile ordering carries the customer key as the
    final tiebreak, and monetary is rounded to cents BEFORE ranking,
    so the tile assignment is identical on any engine or partitioning.

    Scale shape: one shuffle collapses orders to one row per customer;
    the reference "now" is a 1-row aggregate broadcast back (never a
    global window). The ntile windows are single-partition by nature
    (a global rank) — correct here because the ranked relation is
    per-customer, already 3-4 orders of magnitude smaller than orders;
    for billions of customers swap ntile for a percent_rank over a
    range-partitioned sort, same downstream contract.
    """
    per_cust = orders.groupBy(F.col(cust_col).alias("custkey")).agg(
        F.max(date_col).alias("last_order"),
        F.count("*").alias("frequency"),
        round_half_up(F.sum(amount_col), 2).alias("monetary"),
    )
    now = orders.agg(F.max(date_col).alias("__now"))
    scored = per_cust.join(F.broadcast(now)).withColumn(
        "recency_days", F.datediff(F.col("__now"), F.col("last_order"))
    )
    r_w = Window.orderBy(F.col("recency_days").desc(), F.col("custkey").asc())
    f_w = Window.orderBy(F.col("frequency").asc(), F.col("custkey").asc())
    m_w = Window.orderBy(F.col("monetary").asc(), F.col("custkey").asc())
    seg = (
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4) & (F.col("m_score") >= 4),
            "champion",
        )
        .when((F.col("r_score") >= 3) & (F.col("f_score") >= 3), "loyal")
        .when((F.col("r_score") <= 2) & (F.col("m_score") >= 4), "at_risk_big_spender")
        .when(F.col("r_score") <= 2, "hibernating")
        .otherwise("regular")
    )
    return (
        scored.select(
            "custkey",
            "recency_days",
            "frequency",
            "monetary",
            F.ntile(n_tiles).over(r_w).alias("r_score"),
            F.ntile(n_tiles).over(f_w).alias("f_score"),
            F.ntile(n_tiles).over(m_w).alias("m_score"),
        )
        .withColumn("segment", seg)
    )


# the pair explode shared by every basket consumer — ONE copy, so a
# fix here reaches basket_pairs, item_item_recs, AND
# graph.copurchase_edges (previously three byte-identical inline
# copies, which is exactly how the max_basket_items cap existed in
# only one of them)
_PAIR_EXPLODE = (
    "flatten(transform(items, (x, i) -> "
    "transform(slice(items, i + 2, size(items)), "
    "y -> named_struct('a', x, 'b', y))))"
)


def order_baskets(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    max_basket_items: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Per-order sorted distinct-item baskets — the shared first stage
    of every basket-explode consumer: ONE shuffle on the order key
    (``collect_set`` partial-aggregates map-side). ``max_basket_items``
    drops bot baskets (a 10k-item basket is 50M pairs, not a signal).

    ``materialize`` (default on) snapshots the relation with an eager
    localCheckpoint, NOT ``persist()``: a cache entry pinned under a
    lazily-returned operator result can never be unpersisted by the
    caller and leaks executor storage for the session's lifetime;
    checkpoint blocks are GC-collected once the result is released.
    Multi-consumer callers (``basket_pairs``: 3 passes,
    ``item_item_recs``: 2) keep the default; a SINGLE-consumer caller
    that materializes its own derived relation one step later
    (``graph.copurchase_edges`` -> thresholded edges) passes ``False``
    — eagerly writing the widest intermediate it reads exactly once is
    pure overhead (measured 1.7x on the sf0.1 triangle census)."""
    b = lineitem.groupBy(F.col(order_col).alias("orderkey")).agg(
        F.sort_array(F.collect_set(F.col(item_col))).alias("items")
    )
    if max_basket_items is not None:
        b = b.where(F.size("items") <= max_basket_items)
    return b.localCheckpoint(eager=True) if materialize else b


def basket_pair_counts(baskets: DataFrame, min_support: int = 1) -> DataFrame:
    """``(a, b, pair_orders)`` over a baskets relation: the codegen
    ``transform``/``flatten`` pair explode (never a self-join) + one
    pair-count shuffle, thresholded at ``min_support``."""
    return (
        baskets.select(F.explode(F.expr(_PAIR_EXPLODE)).alias("p"))
        .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("pair_orders"))
        .where(F.col("pair_orders") >= min_support)
    )


def basket_pairs(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_support: int = 2,
    max_basket_items: int | None = None,
) -> DataFrame:
    """Market-basket affinity: co-occurrence counts + lift for every
    item pair appearing together in at least ``min_support`` orders.

    Shape: ONE shuffle collapses line items to a sorted distinct-item
    array per order (``collect_set`` partial-aggregates map-side);
    pair generation is then a pure codegen ``transform``/``flatten``
    explode over each basket array — no self-join, no second pass over
    lineitem — and the only other wide op is the pair-count shuffle.
    (The naive formulation — distinct + self-join on the order key +
    pair groupBy — pays four exchanges for the same answer.) Each
    order contributes C(basket_size, 2) pairs; basket size bounds the
    blowup: retail baskets are tens of items (this fixture maxes at 13
    -> <=78 pairs). For adversarial feeds, ``max_basket_items`` drops
    larger baskets — the standard cap in production co-occurrence
    mining; a 10k-item "basket" is a bot, not a signal, and would
    contribute 50M pairs.

    Lift = P(a,b) / (P(a)P(b)) over the order universe, computed from
    the same basket relation and rounded for engine parity.
    """
    # three consumers (order count, item counts, pair explode) share
    # the one-per-order checkpointed relation
    baskets = order_baskets(lineitem, order_col, item_col, max_basket_items)
    n_orders = baskets.count()
    # consumed twice (both lift-side broadcasts): lazy checkpoint so
    # the explode+count pass over the baskets runs once, not per
    # broadcast build (r15 plan audit)
    item_counts = (
        baskets.select(F.explode("items").alias("i"))
        .groupBy("i")
        .agg(F.count("*").alias("i_orders"))
        .localCheckpoint(eager=False)
    )
    pairs = basket_pair_counts(baskets, min_support).select(
        F.col("a").alias("item_a"),
        F.col("b").alias("item_b"),
        "pair_orders",
    )
    return (
        pairs.join(
            F.broadcast(item_counts.withColumnRenamed("i", "item_a").withColumnRenamed("i_orders", "a_orders")),
            "item_a",
        )
        .join(
            F.broadcast(item_counts.withColumnRenamed("i", "item_b").withColumnRenamed("i_orders", "b_orders")),
            "item_b",
        )
        .select(
            "item_a",
            "item_b",
            "pair_orders",
            round_half_up(
                F.col("pair_orders").cast("double")
                * F.lit(float(n_orders))
                / (F.col("a_orders") * F.col("b_orders")),
                6,
            ).alias("lift"),
        )
    )


DECAY = 0.9
DECAY_WINDOW_DAYS = 30


def decay_weights(
    alpha: float = DECAY, window_days: int = DECAY_WINDOW_DAYS
) -> list[float]:
    """The decay weight table ``alpha**k`` as Python-computed double
    literals. Injected verbatim into BOTH the Spark plan and the SQL
    oracle, so the weights are bit-identical across engines — never
    recomputed via each engine's own ``pow`` (libm implementations are
    not guaranteed to round identically)."""
    w = []
    acc = 1.0
    for _ in range(window_days):
        w.append(acc)
        acc *= alpha
    return w


def decayed_daily_revenue(
    orders: DataFrame,
    date_col: str = "o_orderdate",
    amount_col: str = "o_totalprice",
    alpha: float = DECAY,
    window_days: int = DECAY_WINDOW_DAYS,
) -> DataFrame:
    """Exponentially decayed daily revenue: for each order date ``d``,
    ``sum(rev[d-k] * alpha**k for k in 0..window_days-1)`` over the
    calendar-day differences actually present (gap days contribute
    nothing, exactly as an EWMA over a sparse series should).

    Scale shape: raw orders collapse to per-day partials first (ONE
    shuffle, map-side combined; daily totals rounded to cents so the
    smoothing input is engine-exact). The decay then runs on the tiny
    daily relation — years of history is ~10^3 rows regardless of raw
    volume — via a bin-bucketed self-join (equi-join on day buckets,
    never a BroadcastNestedLoop theta join): each past day lands in
    one bucket, each current day probes its own and the previous
    bucket, and the exact ``0 <= diff < window_days`` predicate prunes
    after the equi-match.
    """
    daily = (
        orders.groupBy(F.to_date(F.col(date_col)).alias("day"))
        .agg(round_half_up(F.sum(amount_col), 2).alias("revenue"))
        .withColumn("day_idx", F.datediff(F.col("day"), F.lit("1970-01-01")))
    )
    w = decay_weights(alpha, window_days)
    weight_arr = F.array(*[F.lit(x) for x in w])

    cur = daily.select(
        F.col("day").alias("day"),
        F.col("day_idx").alias("cur_idx"),
        F.explode(
            F.array(
                F.floor(F.col("day_idx") / window_days),
                F.floor(F.col("day_idx") / window_days) - 1,
            )
        ).alias("__bucket"),
    )
    past = daily.select(
        F.col("day_idx").alias("past_idx"),
        F.col("revenue").alias("past_revenue"),
        F.floor(F.col("day_idx") / window_days).alias("__bucket"),
    )
    diff = F.col("cur_idx") - F.col("past_idx")
    smoothed = (
        cur.join(past, "__bucket")
        .where((diff >= 0) & (diff < window_days))
        .withColumn(
            "__w", F.element_at(weight_arr, (diff + 1).cast("int"))
        )
        .groupBy("day")
        .agg(
            round_half_up(F.sum(F.col("past_revenue") * F.col("__w")), 4).alias(
                "decayed_revenue"
            ),
            F.count("*").alias("days_in_window"),
        )
    )
    return smoothed.join(daily.select("day", "revenue"), "day").select(
        "day", "revenue", "decayed_revenue", "days_in_window"
    )


def item_item_recs(
    lineitem: DataFrame,
    order_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    min_support: int = 2,
    k: int = 5,
) -> DataFrame:
    """Item-item collaborative filtering: top-``k`` recommendations per
    item by binary cosine over the order universe —
    ``sim(a,b) = co_orders(a,b) / sqrt(orders(a) * orders(b))``.

    Same one-exchange basket-array shape as :func:`basket_pairs` (the
    pair explode never self-joins lineitem); item order-counts come off
    the same persisted basket relation; similarity is ranked AFTER
    cents-style rounding so the deterministic ``(sim DESC, rec ASC)``
    order is identical in any engine. All inputs to the one
    double-division are exact integers, and sqrt is a single IEEE op —
    oracle-exact at 6 decimals.
    """
    baskets = order_baskets(lineitem, order_col, item_col)
    # item_counts feeds both cosine sides (ia/ib) and pairs feeds both
    # halves of the symmetric union — without materialization each
    # reference re-ran its explode+aggregate pass over the baskets
    # (r15 plan audit: 10 exchanges). Lazy checkpoints compute each
    # once; both relations are item-/pair-count-sized.
    item_counts = (
        baskets.select(F.explode("items").alias("p"))
        .groupBy("p")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=False)
    )
    pairs = (
        basket_pair_counts(baskets, min_support)
        .withColumnRenamed("pair_orders", "support")
        .localCheckpoint(eager=False)
    )
    sym = pairs.unionAll(
        pairs.select(
            F.col("b").alias("a"), F.col("a").alias("b"), F.col("support")
        )
    )
    ia = item_counts.select(F.col("p").alias("a"), F.col("c").alias("ca"))
    ib = item_counts.select(F.col("p").alias("b"), F.col("c").alias("cb"))
    scored = (
        sym.join(ia, "a")
        .join(ib, "b")
        .select(
            "a",
            "b",
            "support",
            round_half_up(
                F.col("support") / F.sqrt(F.col("ca") * F.col("cb")), 6
            ).alias("sim"),
        )
    )
    w = Window.partitionBy("a").orderBy(F.col("sim").desc(), F.col("b").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select(
            F.col("a").alias("item"),
            F.col("b").alias("rec"),
            "support",
            "sim",
        )
    )
