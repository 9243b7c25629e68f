"""Multi-join analytic shapes (SURVEY sec 2.F EXT -- warehouse breadth).

The reference never joins (single-entity pipeline); these are the
classic decision-support shapes a warehouse user runs on the same
tables, exercising join *ordering* and broadcast decisions beyond the
two-table q_star_join/q_fact_join:

- Q3 shape: selective dim filter -> fact join -> grouped top-k.
- Q5 shape: 6-table snowflake with a cycle-closing equality
  (customer nation == supplier nation) that forces a join-order
  choice no pairwise greedy plan gets wrong at this size, and AQE
  re-plans at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from roborock_data_pipeline_spark.registry import query
from roborock_data_pipeline_spark.sources.tables import load, spread

CUTOFF = "1998-03-15"


@query(
    "q_tpch_q3_shape",
    oracle=f"""
    SELECT l.l_orderkey,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '{CUTOFF}'
      AND l.l_shipdate > TIMESTAMP '{CUTOFF}'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (shipping-priority): revenue of still-unshipped
    BUILDING-segment orders, top-10.

    Plan shape that matters at 100 TB: the segment filter prunes
    customer ~5x before its join (customer scales with SF, so the
    broadcast-vs-SMJ call is left to Catalyst/AQE -- locally it
    auto-broadcasts); both date filters push to the parquet scans
    (PushedFilters); the grouped top-10 plans as partial-agg ->
    exchange -> TakeOrderedAndProject, never a global sort of all
    groups."""
    c = load(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit(CUTOFF).cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit(CUTOFF).cast("timestamp")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_q5_shape",
    oracle="""
    SELECT n.n_name AS nation,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def q_tpch_q5_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local-supplier volume): revenue by nation for
    ASIA, one order-year, counting only lineitems whose supplier sits
    in the customer's own nation.

    The cycle edge (c_nationkey = s_nationkey) rides the supplier
    join as an extra predicate instead of forcing a second shuffle of
    the fact. nation/region (fixed 25/5 rows) broadcast explicitly;
    customer/supplier scale with SF, so their join strategy is left
    to Catalyst/AQE -- auto-broadcast locally, SMJ at warehouse scale."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (F.col("c_nationkey") == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "q_scd2_intervals",
    oracle="""
    WITH s AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN LAG(event_type) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)
                         IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
    ),
    g AS (
        SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS seg
        FROM s
    ),
    segs AS (
        SELECT user_id, seg, MIN(event_type) AS state,
               MIN(ts) AS valid_from, COUNT(*) AS n_events
        FROM g GROUP BY user_id, seg
    )
    SELECT user_id, state, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from) AS valid_to,
           n_events,
           LEAD(valid_from) OVER (PARTITION BY user_id
                                  ORDER BY valid_from) IS NULL AS is_current
    FROM segs
    """,
)
def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse each user's
    event stream into state-validity intervals (valid_from inclusive,
    valid_to = next interval's start, NULL while current) -- the
    snapshot-to-history derivation every warehouse runs on device
    state feeds (reference monitor state, pipeline.py:143-156, kept
    only the latest state; SCD2 keeps the full history).

    One shuffle on user_id serves all three window passes (lag edge
    flag, running segment id, lead close-off) plus the segment
    groupBy -- Catalyst reuses the (user_id)-hash exchange because
    every window/group key is a superset prefix. At 100 TB this
    partitions cleanly by user; no global ordering anywhere.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(
        prev.isNull() | (prev != F.col("event_type")), 1
    ).otherwise(0)
    run = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    segs = (
        ev.select(
            "user_id", "ts", "event_id", "event_type", chg.alias("chg")
        )
        .withColumn("seg", F.sum("chg").over(run))
        .groupBy("user_id", "seg")
        .agg(
            F.min("event_type").alias("state"),
            F.min("ts").alias("valid_from"),
            F.count("*").alias("n_events"),
        )
    )
    close_w = Window.partitionBy("user_id").orderBy("valid_from")
    valid_to = F.lead("valid_from").over(close_w)
    return segs.select(
        "user_id",
        "state",
        "valid_from",
        valid_to.alias("valid_to"),
        "n_events",
        valid_to.isNull().alias("is_current"),
    )


@query(
    "q_skew_agg",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(value) AS DOUBLE), 4) AS total_value,
           ROUND(SUM(value) / COUNT(*), 4) AS avg_value
    FROM events
    GROUP BY event_type
    """,
)
def q_skew_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a skew-prone low-cardinality
    key (5 event types): phase 1 groups by (event_type, salt-of-16)
    so every one of the 32 cores holds a slice of even the hottest
    key; phase 2 re-aggregates the <= 5 x 16 partials. Semantics are
    identical to a plain GROUP BY (the oracle), but at 100 TB a
    single 'view' key holding 40% of a trillion rows lands on ONE
    reducer in the naive plan -- the salt caps any reducer at 1/16 of
    the hottest key. avg is derived at the final stage (sum/count),
    never averaged-of-averages.
    """
    ev = spread(load(spark, sf_dir, "events"))
    salted = (
        ev.groupBy(
            "event_type",
            F.pmod(F.xxhash64("event_id"), F.lit(16)).alias("salt"),
        )
        .agg(F.count("*").alias("c"), F.sum("value").alias("s"))
    )
    return (
        salted.groupBy("event_type")
        .agg(
            F.sum("c").alias("n_events"),
            F.round(F.sum("s"), 4).alias("total_value"),
            F.round(F.sum("s") / F.sum("c"), 4).alias("avg_value"),
        )
    )


@query(
    "q_unpivot_metrics",
    oracle="""
    WITH wide AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_view,
               CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_click,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchase
        FROM events GROUP BY user_id
    )
    SELECT user_id, 'n_view' AS metric, n_view AS cnt FROM wide
    UNION ALL
    SELECT user_id, 'n_click' AS metric, n_click AS cnt FROM wide
    UNION ALL
    SELECT user_id, 'n_purchase' AS metric, n_purchase AS cnt FROM wide
    """,
)
def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (the inverse of q_pivot_counts): build
    per-user conditional-count metric columns, then unpivot them to
    (user_id, metric, cnt) rows with the native melt operator.

    The wide aggregate is one partial-agg pass (3 codegen CASE
    counters, no per-metric scans); unpivot/melt is a map-only
    Expand node -- 3x row fan-out with zero shuffle, so the whole
    reshape costs exactly one exchange on user_id at any scale.
    """
    ev = load(spark, sf_dir, "events")
    cnt = lambda t: F.sum(  # noqa: E731
        F.when(F.col("event_type") == t, 1).otherwise(0)
    ).cast("long")
    wide = ev.groupBy("user_id").agg(
        cnt("view").alias("n_view"),
        cnt("click").alias("n_click"),
        cnt("purchase").alias("n_purchase"),
    )
    return wide.unpivot(
        ["user_id"], ["n_view", "n_click", "n_purchase"], "metric", "cnt"
    )


@query(
    "q_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id, MIN(ts) AS t0 FROM events
        WHERE event_type = 'signup' GROUP BY user_id
    ),
    v AS (
        SELECT e.user_id, MIN(e.ts) AS t1
        FROM events e JOIN s ON e.user_id = s.user_id
        WHERE e.event_type = 'view' AND e.ts > s.t0 GROUP BY e.user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t2
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t3
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
    )
    SELECT (SELECT COUNT(*) FROM s) AS n_signup,
           (SELECT COUNT(*) FROM v) AS n_view,
           (SELECT COUNT(*) FROM c) AS n_click,
           (SELECT COUNT(*) FROM p) AS n_purchase,
           ROUND((SELECT COUNT(*) FROM p) * 1.0
                 / (SELECT COUNT(*) FROM s), 6) AS conversion
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered event funnel: signup -> view -> click ->
    purchase, each stage's timestamp strictly after the previous
    stage's FIRST occurrence; reports stage populations and end-to-end
    conversion.

    ONE exchange (r15, guide sec 2.3/sec 7.2): the stage-chain form
    aggregated and semi-joined per stage, and the four stage COUNTS
    re-evaluated the chain's prefixes -- the signup subtree sat in the
    plan four times, view three times, click twice (11 Exchange
    nodes). Funnel state per user is four timestamps computed by one
    ordered walk, so: group the four event types per user (ONE
    exchange), sort each user's (ts, type) list, and fold it with a
    (t0..t3) struct accumulator -- t_k = first event of type k
    strictly after t_{k-1}, which on a ts-sorted list IS the MIN of
    the qualifying set, exactly the old per-stage MIN-join semantics
    (ties are safe: strict > rejects an equal-ts event regardless of
    its position in the sorted list). Stage populations are null
    counts on the fold result. Measured (interleaved 6-cycle A/B,
    sf0.1): med 0.746 -> 0.631 s; plan 11 Exchanges -> 2. At 100 TB
    there is no cross-stage explosion and a single corpus exchange
    instead of four.

    Per-user state is NOT bounded: the collect_list holds every
    signup/view/click/purchase event of a user in one array, in one
    task. The ceiling is one user's four-type event history; a
    bot-skewed user with millions of such events is one task holding
    all of them.
    """
    ev = load(spark, sf_dir, "events")
    ev4 = ev.where(
        F.col("event_type").isin("signup", "view", "click", "purchase")
    )
    per_user = ev4.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "event_type"))).alias(
            "evs"
        )
    )

    def step(acc, e):
        return F.struct(
            F.when(
                acc.t0.isNull() & (e.event_type == F.lit("signup")), e.ts
            ).otherwise(acc.t0).alias("t0"),
            F.when(
                acc.t1.isNull()
                & acc.t0.isNotNull()
                & (e.event_type == F.lit("view"))
                & (e.ts > acc.t0),
                e.ts,
            ).otherwise(acc.t1).alias("t1"),
            F.when(
                acc.t2.isNull()
                & acc.t1.isNotNull()
                & (e.event_type == F.lit("click"))
                & (e.ts > acc.t1),
                e.ts,
            ).otherwise(acc.t2).alias("t2"),
            F.when(
                acc.t3.isNull()
                & acc.t2.isNotNull()
                & (e.event_type == F.lit("purchase"))
                & (e.ts > acc.t2),
                e.ts,
            ).otherwise(acc.t3).alias("t3"),
        )

    init = F.struct(
        *[
            F.lit(None).cast("timestamp").alias(t)
            for t in ("t0", "t1", "t2", "t3")
        ]
    )
    st = F.aggregate(F.col("evs"), init, step)
    return (
        per_user.select(st.alias("s"))
        .agg(
            F.count("s.t0").alias("n_signup"),
            F.count("s.t1").alias("n_view"),
            F.count("s.t2").alias("n_click"),
            F.count("s.t3").alias("n_purchase"),
        )
        .withColumn(
            "conversion",
            F.round(F.col("n_purchase") * 1.0 / F.col("n_signup"), 6),
        )
    )


@query(
    "q_cohort_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d0 FROM events GROUP BY user_id
    )
    SELECT STRFTIME(DATE_TRUNC('week', f.d0), '%Y-%m-%d') AS cohort_week,
           CAST(FLOOR(DATE_DIFF('day', DATE_TRUNC('week', f.d0),
                                DATE_TRUNC('week', CAST(e.ts AS DATE))) / 7)
                AS BIGINT) AS week_offset,
           COUNT(DISTINCT e.user_id) AS n_active
    FROM events e JOIN first_seen f ON e.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week,
    counted distinct in each subsequent activity week -- the
    engagement report behind every retention curve.

    The first-seen table is user-sized (one shuffle on user_id); the
    join back co-partitions on the same key, and the final
    (cohort, offset) aggregate is tiny. COUNT(DISTINCT user) shuffles
    (cohort, offset, user) once -- partial-distinct map-side first. At
    100 TB swap the exact distinct for the HLL-sketch rollup
    (q_hll_daily_users) if the matrix must be maintained
    incrementally.
    """
    ev = load(spark, sf_dir, "events").withColumn("d", F.to_date("ts"))
    first_seen = ev.groupBy("user_id").agg(F.min("d").alias("d0"))
    w0 = F.date_trunc("week", F.col("d0")).cast("date")
    wk = F.date_trunc("week", F.col("d")).cast("date")
    return (
        ev.join(first_seen, "user_id")
        .select(
            F.date_format(w0, "yyyy-MM-dd").alias("cohort_week"),
            F.floor(F.datediff(wk, w0) / 7).alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@query(
    "q_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS src,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS dst
        FROM events
    ),
    pairs AS (
        SELECT src, dst, COUNT(*) AS n FROM seq
        WHERE dst IS NOT NULL GROUP BY src, dst
    )
    SELECT src, dst, n,
           ROUND(n * 1.0 / SUM(n) OVER (PARTITION BY src), 6) AS p
    FROM pairs
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), the path-analysis
    summary behind funnels, churn prediction features, and session
    simulators.

    One shuffle on user_id for the lead() window (sequences stay
    inside their partition), then the pair counts collapse to
    |types|^2 rows -- the probability normalization window runs on that
    tiny table, never on raw events.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    pairs = seq.groupBy("src", "dst").agg(F.count("*").alias("n"))
    wsrc = Window.partitionBy("src")
    return pairs.select(
        "src", "dst", "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(wsrc), 6).alias("p"),
    )


@query(
    "q_tpch_q10_shape",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           SUM(ROUND(l.l_extendedprice * 100)::BIGINT
               * (100 - ROUND(l.l_discount * 100)::BIGINT))::BIGINT
               / 10000.0 AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item reporting): top-20 customers by
    revenue lost to returns in one quarter.

    Scale shape: the quarter predicate and the returnflag predicate
    both push to their parquet scans, so the fact join sees ~1/24 of
    orders and ~1/4 of lineitem; nation (25 rows, fixed size) is an
    explicit broadcast while customer/orders/lineitem sizing is left
    to Catalyst/AQE (they all scale with SF); the grouped top-20 is
    TakeOrderedAndProject after partial aggregation, never a global
    sort."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(
            # price/discount are 2-decimal quantities: summing exact
            # integer cents (price_c * (100 - disc_c)) sidesteps fp
            # round-half divergence between engines; /10000.0 of the
            # same integer yields a bit-identical double everywhere
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    * (100 - F.round(F.col("l_discount") * 100).cast("long"))
                )
                / 10000.0
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


QTY_THRESHOLD = 250


@query(
    "q_tpch_q18_shape",
    oracle=f"""
    WITH hot AS (
        SELECT l_orderkey, SUM(l_quantity) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(l_quantity) > {QTY_THRESHOLD})
    SELECT o.o_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
           ROUND(o.o_totalprice, 2) AS total_price,
           h.sum_qty
    FROM orders o JOIN hot h ON o.o_orderkey = h.l_orderkey
    ORDER BY total_price DESC, o.o_orderkey
    LIMIT 100
    """,
)
def q_tpch_q18_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): orders whose total line
    quantity exceeds a threshold, largest first.

    The classic formulation re-joins lineitem and re-aggregates after
    the HAVING subquery; this plan aggregates lineitem ONCE (partial
    agg before the exchange collapses 7 lines/order to 1 row) and
    joins the surviving ~1% of orders against the already-computed
    sums -- no second pass over the fact table. At 100 TB the hot set
    is small enough that AQE turns the orders join into a broadcast
    of the aggregated side."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    hot = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .where(F.col("sum_qty") > QTY_THRESHOLD)
    )
    return (
        o.join(hot, o.o_orderkey == hot.l_orderkey)
        .select(
            "o_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o_totalprice", 2).alias("total_price"),
            "sum_qty",
        )
        .orderBy(F.col("total_price").desc(), "o_orderkey")
        .limit(100)
    )


RFM_ANCHOR = "2024-01-31"


@query(
    "q_rfm_scores",
    oracle=f"""
    WITH stats AS (
        SELECT user_id,
               date_diff('day', MAX(ts)::DATE, DATE '{RFM_ANCHOR}')
                   AS recency_days,
               COUNT(*)::BIGINT AS frequency,
               ROUND(SUM(value), 2) AS monetary
        FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT user_id, recency_days, frequency, monetary,
           NTILE(4) OVER (ORDER BY recency_days, user_id) AS r_quartile,
           NTILE(4) OVER (ORDER BY frequency DESC, user_id) AS f_quartile,
           NTILE(4) OVER (ORDER BY monetary DESC, user_id) AS m_quartile
    FROM stats
    """,
)
def q_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (recency / frequency / monetary quartiles) of
    purchasers -- the standard CRM scoring query.

    One shuffle aggregates events to user grain; the three NTILE
    windows then run over the user-sized table (quartile assignment
    is deterministic: metric order with user_id tie-break, so the
    oracle and any re-run agree). At 100 TB the user table is the
    small output of the first agg; a global NTILE needs a single-
    partition sort of users only -- if even that is too large, swap
    NTILE for approx-percentile bucket thresholds (the sketch path
    q_approx_percentiles demonstrates)."""
    ev = load(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    stats = ev.groupBy("user_id").agg(
        F.datediff(
            F.lit(RFM_ANCHOR).cast("date"), F.max("ts").cast("date")
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.round(F.sum("value"), 2).alias("monetary"),
    )
    return stats.select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(Window.orderBy("recency_days", "user_id")).alias("r_quartile"),
        F.ntile(4)
        .over(Window.orderBy(F.col("frequency").desc(), "user_id"))
        .alias("f_quartile"),
        F.ntile(4)
        .over(Window.orderBy(F.col("monetary").desc(), "user_id"))
        .alias("m_quartile"),
    )


@query(
    "q_top_paths",
    oracle="""
    WITH ranked AS (
        SELECT user_id, ts, event_id, event_type,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events),
    paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM ranked WHERE rn <= 5 GROUP BY user_id)
    SELECT path, COUNT(*)::BIGINT AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
)
def q_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top onboarding paths: the 20 most common sequences of each
    user's first five events -- the product-analytics 'what do users
    actually do first' query.

    One shuffle on user_id serves both the row_number prune and the
    path assembly (same partitioning, Catalyst reuses the exchange);
    sequences are built JVM-side with array_sort over (ts, event_id,
    type) structs + transform -- no Python, no collect. Path strings
    are <=5 short tokens, so the final count groups on a bounded key
    domain and the top-20 is TakeOrderedAndProject."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    first5 = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 5)
    )
    paths = first5.groupBy("user_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("ts", "event_id", "event_type"))
                ),
                lambda s: s["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.col("n_users").desc(), "path")
        .limit(20)
    )


@query(
    "q_pmi_cooccur",
    oracle="""
    WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
    totals AS (SELECT COUNT(DISTINCT user_id) AS n_users FROM events),
    tc AS (SELECT event_type, COUNT(*)::BIGINT AS n_type FROM ut GROUP BY 1),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*)::BIGINT AS n_pair
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2)
    SELECT p.type_a, p.type_b, p.n_pair,
           ROUND(LN(p.n_pair * t.n_users * 1.0
                    / (ta.n_type * tb.n_type)), 4) AS pmi
    FROM pairs p
    JOIN tc ta ON p.type_a = ta.event_type
    JOIN tc tb ON p.type_b = tb.event_type
    CROSS JOIN totals t
    ORDER BY pmi DESC, type_a, type_b
    """,
)
def q_pmi_cooccur(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information between event types co-occurring
    in the same user's history -- the association-mining signal behind
    'users who do A also do B' features.

    The distinct (user, type) projection is the only full-data
    shuffle; the self-join joins two copies of that deduped table on
    user_id (co-partitioned, and at most |types| rows per user), so
    pair generation is |types|^2-bounded per user, never quadratic in
    events. Type marginals (|types| rows) and the user count (1 row)
    are broadcast onto the pair table."""
    ev = load(spark, sf_dir, "events")
    # NOT persisted (r11, PERSIST_AUDIT.json): the deduped projection
    # ends at a shuffle, and shuffle-stage reuse serves the self-join's
    # second read -- dropping the cache measured 0.53x at sf1
    ut = ev.select("user_id", "event_type").distinct()
    n_users = ev.agg(
        F.countDistinct("user_id").alias("n_users")
    )
    tc = ut.groupBy("event_type").agg(F.count("*").alias("n_type"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_pair"))
    )
    ta = F.broadcast(tc.select(F.col("event_type").alias("type_a"), F.col("n_type").alias("na")))
    tb = F.broadcast(tc.select(F.col("event_type").alias("type_b"), F.col("n_type").alias("nb")))
    return (
        pairs.join(ta, "type_a")
        .join(tb, "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_pair",
            F.round(
                F.log(
                    F.col("n_pair") * F.col("n_users") * 1.0
                    / (F.col("na") * F.col("nb"))
                ),
                4,
            ).alias("pmi"),
        )
        # no terminal orderBy (r11): presentation-only global sort
    )


ACCTBAL_FLOOR = 1500


@query(
    "q_supplier_diversity",
    oracle=f"""
    SELECT p.p_brand, p.p_type,
           COUNT(DISTINCT l.l_suppkey)::BIGINT AS supplier_cnt
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < {ACCTBAL_FLOOR})
    GROUP BY p.p_brand, p.p_type
    ORDER BY supplier_cnt DESC, p_brand, p_type
    LIMIT 30
    """,
)
def q_supplier_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship): how many
    qualified suppliers ship each brand+type, excluding a supplier
    blocklist -- the sourcing-risk query.

    The blocklist subquery is a broadcast ANTI join (NOT IN is safe
    as anti here: s_suppkey is non-null), so the fact scan drops
    blocked suppliers map-side before the part join; part joins on
    its key (left to AQE at SF scale), and COUNT(DISTINCT suppkey)
    partial-aggregates per (brand, type, suppkey) before the final
    distinct count -- two-level, no row explosion. Top-30 is
    TakeOrderedAndProject."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    blocked = (
        load(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < ACCTBAL_FLOOR)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(blocked), "l_suppkey", "left_anti")
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type")
        .limit(30)
    )


@query(
    "q_order_priority",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*)::BIGINT AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate)
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def q_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders in one
    quarter with at least one line shipped after the order date,
    counted per priority -- the EXISTS-correlated-subquery pattern.

    The quarter filter pushes into the orders scan (1/24 of rows
    survive before any join); EXISTS plans as a LEFT SEMI join on
    the order key with the ship-date comparison riding the join
    condition, so lineitem never produces more than one match per
    order and no duplicate-then-distinct pass exists. The final agg
    groups on a 5-value key."""
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")
    return (
        o.join(
            li,
            (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        # no terminal orderBy (r11): presentation-only global sort
    )


@query(
    "q_ab_test",
    oracle="""
    WITH g AS (
        SELECT event_type, value,
               CAST('0x' || substr(md5(user_id::VARCHAR), 1, 15) AS UBIGINT)
                   % 2 AS grp
        FROM events),
    s AS (
        SELECT event_type, grp, COUNT(*)::BIGINT AS n,
               AVG(value) AS mean, var_samp(value) AS var
        FROM g GROUP BY 1, 2)
    SELECT a.event_type,
           a.n AS n_a, b.n AS n_b,
           ROUND(a.mean, 4) AS mean_a, ROUND(b.mean, 4) AS mean_b,
           ROUND((a.mean - b.mean)
                 / SQRT(a.var / a.n + b.var / b.n), 3) AS z_score
    FROM s a JOIN s b
      ON a.event_type = b.event_type AND a.grp = 0 AND b.grp = 1
    ORDER BY a.event_type
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample z-test per event type between deterministic
    hash-split user groups -- the experiment-analysis readout (here a
    null A/A test: both groups draw from the same distribution, so
    |z| should hover near 0, which the oracle confirms exactly).

    Group assignment reuses the md5-prefix trick from q_train_split
    (stable under corpus growth, no stored assignment table). One
    partial-aggregated pass computes (n, mean, var) per (type, grp);
    the z computation is a self-join of the 10-row stats table --
    broadcast, trivially. At 100 TB the only fact-table cost is the
    single groupBy; metric sums and squares partial-aggregate
    map-side."""
    ev = load(spark, sf_dir, "events")
    grp = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10)
        .cast("long")
        % 2
    )
    s = (
        ev.select("event_type", "value", grp.alias("grp"))
        .groupBy("event_type", "grp")
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("mean"),
            F.var_samp("value").alias("var"),
        )
    )
    a = s.where(F.col("grp") == 0).alias("a")
    b = s.where(F.col("grp") == 1).alias("b")
    return (
        a.join(F.broadcast(b), F.col("a.event_type") == F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("event_type"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
            F.round(F.col("a.mean"), 4).alias("mean_a"),
            F.round(F.col("b.mean"), 4).alias("mean_b"),
            F.round(
                (F.col("a.mean") - F.col("b.mean"))
                / F.sqrt(
                    F.col("a.var") / F.col("a.n") + F.col("b.var") / F.col("b.n")
                ),
                3,
            ).alias("z_score"),
        )
        # no terminal orderBy (r11): presentation-only global sort
    )


@query(
    "q_trending",
    oracle="""
    WITH w AS (
        SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win, event_type,
               COUNT(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2),
    r AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY win ORDER BY cnt DESC, event_type) AS rnk
        FROM w)
    SELECT strftime(win, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type, cnt, rnk
    FROM r WHERE rnk <= 3
    """,
)
def q_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending event types: top-3 per tumbling hour -- the 'what is
    hot right now' leaderboard, batch form of a streaming sliding
    rollup.

    The count collapses events to |windows|x|types| rows in one
    partial-aggregated shuffle; the ranking window then runs on that
    tiny table partitioned by window (never on raw events). Rank is
    ROW_NUMBER over (cnt DESC, type) so top-3 membership is
    deterministic under count ties in both engines."""
    ev = load(spark, sf_dir, "events")
    w = (
        ev.groupBy(
            F.window("ts", "1 hour").getField("start").alias("win"),
            "event_type",
        )
        .agg(F.count("*").alias("cnt"))
    )
    rw = Window.partitionBy("win").orderBy(F.col("cnt").desc(), "event_type")
    return (
        w.select(
            F.date_format("win", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "cnt",
            F.row_number().over(rw).alias("rnk"),
        )
        .where(F.col("rnk") <= 3)
    )


@query(
    "q_top_spenders_per_nation",
    oracle="""
    WITH spend AS (
        SELECT n.n_name AS nation, c.c_custkey, c.c_name,
               ROUND(SUM(o.o_totalprice), 2) AS total_spend
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2, 3)
    SELECT nation, c_custkey, c_name, total_spend,
           RANK() OVER (
               PARTITION BY nation ORDER BY total_spend DESC) AS spend_rank
    FROM spend QUALIFY spend_rank <= 3
    """,
)
def q_top_spenders_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware grouped top-k: the 3 highest-spending customers per
    nation, keeping ALL customers tied at the cut (RANK, not
    ROW_NUMBER -- the semantics q_latest_per_device's row_number form
    deliberately does not have).

    One shuffle aggregates orders to customer grain (partial sums
    map-side); nation broadcasts onto the result; the RANK window
    partitions by 25 nations over customer-count rows. Ranking runs
    on the ROUNDED spend so both engines see identical tie sets. At
    scale, rank-<=-k per group cannot use TakeOrderedAndProject (ties
    unknown until sorted), but each partition sorts only its own
    nation's customers -- no global sort."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    n = load(spark, sf_dir, "nation")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), "c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spend"))
    )
    rw = Window.partitionBy("nation").orderBy(F.col("total_spend").desc())
    return spend.select(
        "nation",
        "c_custkey",
        "c_name",
        "total_spend",
        F.rank().over(rw).alias("spend_rank"),
    ).where(F.col("spend_rank") <= 3)


@query(
    "q_growth_accounting",
    oracle="""
    WITH wk AS (
        SELECT DISTINCT user_id, date_trunc('week', ts)::DATE AS week
        FROM events),
    lagged AS (
        SELECT user_id, week,
               LAG(week) OVER (PARTITION BY user_id ORDER BY week)
                   AS prev_week
        FROM wk),
    classed AS (
        SELECT week,
               SUM(CASE WHEN prev_week IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_new,
               SUM(CASE WHEN prev_week = week - 7 THEN 1 ELSE 0 END)::BIGINT
                   AS n_retained,
               SUM(CASE WHEN prev_week IS NOT NULL AND prev_week < week - 7
                        THEN 1 ELSE 0 END)::BIGINT AS n_resurrected,
               COUNT(*)::BIGINT AS n_active
        FROM lagged GROUP BY week)
    SELECT strftime(week, '%Y-%m-%d') AS week,
           n_new, n_retained, n_resurrected, n_active,
           COALESCE(LAG(n_active) OVER (ORDER BY week), 0) - n_retained
               AS n_churned
    FROM classed
    ORDER BY week
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting -- every active user classified as
    new / retained / resurrected, plus the churn complement
    (last week's actives who didn't return): the decomposition
    behind 'is growth new users or resurrection'.

    The distinct (user, week) projection is the only full-data
    shuffle; the per-user lag window runs on that user-week table
    (<=1 row per user-week), and the final classification collapses
    to |weeks| rows -- the churn lag window is over that tiny table.
    All counts are integers end-to-end: parity is exact, no
    rounding anywhere."""
    ev = load(spark, sf_dir, "events")
    wk = ev.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("week")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("week")
    lagged = wk.select(
        "user_id", "week", F.lag("week").over(w).alias("prev_week")
    )
    classed = lagged.groupBy("week").agg(
        F.sum(F.when(F.col("prev_week").isNull(), 1).otherwise(0)).alias(
            "n_new"
        ),
        F.sum(
            F.when(F.col("prev_week") == F.date_sub("week", 7), 1).otherwise(0)
        ).alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev_week").isNotNull()
                & (F.col("prev_week") < F.date_sub("week", 7)),
                1,
            ).otherwise(0)
        ).alias("n_resurrected"),
        F.count("*").alias("n_active"),
    )
    cw = Window.orderBy("week")
    return classed.select(
        F.date_format("week", "yyyy-MM-dd").alias("week"),
        "n_new",
        "n_retained",
        "n_resurrected",
        "n_active",
        (
            F.coalesce(F.lag("n_active").over(cw), F.lit(0))
            - F.col("n_retained")
        ).alias("n_churned"),
    )  # no terminal orderBy (r11): presentation-only global sort


# ---------------------------------------------------------------------------
# Round-3 warehouse shapes: Q7 (two dim paths onto one fact + disjunctive
# pair predicate), Q12 (conditional-count buckets), Q14 (conditional share),
# Q17 (correlated per-group average join-back), Q19 (disjunctive bracket
# pushdown), Q22 (scalar-subquery gate + anti join), Q2-ish argmin.
# ---------------------------------------------------------------------------


@query(
    "q_tpch_q7_shape",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(year FROM l.l_shipdate) AS BIGINT) AS l_year,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               AS DECIMAL(23,8))), 2) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1995-01-01'
      AND l.l_shipdate <= TIMESTAMP '1996-12-31'
    GROUP BY 1, 2, 3
    """,
)
def q_tpch_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): bidirectional trade volume
    between two nations by ship year.

    Two independent dimension paths (supplier-nation, customer-nation)
    land on one fact pass; the disjunctive pair predicate can only be
    applied after both paths join, so the plan quality question is
    whether the fact is scanned once and both nation joins broadcast --
    nation is 25 rows, both sides broadcast; the date filter pushes to
    the lineitem scan.

    Revenue sums as DECIMAL(23,8) in both engines: decimal addition
    is exact and associative, so the sum is order-independent --
    float64 sums over 10x-the-terms drifted ~1e-10 relative at the
    sf1 probe and ROUND(,2) flipped the last penny on a few groups.
    Decimal is the money-rollup posture at any scale (and measured
    no slower than the double sum at sf0.1). The per-row
    double->decimal cast rounds identically in both engines (a
    binary fraction can't tie at the 8th decimal: that needs
    2^n | 10^8)."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") <= F.lit("1996-12-31").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(
                    (
                        F.col("l_extendedprice") * (1 - F.col("l_discount"))
                    ).cast("decimal(23,8)")
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )


@query(
    "q_tpch_q12_shape",
    oracle="""
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30 THEN '0-30'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90 THEN '31-90'
                ELSE '90+' END AS latency_bucket,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def q_tpch_q12_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping latency vs priority): order-to-ship
    latency buckets x priority class counts -- the conditional-count
    aggregation pattern (SUM(CASE ...)) over one fact-fact join.

    The join carries only (orderkey, orderpriority, orderdate); the
    bucket expression is computed map-side post-join, so the single
    shuffle key is the join key and the aggregate is partial-agg
    friendly (3 groups)."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    o = load(spark, sf_dir, "orders")
    lat = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.when(lat <= 30, "0-30")
            .when(lat <= 90, "31-90")
            .otherwise("90+")
            .alias("latency_bucket")
        )
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q_tpch_q14_shape",
    oracle="""
    SELECT strftime(l.l_shipdate, '%Y-%m') AS ship_month,
           ROUND(100.0 * SUM(CASE WHEN p.p_type = 'PROMO'
                     THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END)
                 / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_share,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def q_tpch_q14_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion effect): promo revenue share per
    ship month -- conditional-sum ratio over a broadcast part join.

    part is the small side (broadcast); the ratio is computed from two
    partial-agg-friendly sums in ONE pass -- never two scans or a
    self-join of the aggregate."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q_tpch_q17_shape",
    oracle="""
    WITH pq AS (
        SELECT l_partkey, AVG(l_quantity) AS avg_qty
        FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand AS brand,
           COUNT(*) AS n_small,
           ROUND(SUM(l.l_extendedprice), 2) AS small_revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pq ON pq.l_partkey = l.l_partkey
    WHERE p.p_brand IN ('Brand#1', 'Brand#2')
      AND l.l_quantity < 0.5 * pq.avg_qty
    GROUP BY 1
    """,
)
def q_tpch_q17_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (small-quantity-order revenue): lineitems below
    half their part's average quantity, for two brands.

    The correlated per-part average becomes a part-keyed aggregate
    joined back onto the fact; the brand filter rides the broadcast
    part join. The aggregate side carries NO broadcast hint (ADVICE
    r3): broadcast viability is absolute, not relative -- a
    |parts|-cardinality build side does not fit executor memory at
    100 TB, so AQE decides at runtime (broadcast at small SF,
    shuffle join at scale). One fact scan feeds both the average
    build and the probe at warehouse scale via exchange reuse or a
    cheap double scan -- never a per-row subquery."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(
        F.col("p_brand").isin("Brand#1", "Brand#2")
    )
    pq = li.groupBy(F.col("l_partkey").alias("pq_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(pq, li.l_partkey == F.col("pq_partkey"))
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count("*").alias("n_small"),
            F.round(F.sum("l_extendedprice"), 2).alias("small_revenue"),
        )
    )


@query(
    "q_tpch_q19_shape",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 35)
       OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def q_tpch_q19_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (discounted revenue, disjunctive brackets):
    three OR'd (brand, size-range, quantity-range) brackets across the
    part join.

    The pure-part conjuncts (brand+size per bracket, OR'd) are
    derivable and push to the part scan; the mixed partxlineitem
    disjunction evaluates post-join. Single fact pass, broadcast
    part."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    bracket = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 35)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(bracket)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q_tpch_q22_shape",
    oracle="""
    WITH ab AS (
        SELECT AVG(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey AS nationkey,
           COUNT(*) AS n_custs,
           ROUND(SUM(c.c_acctbal), 2) AS total_bal
    FROM customer c, ab
    WHERE c.c_acctbal > ab.avg_bal
      AND NOT EXISTS (
          SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY 1
    """,
)
def q_tpch_q22_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-customer identification): customers
    with above-average balance and no recent orders, summarized per
    nation.

    The global average is a one-row aggregate broadcast as a cross
    join (never a collect); the NOT EXISTS is a broadcast-able LEFT
    ANTI against the date-filtered orders projection -- the date filter
    pushes into the orders scan so the anti build side is small."""
    c = load(spark, sf_dir, "customer")
    avg_bal = (
        c.where(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    recent = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey")
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count("*").alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


@query(
    "q_cheapest_supplier",
    oracle="""
    WITH cost AS (
        SELECT l_partkey, l_suppkey,
               CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               // CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
                   AS unit_cost_cents
        FROM lineitem GROUP BY 1, 2
    ), ranked AS (
        SELECT l_partkey, l_suppkey, unit_cost_cents,
               ROW_NUMBER() OVER (PARTITION BY l_partkey
                                  ORDER BY unit_cost_cents, l_suppkey) AS rk
        FROM cost
    )
    SELECT l_partkey AS partkey, l_suppkey AS suppkey, unit_cost_cents
    FROM ranked WHERE rk = 1
    """,
)
def q_cheapest_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 essence (min-cost supplier per part) on the available
    tables: per (part, supplier) average unit price, argmin per part
    with deterministic supplier tie-break.

    The unit cost is integer-exact (total cents div total units):
    float AVG partial-aggregation order differs between engines and
    flips the 4th decimal on ~1/200 parts -- integer arithmetic is
    associative, so the argmin is reproducible everywhere.

    Two-level aggregate then ONE window over the (part x supplier)
    aggregate -- cardinality |parts|x|suppliers-per-part|, thousands of
    times smaller than the fact -- never a window over raw lineitem.
    The groupBy and the window share the part key, so the window
    reuses the aggregate's partitioning (no second exchange of note)."""
    li = load(spark, sf_dir, "lineitem")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.expr(
            "sum(cast(round(l_extendedprice * 100) as bigint))"
            " div sum(cast(l_quantity as bigint))"
        ).alias("unit_cost_cents")
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_cost_cents", "l_suppkey")
    return (
        cost.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("l_suppkey").alias("suppkey"),
            "unit_cost_cents",
        )
    )


@query(
    "q_tpch_q8_shape",
    oracle="""
    SELECT l_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                          ELSE 0 END) / SUM(volume), 6) AS mkt_share,
           COUNT(*) AS n_items
    FROM (
        SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS BIGINT) AS l_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region r ON n1.n_regionkey = r.r_regionkey
        JOIN part p ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n2 ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'ASIA'
          AND p.p_type = 'STANDARD'
          AND o.o_orderdate >= TIMESTAMP '1995-01-01'
          AND o.o_orderdate <= TIMESTAMP '1996-12-31'
    )
    GROUP BY 1
    """,
)
def q_tpch_q8_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): NATION_3's share of
    STANDARD-part revenue sold into ASIA customers, by order year.

    The deepest dim fan here -- customer-nation-region on one side,
    supplier-nation on the other, plus the part filter -- all landing
    on ONE lineitem pass with every dim broadcast (nation/region are
    constant-size; part/customer/supplier auto-broadcast locally,
    AQE decides at warehouse scale). The share is a conditional-sum
    ratio in one partial-agg pass, the Q14 pattern."""
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") <= F.lit("1996-12-31").cast("timestamp"))
    )
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    p = load(spark, sf_dir, "part").where(F.col("p_type") == "STANDARD")
    n1 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = load(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("l_year"))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(0.0)
                )
                / F.sum(vol),
                6,
            ).alias("mkt_share"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q_tpch_q4_shape",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY 1
    """,
)
def q_tpch_q4_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (order-priority checking): orders in a quarter
    with at least one line shipped >60 days after the order date,
    counted by priority. (The reference testdata carries no
    commit/receipt dates, so "late" is ship-vs-order latency -- the
    EXISTS shape is what Q4 exercises.)

    The correlated EXISTS compiles to a LEFT SEMI join on orderkey
    with the latency predicate as a join condition -- each order is
    counted at most once regardless of how many lines are late, with
    no post-join dedup. The date filter pushes to the orders scan;
    the semi join's build side is the filtered orders (6 months),
    shuffle keyed on orderkey only."""
    o = load(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    # timestamp + INTERVAL, not date_add: date_add truncates the
    # order timestamp to midnight, which diverges from the oracle's
    # o_orderdate + INTERVAL on any vintage with intraday order times
    late = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q_tpch_q6_shape",
    oracle="""
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.04 AND 0.08
      AND l_quantity < 24
    """,
)
def q_tpch_q6_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (forecast revenue change): pure scan-aggregate --
    discount revenue left on the table for small, mid-discount lines
    in one year.

    The canonical pushdown showcase: all three predicates reach the
    parquet scan as PushedFilters (row-group stats skip whole chunks
    at 100 TB), only 4 columns are read, and the single global
    aggregate is partial-per-partition + one 1-row exchange. No join,
    no wide shuffle -- I/O-bound by design (plan-pinned in
    test_plans.py)."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.08)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_lines"),
    )


@query(
    "q_tpch_q9_shape",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(strftime(o.o_orderdate, '%Y') AS BIGINT) AS o_year,
           CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                               - 0.6 * p.p_retailprice * l.l_quantity
                               AS DECIMAL(23,8))), 2) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_name LIKE '%widget%'
    GROUP BY 1, 2
    """,
)
def q_tpch_q9_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit): profit on widget parts by
    supplier nation and order year. (No partsupp table in the
    testdata, so supply cost is proxied at 60% of retail price -- the
    join/aggregate shape is Q9's.)

    Four dims land on one lineitem pass: part (name-filtered,
    broadcast -- the filter prunes before the join), supplier + nation
    (broadcast chain), and the orders join for the year, which is the
    only fact-fact shuffle (both sides keyed on orderkey). Profit is
    computed map-side post-join; the group-by is tiny (nations x
    years) so partial aggregation collapses nearly everything before
    the final exchange. The profit sum is DECIMAL(23,8) in both
    engines for order-independence -- see q_tpch_q7_shape."""
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.6 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.round(F.sum(profit.cast("decimal(23,8)")), 2)
            .cast("double")
            .alias("profit")
        )
    )


@query(
    "q_tpch_q11_shape",
    oracle="""
    WITH pv AS (
        SELECT l.l_partkey AS partkey,
               SUM(l.l_extendedprice) AS part_value
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = s.s_nationkey
        WHERE n.n_name IN ('NATION_1', 'NATION_2')
        GROUP BY 1)
    SELECT partkey, ROUND(part_value, 2) AS part_value
    FROM pv
    WHERE part_value > 0.005 * (SELECT SUM(part_value) FROM pv)
    """,
)
def q_tpch_q11_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock): parts whose traded value
    through two nations' suppliers exceeds a fraction of the total --
    the scalar-subquery-threshold pattern. (partsupp doesn't exist in
    the testdata; lineitem extendedprice through nation-filtered
    suppliers is the value proxy.)

    The per-part aggregate is built ONCE and feeds both the threshold
    scalar (a second, 1-row aggregate) and the probe: the scalar rides
    a broadcast cross-join (1 row -- metadata-sized at any scale, same
    pattern as dq.py's contract gates), never a per-row subquery.
    Threshold comparison happens on the UNROUNDED sum; rounding is
    display-only, so engine-order float drift can't flip a boundary
    row differently in the two places the value appears."""
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    pv = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(F.sum("l_extendedprice").alias("raw_value"))
    )
    total = pv.agg(F.sum("raw_value").alias("total_value"))
    return (
        pv.join(F.broadcast(total))
        .where(F.col("raw_value") > 0.005 * F.col("total_value"))
        .select("partkey", F.round("raw_value", 2).alias("part_value"))
    )


@query(
    "q_tpch_q13_shape",
    oracle="""
    WITH co AS (
        SELECT c.c_custkey,
               CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        FROM customer c
        LEFT JOIN orders o
          ON o.o_custkey = c.c_custkey
         AND o.o_orderpriority <> '1-URGENT'
        GROUP BY 1)
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM co GROUP BY 1
    """,
)
def q_tpch_q13_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): how many
    customers placed 0, 1, 2... non-urgent orders -- the left-outer
    join + double aggregation pattern, including the customers with NO
    orders (the rows an inner join silently drops).

    The priority predicate is a JOIN condition, not a WHERE filter --
    on a left join those are different queries (a WHERE would drop the
    zero-order customers). COUNT(o_orderkey) counts matched rows only,
    so the null-extended rows land in the c_count=0 bucket. First
    aggregation shuffles on custkey (same key as the join -- one
    exchange reused); the second is over at most max-orders-per-
    customer distinct values, broadcast-sized."""
    c = load(spark, sf_dir, "customer").select("c_custkey")
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    co = (
        c.join(
            o,
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q_tpch_q15_shape",
    oracle="""
    WITH rev AS (
        SELECT l_suppkey AS suppkey,
               SUM(l_extendedprice * (1 - l_discount)) AS total_rev
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1996-04-01'
        GROUP BY 1)
    SELECT s.s_suppkey, s.s_name,
           ROUND(r.total_rev, 2) AS total_revenue
    FROM supplier s
    JOIN rev r ON r.suppkey = s.s_suppkey
    WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
    """,
)
def q_tpch_q15_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier): supplier(s) with the maximum
    quarterly revenue -- the view-reused-against-its-own-max pattern.

    The revenue aggregate is computed once; the max is a second 1-row
    aggregate over it, attached by broadcast cross-join (the Q11
    scalar pattern), and the equality filter runs on the UNROUNDED
    doubles so both sides of the comparison come from the same
    computation. Supplier attaches by broadcast after the filter has
    reduced the left side to the argmax row(s) -- joining the dim
    last, against one row, not against every supplier's aggregate."""
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("suppkey")).agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    s = load(spark, sf_dir, "supplier")
    return (
        rev.join(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(s), F.col("suppkey") == s.s_suppkey)
        .select("s_suppkey", "s_name", F.round("total_rev", 2).alias("total_revenue"))
    )


@query(
    "q_tpch_q16_shape",
    oracle="""
    SELECT p.p_brand AS brand, p.p_type AS type, p.p_size AS size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
    GROUP BY 1, 2, 3
    """,
)
def q_tpch_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (part/supplier relationship): distinct supplier
    count per (brand, type, size) for a filtered part family.
    (lineitem is the part-supplier bridge -- the testdata has no
    partsupp.)

    All three predicates prune the broadcast part side BEFORE the
    join. COUNT(DISTINCT) over a join output expands to Spark's
    two-phase distinct aggregate: partial dedup of (group, suppkey)
    map-side, then the count -- the shuffle carries deduped pairs, not
    raw lineitems, which is the difference between |lineitem| and
    |partsxsuppliers| exchange volume at 100 TB."""
    p = load(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45))
    )
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("type"),
            F.col("p_size").alias("size"),
        )
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@query(
    "q_tpch_q20_shape",
    oracle="""
    WITH heavy AS (
        SELECT l.l_suppkey AS suppkey
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_type = 'PROMO'
          AND l.l_shipdate >= TIMESTAMP '1996-01-01'
          AND l.l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING SUM(l.l_quantity) > 50)
    SELECT s.s_name, n.n_name AS nation
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (SELECT suppkey FROM heavy)
    """,
)
def q_tpch_q20_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion): suppliers who moved
    >50 units of some PROMO part in a year -- the nested-semi-join
    pattern (supplier IN (agg over part-filtered fact)). (availqty
    doesn't exist; shipped quantity per (supplier, part) is the
    stock-movement proxy.)

    Inner layer: part filter broadcast-prunes the fact, aggregate on
    the composite (suppkey, partkey) key, HAVING filter -- all before
    anything touches supplier. Outer layer: LEFT SEMI join on the
    tiny distinct-supplier set; supplier and nation stay dims. The
    expensive fact pass happens exactly once, inside the innermost
    derived table."""
    p = load(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    li = load(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    heavy = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 50)
        .select(F.col("l_suppkey").alias("suppkey"))
    )
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    return (
        s.join(heavy, s.s_suppkey == F.col("suppkey"), "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_name", F.col("n_name").alias("nation"))
    )


@query(
    "q_tpch_q21_shape",
    oracle="""
    WITH late AS (
        SELECT l.l_orderkey, l.l_suppkey, l.l_shipdate, o.o_orderdate
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F')
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 90 DAY
      AND EXISTS (
          SELECT 1 FROM late l2
          WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
          SELECT 1 FROM late l3
          WHERE l3.l_orderkey = l1.l_orderkey
            AND l3.l_suppkey <> l1.l_suppkey
            AND l3.l_shipdate > l3.o_orderdate + INTERVAL 90 DAY)
    GROUP BY 1
    """,
)
def q_tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (suppliers who kept orders waiting): in
    finished multi-supplier orders, the supplier whose line shipped
    >90 days late while every OTHER supplier's lines were on time --
    the semi-join + anti-join double probe of the same derived fact.
    (Ship-vs-order latency stands in for receipt-vs-commit; the
    testdata has no commit/receipt dates.)

    `late` is derived once (orders join keyed on orderkey) and probed
    three times -- as the driving side, the EXISTS (LEFT SEMI), and
    the NOT EXISTS (LEFT ANTI) -- all three keyed on the SAME
    orderkey, so the exchange is planned once and reused (Spark
    ReusedExchange; at warehouse scale this is one fact shuffle, not
    three). The supplier name attaches by broadcast after the probes
    have cut the row count."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load(spark, sf_dir, "orders").where(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    late = li.join(o, li.l_orderkey == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("is_late"),  # INTERVAL, not date_add -- see q_tpch_q4_shape
    )
    l1 = late.where(F.col("is_late"))
    l2 = late.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("s2")
    )
    l3 = late.where(F.col("is_late")).select(
        F.col("l_orderkey").alias("k3"), F.col("l_suppkey").alias("s3")
    )
    s = load(spark, sf_dir, "supplier")
    return (
        l1.join(
            l2,
            (F.col("k2") == F.col("l_orderkey")) & (F.col("s2") != F.col("l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("k3") == F.col("l_orderkey")) & (F.col("s3") != F.col("l_suppkey")),
            "left_anti",
        )
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )
