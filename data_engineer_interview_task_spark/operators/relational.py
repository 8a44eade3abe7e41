"""Relational operators over the driver testdata star schema.

Includes (a) the flagship query — the reference pipeline's exact operator
shape transplanted onto ``lineitem`` (SURVEY.md §7 phase 0), (b) classic
analytic queries exercising joins/aggregation at scale, (c) generic
operators the reference lacks (top-k per group, as-of join, sessionization)
that a real deployment of this pipeline would need.

Determinism note: double-typed aggregates are promoted to DECIMAL before
summation wherever a DuckDB oracle checks the value hash — decimal addition
is exact and associative, so results are bit-identical across engines and
partitionings. Plain double sums are kept for bench-only fast paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import read_table


def flagship_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline's shape on lineitem (SURVEY §7 phase 0):

    country -> l_suppkey, search_term -> l_returnflag, interest -> total
    quantity. Stages: date-window filter (≈W:54's isin filter + W:19-28
    week window) -> per-(supplier, flag) aggregate -> the W:70-87
    same-interest drop (groupBy+countDistinct+HAVING+semi-join) -> the
    W:90-112 ranking window with deterministic tie-break ('N' plays vpn's
    tie-break role) -> final projection.

    Exercises SURVEY §2 rows 9, 12, 14-16, 17-20 in one lazy lineage.
    """
    li = read_table(spark, sf_dir, "lineitem")
    base = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
        )
        .groupBy("l_suppkey", "l_returnflag")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("total_qty"))
    )
    # Same-interest drop: suppliers where every return flag has one identical
    # total_qty would be dropped; implemented in the reference's literal
    # grouped form (W:76-85) for edge-case fidelity.
    keep = (
        base.groupBy("l_suppkey", "total_qty")
        .agg(F.countDistinct("l_returnflag").alias("n_flags"))
        .filter(F.col("n_flags") < 3)
        .select("l_suppkey")
        .distinct()
    )
    kept = base.join(F.broadcast(keep), "l_suppkey", "left_semi")
    n_priority = F.when(F.col("l_returnflag") == "N", 0).otherwise(1)
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("total_qty").desc(), n_priority.desc(), F.col("l_returnflag").asc()
    )
    return kept.select(
        "l_suppkey",
        "l_returnflag",
        F.col("total_qty").cast("double").alias("total_qty"),
        F.row_number().over(w).cast("int").alias("ranking"),
    )


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary on lineitem: the canonical wide
    aggregation. Map-side partial aggregation + AQE-coalesced exchange; at
    100 TB the 6-group output is tiny, the scan dominates, and parquet
    column pruning keeps it to 7 columns."""
    li = read_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount")))
                .cast("decimal(28,6)")
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped multi-join: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    region, revenue per nation. Dimension tables are broadcast (nation/region
    always; customer within AQE's threshold at test SFs); the lineitem-orders
    join is the only real shuffle, and AQE handles its sizing/skew."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (F.lit(1).cast("decimal(18,2)") - F.col("l_discount").cast("decimal(18,2)")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(rev.cast("decimal(28,6)")).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


def top_orders_per_customer(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Top-k per group: each customer's k most expensive orders.

    ``row_number`` over (custkey / totalprice DESC, orderkey ASC) then
    ``<= k``. At scale this is the rank-based top-k pattern: one hash
    exchange on the group key, per-partition sort — no global sort. The
    orderkey tie-break makes it deterministic."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def asof_join_events_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the customer's most recent order at or
    before the event time (events.user_id ≡ orders.o_custkey).

    Spark lacks a native as-of join; the scalable composition is the
    union-tag trick: tag both streams, union, and run ONE window pass per
    key ordered by time — ``last(order over rows unbounded preceding)``
    carries the latest order forward onto each event row. Cost: a single
    hash exchange on the key (vs. the naive inequality-join + filter, which
    is a range join that explodes at scale).

    Orders are first deduped to one per (custkey, orderdate) — max orderkey
    wins — so the "latest order" is well-defined when several orders share
    a date (and the DuckDB ASOF JOIN oracle is deterministic too)."""
    events = read_table(spark, sf_dir, "events")
    orders = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    ev = events.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    od = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey"),
    )
    # orders sort before events at identical t (is_event ASC) => "at or before"
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t").asc(), F.col("is_event").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = ev.unionByName(od).withColumn(
        "last_orderkey", F.last("o_orderkey", ignorenulls=True).over(w)
    )
    return (
        tagged.filter(F.col("is_event") == 1)
        .select(
            F.col("event_id"),
            F.col("k").alias("user_id"),
            F.col("last_orderkey").alias("o_orderkey"),
        )
    )


def asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: for each event, the customer's NEXT order
    strictly after the event time — the attribution direction ("which
    purchase did this click lead to") that the backward as-of
    (``asof_join_events_orders``) can't answer.

    Same union-tag single-window composition, mirrored: one hash
    exchange on the key, ``first(order, ignorenulls)`` over the
    FOLLOWING frame. Strictness falls out of the sort key: at identical
    t, orders sort BEFORE events (is_event asc), so a same-instant order
    is behind the event row and outside its following frame. Orders are
    deduped to max orderkey per (custkey, date) so "next order" is
    well-defined (and the oracle deterministic)."""
    events = read_table(spark, sf_dir, "events")
    orders = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    ev = events.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_orderkey"),
        F.lit(None).cast("timestamp").alias("o_t"),
    )
    od = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey"),
        F.col("o_orderdate").alias("o_t"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t").asc(), F.col("is_event").asc())
        .rowsBetween(1, Window.unboundedFollowing)
    )
    tagged = (
        ev.unionByName(od)
        .withColumn("next_orderkey", F.first("o_orderkey", ignorenulls=True).over(w))
        .withColumn("next_orderdate", F.first("o_t", ignorenulls=True).over(w))
    )
    return tagged.filter(F.col("is_event") == 1).select(
        "event_id",
        F.col("k").alias("user_id"),
        "next_orderkey",
        "next_orderdate",
    )


def weekly_event_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the reference's weekly cadence (``@weekly`` at
    ``dags/google_trends_to_bigquery.py:163``): per (ISO week, event_type)
    count + exact value sum over events. ``to_date(date_trunc('week'))``
    keeps the week key a DATE on both engines (DuckDB's date_trunc returns
    DATE). See ``streaming.weekly`` for the Structured Streaming form with
    watermarked late-data handling."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            F.to_date(F.date_trunc("week", F.col("ts"))).alias("week_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


def sessionize_events(spark: SparkSession, sf_dir: str, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization of the events table: a new session starts
    when a user's inter-event gap exceeds ``gap_minutes``. lag + cumulative
    sum over one per-user window — single exchange on user_id, linear scan
    per partition; the batch twin of a streaming session window."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    # microsecond-exact gap (unix_timestamp would truncate sub-second parts)
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    with_start = events.withColumn(
        "is_new_session",
        F.when(gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), 1).otherwise(0),
    )
    sessioned = with_start.withColumn(
        "session_seq",
        F.sum("is_new_session").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).cast("long"),
    )
    return (
        sessioned.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
    )


def session_window_rollup(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Gap-based sessionization via Spark's BUILT-IN ``session_window``
    aggregation — the declarative twin of ``sessionize_events`` (lag +
    cumulative sum) and the formulation that carries unchanged into
    Structured Streaming (``streaming/sessions.py`` runs this exact
    groupBy under a watermark; the lag/cumsum form cannot stream, since
    an unbounded window over event-time has no watermark semantics).

    Physical shape: one exchange on the grouping key, then Spark's
    session-merge iterator (UpdatingSessionsIterator) fuses overlapping
    [ts, ts+gap) intervals per key in a single sorted pass — same cost
    class as the window formulation, but with MERGEABLE partial sessions
    (the property streaming state storage needs).

    Merge semantics, pinned by the oracle AND a hypothesis property test
    with exact-gap ties: TOUCHING windows merge — an event whose window
    [t, t+gap) starts exactly at the running session's end joins it, so
    a new session needs a gap STRICTLY greater than ``gap_minutes``.
    That is the same `>` boundary as the lag/cumsum operator (an earlier
    revision documented them as differing at ties; the property test's
    falsifying example [0min, 30min] disproved that — fixture
    microsecond times never produce exact ties, so only randomized
    inputs could catch it). ``session_end`` is last-event + gap (the
    window bound), not last-event."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.session_window("ts", f"{gap_minutes} minutes")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def scd2_user_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: each event's value is
    current for its (user, event_type) until the next event of that key —
    emit validity intervals [valid_from, valid_to) with an is_current
    flag. The warehouse history-table pattern, from the same single
    window shuffle as lead(): O(1) state per row, total order inside
    each key via (ts, event_id)."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return events.select(
        "user_id",
        "event_type",
        "event_id",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): a user converts a stage
    only with an event strictly after their previous stage's first
    qualifying event. Three STACKED min-over-window expressions on the
    same user partition — Catalyst plans them in ONE window node after one
    exchange; the final stage counts distinct users per funnel depth.

    The sequential dependency (click must follow the first view) is why
    this isn't a plain conditional aggregation — and the stacked-window
    form is what keeps it one shuffle instead of three join-backs."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    v = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    with_v = events.withColumn("v_ts", v)
    c = F.min(
        F.when(
            (F.col("event_type") == "click") & (F.col("ts") > F.col("v_ts")),
            F.col("ts"),
        )
    ).over(w)
    with_c = with_v.withColumn("c_ts", c)
    p = F.min(
        F.when(
            (F.col("event_type") == "purchase") & (F.col("ts") > F.col("c_ts")),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        with_c.withColumn("p_ts", p)
        .groupBy("user_id")
        .agg(
            F.max(F.col("v_ts").isNotNull()).alias("viewed"),
            F.max(F.col("c_ts").isNotNull()).alias("clicked"),
            F.max(F.col("p_ts").isNotNull()).alias("purchased"),
        )
    )
    return per_user.agg(
        F.sum(F.when(F.col("viewed"), 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(F.col("clicked"), 1).otherwise(0)).alias("n_view_click"),
        F.sum(F.when(F.col("purchased"), 1).otherwise(0)).alias(
            "n_view_click_purchase"
        ),
    )


def rolling_7day_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per event, the sum of the user's event values in
    the trailing 7 DAYS (event-time range, not row count — the frame the
    ROWS variants can't express when event density varies). Spark's
    rangeBetween needs a numeric orderBy, so the frame runs on epoch
    seconds; one exchange on user_id. The fraud/engagement trailing-window
    shape."""
    events = read_table(spark, sf_dir, "events")
    sec = F.unix_micros(F.col("ts")).cast("double") / 1_000_000.0
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("epoch_s").asc())
        .rangeBetween(-7 * 86400, 0)
    )
    return (
        events.withColumn("epoch_s", sec)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.sum(F.col("value").cast("decimal(18,2)"))
            .over(w)
            .cast("double")
            .alias("trailing_7d_value"),
        )
    )


def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-report: each nation's share of global revenue. The naive
    form is a window SUM over an EMPTY partition — a single-task funnel at
    scale; here the global total is a one-row aggregate broadcast back
    onto the per-nation rollup, producing identical values with unbounded
    parallelism. Shares are one IEEE division of two exact decimal sums."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    customer = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice").cast("decimal(18,2)")
           * (1 - F.col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,6)")
    per_nation = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(rev).alias("rev_dec"))
    )
    total = per_nation.agg(F.sum("rev_dec").alias("total_dec"))
    return (
        per_nation.crossJoin(F.broadcast(total))
        .select(
            "n_name",
            F.col("rev_dec").cast("double").alias("revenue"),
            (F.col("rev_dec").cast("double") / F.col("total_dec").cast("double"))
            .alias("revenue_share"),
        )
    )


def user_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED aggregation: each user's full event-type sequence in
    (ts, event_id) order as one string — the behavior-sequence
    construction a training pipeline feeds sequence models from.
    collect_list gives no order guarantee, so the order is imposed by
    sorting an array of (ts, event_id, type) structs AFTER collection
    (struct comparison is lexicographic by field; the key is a total
    order) — one exchange, deterministic at any parallelism."""
    events = read_table(spark, sf_dir, "events")
    return (
        events.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "event_type"))
            ).alias("evs")
        )
        .select(
            "user_id",
            F.size("evs").cast("long").alias("n_events"),
            F.concat_ws(
                ">", F.transform("evs", lambda s: s.getField("event_type"))
            ).alias("sequence"),
        )
    )


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: users grouped by the week of their FIRST
    event (the cohort), counted as retained in every later week they act —
    the (cohort_week, week_offset) -> distinct-user matrix behind every
    retention curve.

    Shape: ONE exchange on user_id collecting each user's distinct active
    weeks as a set (bounded by the calendar — a few hundred weeks max, no
    matter how many events the user has; map-side partial collect_set
    dedups before the shuffle), the cohort week is array_min of that set,
    offsets explode from it map-side, and one bounded rollup on
    (cohort_week, offset) finishes — 2 exchanges total. The naive
    distinct -> self-join formulation costs 4+ (distinct on (user, week),
    re-key to user, join both sides, rollup); this one replaces the join
    with per-user array math. week_offset uses integer datediff DIV 7,
    cohort weeks come from date_trunc (to_date'd: Spark emits timestamp,
    DuckDB DATE)."""
    events = read_table(spark, sf_dir, "events")
    per_user = (
        events.select(
            "user_id", F.to_date(F.date_trunc("week", F.col("ts"))).alias("wk")
        )
        .groupBy("user_id")
        .agg(F.collect_set("wk").alias("wks"))
        .withColumn("cohort_week", F.array_min("wks"))
    )
    return (
        per_user.select(
            "user_id", "cohort_week", F.explode("wks").alias("wk")
        )
        .select(
            "cohort_week",
            F.expr("datediff(wk, cohort_week) div 7").cast("int").alias(
                "week_offset"
            ),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        # per-user weeks are already distinct, but countDistinct keeps the
        # contract honest if a caller feeds overlapping user partitions
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


def wow_event_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type: this week's exact value total
    against the previous week's via a lag window, with the growth ratio —
    the trend metric layered on the weekly rollup (the reference's weekly
    cadence, one derivative up).

    The window partitions by event_type and orders by the week date — a
    total order (one row per (type, week) after the rollup), so lag is
    deterministic. Scale: the windowed table is the ROLLUP (weeks x types
    rows, not events), so the sort is trivial no matter the corpus size;
    the heavy lifting stays in the partial-aggregated groupBy. Sums
    accumulate in DECIMAL and are emitted as doubles; growth is a chain of
    two IEEE ops over those exact-valued doubles — cross-engine stable."""
    weekly = weekly_event_rollup(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(F.col("week_start").asc())
    prev = F.lag("total_value").over(w)
    return weekly.select(
        "week_start",
        "event_type",
        "n_events",
        "total_value",
        prev.alias("prev_value"),
        F.when(prev.isNotNull() & (prev != 0), (F.col("total_value") - prev) / prev)
        .alias("wow_growth"),
    )


def rolling_7day_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per active day, the count of DISTINCT users seen in the trailing
    7 days — the sliding-distinct metric (7-day active users) that a RANGE
    window CANNOT express (count(distinct) over a frame is unsupported,
    and collect_set over a frame holds per-row state).

    Formulation: reduce to distinct (day, user) pairs FIRST (the only
    corpus-sized shuffle), then explode each pair to the <=7 report days
    it contributes to, and countDistinct per report day. The explode
    multiplies the already-distinct day-user pairs (bounded: days x active
    users x 7), never raw events; report days are clamped to days that
    actually occur so the result has no phantom trailing days. SCALE: two
    exchanges (pair distinct, day aggregate) — the same cost profile as
    the weekly rollups; no per-user window state."""
    events = read_table(spark, sf_dir, "events")
    pairs = events.select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    ).distinct()
    days = pairs.select("day").distinct()
    contrib = pairs.select(
        F.explode(
            F.expr("sequence(day, day + INTERVAL 6 DAYS, INTERVAL 1 DAY)")
        ).alias("report_day"),
        "user_id",
    )
    return (
        contrib.join(days, contrib.report_day == days.day, "left_semi")
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
    )


def user_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order (Markov) transition counts over each user's event
    sequence: for every consecutive pair, count (prev_type -> next_type)
    and the distinct users exhibiting it — the behavioral-model input a
    sequence pipeline derives before training.

    The per-user order is the verified total order (ts, event_id), so
    ``lag`` is deterministic under any partitioning; one window exchange
    on user_id, one small aggregate keyed by the type pair (bounded by
    |event_type|^2)."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    t = events.select("user_id", "event_id", "ts", "event_type").withColumn(
        "prev_type", F.lag("event_type").over(w)
    )
    return (
        t.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def event_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of inter-event gaps per user, in whole-hour buckets
    capped at 48h — the activity-cadence profile (bot detection, session
    tuning) computed with pure integer arithmetic so every engine buckets
    identically: epoch MICROseconds -> integer-div seconds -> integer-div
    hours -> LEAST(., 48). Same single user_id window exchange as the
    transition counts; the aggregate output is <=49 rows."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    epoch_s = F.expr("unix_micros(ts) div 1000000")
    t = (
        events.select("user_id", "event_id", "ts")
        .withColumn("cur_s", epoch_s)
        .withColumn("prev_s", F.lag("cur_s").over(w))
    )
    return (
        t.filter(F.col("prev_s").isNotNull())
        .select(
            F.least(
                F.expr("(cur_s - prev_s) div 3600"), F.lit(48).cast("bigint")
            ).alias("gap_bucket_hours"),
            "user_id",
        )
        .groupBy("gap_bucket_hours")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


def funnel_conversion_windowed(
    spark: SparkSession, sf_dir: str, within: str = "1 hour"
) -> DataFrame:
    """Time-boxed ordered funnel: each stage must follow the previous
    stage's first qualifying event WITHIN ``within`` (view -> click within
    1h -> purchase within another 1h) — the conversion-attribution window
    marketers actually use, where an eventual click hours later does NOT
    count. Same stacked-min-window shape as ``funnel_conversion`` (one
    user_id exchange, one window node); only the CASE predicates gain the
    horizon bound."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    horizon = F.expr(f"INTERVAL {within}")
    v = F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    with_v = events.withColumn("v_ts", v)
    c = F.min(
        F.when(
            (F.col("event_type") == "click")
            & (F.col("ts") > F.col("v_ts"))
            & (F.col("ts") <= F.col("v_ts") + horizon),
            F.col("ts"),
        )
    ).over(w)
    with_c = with_v.withColumn("c_ts", c)
    p = F.min(
        F.when(
            (F.col("event_type") == "purchase")
            & (F.col("ts") > F.col("c_ts"))
            & (F.col("ts") <= F.col("c_ts") + horizon),
            F.col("ts"),
        )
    ).over(w)
    per_user = (
        with_c.withColumn("p_ts", p)
        .groupBy("user_id")
        .agg(
            F.max(F.col("v_ts").isNotNull()).alias("viewed"),
            F.max(F.col("c_ts").isNotNull()).alias("clicked"),
            F.max(F.col("p_ts").isNotNull()).alias("purchased"),
        )
    )
    return per_user.agg(
        F.sum(F.when(F.col("viewed"), 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(F.col("clicked"), 1).otherwise(0)).alias("n_view_click"),
        F.sum(F.when(F.col("purchased"), 1).otherwise(0)).alias(
            "n_view_click_purchase"
        ),
    )


def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for the weekly rollup: merge a
    PREVIOUSLY MATERIALIZED aggregate (events before a cutoff) with the
    new batch's partial aggregate — the update path that processes only
    the delta instead of rescanning history.

    Count and decimal SUM are commutative monoids, so
    ``re-aggregate(state ∪ partial(delta)) == full recompute`` EXACTLY
    (the oracle is the full rollup). The cutoff 2024-01-17 falls mid-span
    of the events table (2024-01-01..2024-01-30 at every SF) and MIDWEEK
    (a Monday cutoff leaves the weekly group keys disjoint across sides),
    so both sides are non-empty and the merge genuinely sums across them — tests/test_sinks_streaming.py asserts the non-degeneracy so
    regenerated testdata can't silently re-trivialize it (ADVICE r3). In
    production the state side is the stored rollup table. SCALE: the
    merge shuffle carries |weeks × types| + |delta weeks × types| rows —
    aggregate-sized, not event-sized."""
    events = read_table(spark, sf_dir, "events")
    # midweek Wednesday: a Monday cutoff (2024-01-15) would align with
    # the week boundary and leave state/delta week keys DISJOINT — the
    # merge would concatenate, never sum across sides (round-10 fix;
    # output is identical for any cutoff, that's the IVM identity)
    cutoff = F.lit("2024-01-17").cast("timestamp")

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy(
            F.to_date(F.date_trunc("week", F.col("ts"))).alias("week_start"),
            "event_type",
        ).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_dec"),
        )

    state = rollup(events.filter(F.col("ts") < cutoff))  # the stored rollup
    delta = rollup(events.filter(F.col("ts") >= cutoff))  # the new batch
    return (
        state.unionByName(delta)
        .groupBy("week_start", "event_type")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_dec").cast("double").alias("total_value"),
        )
    )


def incremental_join_rollup_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental view maintenance for a JOIN + aggregate view — the
    delta-join algebra :func:`incremental_rollup_merge` (single-table)
    does not exercise: for ``Q = γ(A ⋈ B)`` with both a fact delta ΔA
    (new orders by date) and a dim delta ΔB (a batch of new customers),
    the join distributes over disjoint unions::

        (A₀∪ΔA) ⋈ (B₀∪ΔB) = A₀⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈B₀ ∪ ΔA⋈ΔB

    so merging the STORED state partial γ(A₀⋈B₀) with the three delta
    partials and re-aggregating equals the full recompute EXACTLY
    (count / decimal-sum monoids) — the oracle IS the full recompute,
    pinning the identity. The splits (orders before/after 1996-01-01;
    customers by ``c_custkey % 10``) leave all four quadrants non-empty
    at every SF (test-asserted, the ``incremental_rollup_merge``
    non-degeneracy rule).

    SCALE: each partial is aggregate-grain (|nations × priorities|);
    the dim side broadcasts into every join; only ΔA⋈B₀-sized work is
    new per batch — history is never rescanned. The three delta
    partials and the state merge on one aggregate-sized shuffle."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderpriority",
        F.to_date("o_orderdate").alias("d"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    cust = read_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    a0 = orders.filter(F.col("d") < F.lit("1996-01-01"))
    da = orders.filter(F.col("d") >= F.lit("1996-01-01"))
    b0 = cust.filter(F.col("o_custkey") % 10 != 0)
    db = cust.filter(F.col("o_custkey") % 10 == 0)

    def partial(fact: DataFrame, dim: DataFrame) -> DataFrame:
        return (
            fact.join(F.broadcast(dim), "o_custkey")
            .groupBy("c_nationkey", "o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum("price").alias("rev_dec"),
            )
        )

    state = partial(a0, b0)  # the stored rollup
    merged = (
        state.unionByName(partial(a0, db))
        .unionByName(partial(da, b0))
        .unionByName(partial(da, db))
        .groupBy("c_nationkey", "o_orderpriority")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("rev_dec").cast("double").alias("total_revenue"),
        )
    )
    return merged


def scd2_as_of(
    spark: SparkSession, sf_dir: str, as_of: str = "2024-01-15"
) -> DataFrame:
    """Temporal AS-OF resolution over the SCD2 history: each (user,
    event_type)'s value effective at the probe instant — the time-travel
    read a warehouse serves from its history table.

    Interval semantics are [valid_from, valid_to): a NULL valid_to means
    still-current. Implemented as a filter on the history (no extra
    shuffle beyond the history build's window exchange); at 100 TB the
    as_of predicate prunes history partitions when the table is laid out
    by valid_from date."""
    hist = scd2_user_type_history(spark, sf_dir)
    probe = F.lit(as_of).cast("timestamp")
    return hist.filter(
        (F.col("valid_from") <= probe)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > probe))
    ).select(
        "user_id",
        "event_type",
        F.col("value").alias("value_as_of"),
        "valid_from",
        "valid_to",
    )


def max_concurrent_sessions(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 30
) -> DataFrame:
    """Peak concurrency per day: the maximum number of user sessions
    (from ``sessionize_events``) simultaneously active at any instant of
    each calendar day. The classic interval-concurrency sweep, done the
    distributed way:

    1. sessions are clipped to the days they span (``sequence`` explode —
       sessions are gap-bounded, so the per-row fan-out is tiny);
    2. each clipped interval becomes a +1 boundary at its start and a -1
       boundary one microsecond after its (closed) end;
    3. a running sum ordered by (ts, delta DESC) inside each day partition
       yields the active count; its max is the answer.

    The sweep window partitions by DAY, so at 100 TB every day sweeps in
    parallel and no global single-partition sort exists (the same
    two-phase idea as ``global_row_numbers``, with the calendar as the
    natural range partitioner). Tie rule, pinned by the oracle: intervals
    are CLOSED — a session starting at the exact microsecond another ends
    counts as concurrent with it (+1 sorts before the -1, which is shifted
    one microsecond past the closed end).

    Determinism: the max of the running sum is invariant under permuting
    equal (ts, delta) rows, so the output is total-order-free; counts are
    exact BIGINTs.
    """
    sessions = sessionize_events(spark, sf_dir, gap_minutes=gap_minutes)
    spanned = sessions.select(
        "session_start",
        "session_end",
        F.explode(
            F.sequence(F.to_date("session_start"), F.to_date("session_end"))
        ).alias("day"),
    )
    day_start = F.col("day").cast("timestamp")
    day_end = day_start + F.expr("INTERVAL 1 DAY") - F.expr("INTERVAL 1 MICROSECOND")
    clipped = spanned.select(
        "day",
        F.greatest("session_start", day_start).alias("s"),
        F.least("session_end", day_end).alias("e"),
    )
    bounds = clipped.select(
        "day", F.col("s").alias("ts"), F.lit(1).alias("delta")
    ).unionAll(
        clipped.select(
            "day",
            (F.col("e") + F.expr("INTERVAL 1 MICROSECOND")).alias("ts"),
            F.lit(-1).alias("delta"),
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.col("ts").asc(), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        bounds.withColumn("active", F.sum("delta").over(w))
        .groupBy("day")
        .agg(F.max("active").cast("long").alias("max_concurrent"))
    )


def user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's event values
    (alpha = 1/2) — the time-series smoothing family, done as a pure
    JVM-side ordered fold: collect_list → array_sort(struct) →
    ``F.aggregate`` with ``y ← (y + x)/2``. No Python anywhere; one
    exchange on user_id.

    Cross-engine exactness without transcendentals: halving is an EXACT
    IEEE op and the additions execute in the same total order
    (ts, event_id) in both engines, so even though + rounds, the rounding
    sequence is identical and the fold is bit-reproducible — which makes
    a RECURRENCE (normally the least checkable shape) fully
    hash-checkable.

    Scale note: per-user state here is the user's full sorted event array
    (bounded by per-user activity, not corpus size). For unbounded users,
    the same recurrence runs as the O(1)-state streaming fold
    (``streaming/stateful.py::streaming_running_user_stats`` is the
    template); this batch form is the calibration twin.
    """
    events = read_table(spark, sf_dir, "events")
    seq = F.array_sort(F.collect_list(F.struct("ts", "event_id", "value")))
    grouped = events.groupBy("user_id").agg(seq.alias("seq"))
    ewma = F.aggregate(
        F.col("seq"),
        F.lit(None).cast("double"),
        lambda acc, x: F.when(acc.isNull(), x["value"]).otherwise(
            (acc + x["value"]) / F.lit(2.0)
        ),
    )
    return grouped.select(
        "user_id",
        F.size("seq").cast("long").alias("n_events"),
        ewma.alias("ewma_value"),
    )


def event_pattern_conversions(
    spark: SparkSession, sf_dir: str, pattern: str = "c[ve]*p"
) -> DataFrame:
    """Sequence-pattern mining over each user's event stream — the
    MATCH_RECOGNIZE-shaped capability: encode the ordered event types as
    a one-char-per-event string and count non-overlapping regex matches
    (default: click, any views/errors, then purchase — the loose
    conversion path ``c[ve]*p``).

    The encode-then-regex formulation keeps the whole operator in
    JVM-side column expressions (collect_list → array_sort → transform →
    concat_ws → regexp_extract_all): one exchange on user_id, per-user
    state bounded by the user's event count, and the pattern language is
    full regex rather than a bespoke DSL. Cross-engine: the event-code
    alphabet is disjoint from the terminator, so the pattern compiles to
    the same DFA matches under Java regex and RE2 — leftmost
    non-overlapping counts agree exactly.

    At 100 TB: identical shape to ``user_event_sequences`` (entity-
    bounded arrays); for unbounded users, window the sequence by day and
    sum the per-window counts (matches never span the boundary code).
    """
    events = read_table(spark, sf_dir, "events")
    seq_arr = F.array_sort(
        F.collect_list(
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
        )
    )
    grouped = events.groupBy("user_id").agg(seq_arr.alias("seq_arr"))
    seq = F.concat_ws("", F.transform(F.col("seq_arr"), lambda x: x["c"]))
    return grouped.select(
        "user_id",
        F.size("seq_arr").cast("long").alias("n_events"),
        F.size(F.regexp_extract_all(seq, F.lit(pattern), 0))
        .cast("long")
        .alias("n_conversions"),
    )


def session_overlap_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join, collapsed to the per-interval aggregate: for
    every session, how many OTHER sessions' [start, end] intervals
    (closed) it overlaps. The naive answer is the quadratic interval
    self-join; this operator computes it with NO pair join at all via two
    order statistics:

        n_overlaps(a) = #{starts <= end_a} - #{ends < start_a} - 1

    (the two exclusion sets — "starts after a ends" and "ends before a
    starts" — are provably disjoint, so inclusion-exclusion needs no
    correction term). Each statistic is a rank lookup: union the
    boundary values with the probe values, one ordered running count.
    Work is O(n log n) in SESSIONS (already corpus-reduced), and the
    output is linear even when the pair set is inherently quadratic
    (fixed time span, growing corpus — exactly the sf1 shape).

    The DuckDB oracle deliberately IS the quadratic interval join
    (IEJoin), so the sweep formulation is cross-checked against the
    definition. Tie rule, pinned by both: closed intervals — touching
    sessions (one's end == the other's start, to the microsecond)
    overlap.

    The two running counts run through :func:`two_phase_cumsum` over
    the time-ordered boundary rows (VERDICT r7 item 1 — the old global
    ordered window put all 2n boundaries in ONE task; the calendar is
    the natural range partitioner, so every range partition now sorts
    independently and per-partition offsets restore the global count).
    The tie groups of (val, tie_key) are single-kind — all bounds or
    all probes — so the summed indicator is constant within every tie
    group, exactly the helper's correctness precondition.
    """
    sess = sessionize_events(spark, sf_dir).select(
        "user_id", "session_seq", "session_start", "session_end"
    )

    def rank_probe(bound_col: str, probe_col: str, probe_first_on_tie: bool):
        bounds = sess.select(
            F.col(bound_col).alias("val"),
            F.lit(0).alias("is_probe"),
            F.lit(None).cast("long").alias("user_id"),
            F.lit(None).cast("long").alias("session_seq"),
        )
        probes = sess.select(
            F.col(probe_col).alias("val"),
            F.lit(1).alias("is_probe"),
            "user_id",
            "session_seq",
        )
        # probes-first  <=>  ascending on (1 - is_probe)
        tie_key = (
            (1 - F.col("is_probe")) if probe_first_on_tie else F.col("is_probe")
        )
        return (
            two_phase_cumsum(
                bounds.unionAll(probes).withColumn("_tie", tie_key),
                [F.col("val").asc(), F.col("_tie").asc()],
                1 - F.col("is_probe"),
                "cnt",
                n_parts=16,
            )
            .filter(F.col("is_probe") == 1)
            .select("user_id", "session_seq", "cnt")
        )

    # starts <= end_a: bounds (starts) sort BEFORE the probe at ties
    starts_le = rank_probe("session_start", "session_end", probe_first_on_tie=False)
    # ends < start_a: STRICT — the probe sorts before equal-valued ends
    ends_lt = rank_probe("session_end", "session_start", probe_first_on_tie=True)
    return (
        starts_le.withColumnRenamed("cnt", "n_starts_le")
        .join(
            ends_lt.withColumnRenamed("cnt", "n_ends_lt"),
            ["user_id", "session_seq"],
        )
        .select(
            "user_id",
            "session_seq",
            (F.col("n_starts_le") - F.col("n_ends_lt") - 1)
            .cast("long")
            .alias("n_overlaps"),
        )
    )


def user_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of each user's event value — the IoT /
    financial-tick aggregate Spark has no built-in for: each value is
    weighted by how long it was "held" (until the user's next event),
    over the span [first event, last event]. Users with a single event
    have no span and are excluded.

    Exactness: weights are integer MICROSECONDS (unix_micros deltas) and
    values integer CENTS (the repo's double→DECIMAL(18,2) rule), so the
    numerator is an exact Σ cents·µs accumulated in DECIMAL(38,0) —
    per-term products stay < 2⁶³, but a month-long span × thousands of
    events overflows BIGINT in the SUM, hence the decimal accumulator.
    The emitted average is one double division of two exactly-converted
    operands. One exchange on user_id; lead() + groupBy share it.
    """
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    d_us = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(F.col("ts"))
    stepped = events.select(
        "user_id",
        cents.alias("cents"),
        F.unix_micros(F.col("ts")).alias("t_us"),
        d_us.alias("d_us"),  # NULL for each user's last event
    )
    agg = stepped.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum((F.col("cents") * F.col("d_us")).cast("decimal(38,0)")).alias("num"),
        (F.max("t_us") - F.min("t_us")).alias("span_us"),
    )
    return agg.filter(F.col("span_us") > 0).select(
        "user_id",
        "n_events",
        F.col("span_us").cast("long").alias("span_us"),
        (F.col("num").cast("double") / F.col("span_us").cast("double")).alias(
            "twa_cents"
        ),
    )


def session_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SET-VALUED window analytics: for each user session (after the
    first), the Jaccard similarity between this session's distinct
    event-type set and the PREVIOUS session's — behavioral-drift
    detection (a novelty score of 0 means a completely new behavior
    mix; 1 means a repeat). Exact integer set arithmetic:
    ``|A∩B| / (|A|+|B|−|A∩B|)`` over sorted distinct-type arrays
    carried through a lag window — sets stay row-local, the only
    exchange is the user_id window.

    The shape to note: collect_set → array_sort → lag over a window —
    arrays as first-class window values, which most SQL engines cannot
    express (DuckDB's list type + lag makes the oracle possible)."""
    events = read_table(spark, sf_dir, "events")
    # tag events with session_seq via the identical lag/cumsum window
    # rule as sessionize_events — one user_id exchange serves tagging,
    # the per-session set aggregate, AND the lag window
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    tagged = events.withColumn(
        "is_new", F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    ).withColumn(
        "session_seq",
        F.sum("is_new")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long"),
    )
    per_sess = tagged.groupBy("user_id", "session_seq").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    ws = Window.partitionBy("user_id").orderBy(F.col("session_seq").asc())
    # materialize the lag BEFORE filtering: a window expression referenced
    # after a filter would re-evaluate over the filtered rows and shift
    # every predecessor (caught by the oracle gate on first run)
    lagged = per_sess.withColumn("prev_types", F.lag("types").over(ws)).filter(
        F.col("prev_types").isNotNull()
    )
    inter = F.size(F.array_intersect(F.col("types"), F.col("prev_types")))
    union = F.size("types") + F.size("prev_types") - inter
    return lagged.select(
        "user_id",
        "session_seq",
        F.size("types").cast("long").alias("n_types"),
        inter.cast("long").alias("n_shared"),
        (inter.cast("double") / union).alias("jaccard_prev"),
    )


def order_revenue_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact proportional allocation with LARGEST-REMAINDER rounding:
    split each order's total price (integer cents) across its lineitems
    proportionally to extended price, such that the per-item allocations
    are integers AND sum EXACTLY to the order total — the controlled-
    rounding problem every billing/attribution pipeline has, which naive
    per-row rounding gets wrong by a few cents per group.

    Method (Hamilton/largest-remainder): base_i = total·w_i DIV Σw;
    the leftover ``total − Σ base_i`` cents (provably < n_items) go one
    each to the items with the largest division remainders
    (``(total·w_i) MOD Σw``, linenumber tie-break). All BIGINT — products
    stay under 2⁶³ for cents-scale totals; the invariant
    Σ alloc == total holds bit-exactly and is what the oracle hashes.

    One exchange on the order key serves the group sums, the remainder
    rank, and the output."""
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("w"),
    )
    orders = read_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("total"),
    )
    wg = Window.partitionBy("l_orderkey")
    j = (
        li.join(orders, "l_orderkey")
        .withColumn("sumw", F.sum("w").over(wg))
        .withColumn("base", F.expr("(total * w) DIV sumw"))
        .withColumn("rem_part", F.expr("(total * w) % sumw"))
        .withColumn("leftover", F.col("total") - F.sum("base").over(wg))
    )
    wr = Window.partitionBy("l_orderkey").orderBy(
        F.col("rem_part").desc(), F.col("l_linenumber").asc()
    )
    return (
        j.withColumn("rk", F.row_number().over(wr))
        .select(
            "l_orderkey",
            "l_linenumber",
            (
                F.col("base")
                + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
            )
            .cast("long")
            .alias("alloc_cents"),
        )
    )


def user_modal_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user MODE of the categorical event type (most frequent value,
    ties to the lexicographically smallest type) — the grouped-mode
    aggregate SQL lacks natively. Two map-side-combined aggregates: the
    (user, type) leaf, then a per-user row_number over the verified
    total order (count DESC, type ASC). Shuffle is leaf-sized; no
    distinct-and-self-join."""
    events = read_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("cnt").desc(), F.col("event_type").asc()
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), "cnt")
    )


def two_phase_cumsum(
    df: DataFrame,
    order_cols: list,
    val,
    out_name: str,
    part_cols: tuple = (),
    n_parts: int = 8,
    extra: tuple = (),
    totals: tuple = (),
) -> DataFrame:
    """Cumulative sum over a (grouped) total order with NO single-task /
    low-cardinality global sort — the ``global_row_numbers`` two-phase
    decomposition generalized from row numbering to any additive running
    aggregate (VERDICT r7 item 1): range-repartition on
    ``part_cols + order_cols``, run the window WITHIN each range
    partition (parallel — every partition sorts independently), and add
    each partition's exclusive per-group prefix total via a broadcast
    join on ``(_pid, *part_cols)``. The offsets frame is at most
    ``n_parts x |groups present per partition|`` rows — broadcast-sized
    at any data scale; ``n_parts`` is the parallelism knob.

    Ordering precondition: a row's output is well-defined (identical to
    ANY single global-sort evaluation, including the two-phase one
    regardless of where range boundaries split tie groups) iff its tie
    group under ``order_cols`` is a singleton OR contributes zero to
    the sum — rows ordered strictly before it are then exactly the
    prior-partition rows (the offset) plus the strictly-smaller rows in
    its own partition (the local window). Callers comply: the numbering
    callers pass tie-broken total orders; ``session_overlap_degree``
    consumes only probe rows, whose tie groups are all-probe and
    contribute zero.

    The ``_pid`` frame is pinned to ONE RDD (localCheckpoint; LAZY since
    r12 — the checkpoint RDD is created here exactly once, so the sampled
    range boundaries are fixed for every consumer, and the first consumer
    action materializes it in the same job instead of paying a separate
    build-time pass; values and the boundary-pinning guarantee are
    unchanged):
    ``repartitionByRange`` SAMPLES its boundaries, and two evaluations
    over a multi-file input can draw different boundaries, silently
    misaligning offsets against local running sums (the documented
    ``global_row_numbers`` lesson, caught at sf1).

    ``extra``: additional ``(val, out_name)`` running aggregates over
    the SAME order, computed in the same pass (one repartition, one
    in-partition window, one offsets broadcast — adjacent same-spec
    window projections collapse into one physical Window operator).
    ``totals``: ``(agg_expr, out_name)`` whole-frame (per ``part_cols``
    group) aggregates computed FROM THE MATERIALIZED partition frame —
    so callers that previously carried totals as unbounded-window
    columns "to stay one scan" keep the one-base-scan property without
    any global window (the aggregate reads the checkpointed blocks)."""
    part_cols = list(part_cols)
    vals = [(val, out_name)] + list(extra)
    parts = (
        df.repartitionByRange(n_parts, *(part_cols + order_cols))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    w_in = (
        Window.partitionBy("_pid", *part_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = parts
    for i, (v, _) in enumerate(vals):
        local = local.withColumn(f"_loc{i}", F.sum(v).over(w_in))
    off_w = (
        Window.partitionBy(*part_cols)
        .orderBy(F.col("_pid").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = (
        parts.groupBy("_pid", *part_cols)
        .agg(*[F.sum(v).alias(f"_s{i}") for i, (v, _) in enumerate(vals)])
        .select(
            "_pid",
            *part_cols,
            *[
                (F.sum(f"_s{i}").over(off_w) - F.col(f"_s{i}")).alias(
                    f"_off{i}"
                )
                for i in range(len(vals))
            ],
        )
    )
    out = local.join(F.broadcast(offsets), ["_pid"] + part_cols)
    for i, (_, name) in enumerate(vals):
        out = out.withColumn(name, F.col(f"_loc{i}") + F.col(f"_off{i}"))
    out = out.drop(
        "_pid",
        *[f"_loc{i}" for i in range(len(vals))],
        *[f"_off{i}" for i in range(len(vals))],
    )
    if totals:
        aggs = [a.alias(n) for a, n in totals]
        if part_cols:
            tot = parts.groupBy(*part_cols).agg(*aggs)
            out = out.join(F.broadcast(tot), part_cols)
        else:
            out = out.crossJoin(F.broadcast(parts.agg(*aggs)))
    return out


def _two_phase_ntile(
    df: DataFrame,
    k: int,
    order_cols: list,
    out_name: str,
    n_parts: int = 8,
) -> DataFrame:
    """``ntile(k)`` over a TOTAL order with NO single-task global sort —
    the scalable replacement for ``F.ntile(k).over(Window.orderBy(...))``
    (VERDICT r6 item 3), built on the ``global_row_numbers`` two-phase
    decomposition (extended.py): range-repartition on the sort key,
    number rows WITHIN each range partition (a parallel window), then
    add each partition's exclusive prefix-count offset via a tiny
    broadcast join. The bucket index is then pure arithmetic on the
    global rank, reproducing SQL NTILE exactly: with ``n`` rows,
    ``base = n DIV k``, ``rem = n % k``, the first ``rem`` buckets hold
    ``base + 1`` rows — so ``tile(r) = (r-1) DIV (base+1) + 1`` for
    ``r <= rem*(base+1)`` and ``rem + (r - rem*(base+1) - 1) DIV base
    + 1`` after (bit-identical to both engines' NTILE; pinned by a
    property test against ``F.ntile`` over constructed frames).

    The pid frame is pinned to one RDD (lazy localCheckpoint, r12) because
    repartitionByRange samples its boundaries — two evaluations can
    split differently and misalign offsets against local ranks (the
    documented ``global_row_numbers`` lesson, caught at sf1).
    ``n_parts`` is the parallelism knob: each range partition sorts
    independently, so at 10^9 rows you raise it instead of melting one
    task; the offset/total frame stays n_parts rows — broadcast-sized
    at any data scale. Requires the order to be TOTAL (unique key) so
    range boundaries are clean; all callers pass a tie-broken order."""
    parts = (
        df.repartitionByRange(n_parts, *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=False)
    )
    in_part = Window.partitionBy("_pid").orderBy(*order_cols)
    numbered = parts.withColumn("_rn", F.row_number().over(in_part))
    off_w = Window.orderBy(F.col("_pid").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot_w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        parts.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .select(
            "_pid",
            (F.sum("_cnt").over(off_w) - F.col("_cnt")).alias("_off"),
            F.sum("_cnt").over(tot_w).alias("_n"),
        )
    )
    ranked = (
        numbered.join(F.broadcast(offsets), "_pid")
        .withColumn("_rank", F.col("_rn") + F.col("_off"))
        .withColumn("_base", F.expr(f"_n DIV {k}"))
        .withColumn("_rem", F.col("_n") % k)
        .withColumn("_cut", F.col("_rem") * (F.col("_base") + 1))
    )
    tile = F.when(
        F.col("_rank") <= F.col("_cut"),
        F.expr("(_rank - 1) DIV (_base + 1)") + 1,
    ).otherwise(F.col("_rem") + F.expr("(_rank - _cut - 1) DIV _base") + 1)
    return ranked.withColumn(out_name, tile.cast("long")).drop(
        "_pid", "_rn", "_off", "_n", "_rank", "_base", "_rem", "_cut"
    )


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: recency (days from last order to the
    corpus anchor = max order date), frequency (order count), monetary
    (exact cents), each scored into quintiles over a FULLY tie-broken
    order (metric, then custkey) so the bucketing is deterministic and
    engine-identical; ``rfm_code = 100r + 10f + m``.

    Each quintile runs through :func:`_two_phase_ntile` — three
    parallel range-partitioned numberings instead of three single-task
    global ntile sorts (VERDICT r6 item 3); output is bit-identical to
    ``ntile(5)`` over the same orders, so the oracle is unchanged."""
    orders = read_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_day"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
        ).alias("m_cents"),
    )
    anchor = per.agg(F.max("last_day").alias("anchor"))
    base = per.crossJoin(F.broadcast(anchor)).select(
        "o_custkey",
        F.datediff("anchor", "last_day").cast("long").alias("recency_days"),
        "n_orders",
        "m_cents",
    )
    scored = _two_phase_ntile(
        base, 5, [F.col("recency_days").asc(), F.col("o_custkey").asc()],
        "r_score",
    )
    scored = _two_phase_ntile(
        scored, 5, [F.col("n_orders").desc(), F.col("o_custkey").asc()],
        "f_score",
    )
    scored = _two_phase_ntile(
        scored, 5, [F.col("m_cents").desc(), F.col("o_custkey").asc()],
        "m_score",
    )
    return scored.select(
        "o_custkey",
        "recency_days",
        "n_orders",
        "m_cents",
        "r_score",
        "f_score",
        "m_score",
        (F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score"))
        .cast("long")
        .alias("rfm_code"),
    )


def user_acquisition_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new-user and cumulative-user counts — the acquisition curve.
    Running COUNT(DISTINCT) is non-decomposable directly, but first-seen
    dates make it trivially so: cumulative users through day d = users
    whose FIRST event day <= d. One per-user min aggregate, one tiny
    per-day count, one prefix sum over the day spine — no distinct state
    carried across days, which is what makes this shape work on an
    unbounded horizon at 100 TB."""
    events = read_table(spark, sf_dir, "events")
    firsts = events.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    by_day = firsts.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return by_day.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


def event_type_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association lift between event-type pairs at user granularity:
    ``lift(x,y) = P(x,y) / (P(x)P(y)) = n_both·n_users / (n_x·n_y)``
    over distinct (user, type) incidence — the market-basket signal
    (which behaviors co-occur beyond chance) feeding feature crosses and
    recommendation priors.

    Shape: one distinct pass, a per-type count, and a user-keyed
    self-join whose fan-out per user is bounded by the TYPE VOCABULARY
    (|types| choose 2), not the event count — the same bounded-fan-out
    argument as the co-purchase graph builder. Products are formed in
    DECIMAL(38,0) (the chi2/KS overflow rule) and the lift is one IEEE
    division of two exact conversions."""
    events = read_table(spark, sf_dir, "events")
    du = events.select("user_id", "event_type").distinct()
    singles = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    n_users = du.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("n_users")
    )
    a = du.select("user_id", F.col("event_type").alias("type_x"))
    b = du.select("user_id", F.col("event_type").alias("type_y"))
    both = (
        a.join(b, "user_id")
        .filter(F.col("type_x") < F.col("type_y"))
        .groupBy("type_x", "type_y")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    nx = singles.select(
        F.col("event_type").alias("type_x"), F.col("n").alias("n_x")
    )
    ny = singles.select(
        F.col("event_type").alias("type_y"), F.col("n").alias("n_y")
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    return (
        both.join(F.broadcast(nx), "type_x")
        .join(F.broadcast(ny), "type_y")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_x",
            "type_y",
            "n_x",
            "n_y",
            "n_both",
            (
                (dec("n_both") * dec("n_users")).cast("double")
                / (dec("n_x") * dec("n_y")).cast("double")
            ).alias("lift"),
        )
    )


def interval_coverage_per_user(
    spark: SparkSession, sf_dir: str, length_minutes: int = 30
) -> DataFrame:
    """Union-of-intervals measure per user: each event opens a
    fixed-length attention window ``[ts, ts+L)``; emitted is the total
    covered time and the number of disjoint covered islands — the
    interval-union aggregate (ad exposure time, machine-uptime coverage)
    that naive SUM(L) over-counts wherever windows overlap.

    Because all intervals share one length, starts sorted ascending have
    ascending ends, so the union is the classic lag/cumsum island scan —
    one window pass, no interval self-join: a new island starts exactly
    when the gap to the previous start EXCEEDS L (touching windows
    merge, closed-union semantics). Coverage per island =
    (last_start - first_start) + L, exact integer microseconds."""
    events = read_table(spark, sf_dir, "events")
    l_us = F.lit(length_minutes * 60 * 1_000_000).cast("long")
    base = events.select(
        "user_id", F.unix_micros("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t")
    isl = base.withColumn(
        "new_island",
        (
            F.coalesce(
                (F.col("t") - F.lag("t").over(w)) > l_us, F.lit(True)
            )
        ).cast("bigint"),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    per_island = isl.groupBy("user_id", "island").agg(
        (F.max("t") - F.min("t") + l_us).alias("covered_us")
    )
    return per_island.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.sum("covered_us").alias("covered_us"),
    )


def asof_join_tolerance(
    spark: SparkSession, sf_dir: str, tolerance_days: int = 7
) -> DataFrame:
    """Backward as-of join WITH STALENESS TOLERANCE: each event gets the
    user's most recent order at-or-before the event time, but only if it
    is at most ``tolerance_days`` old — older matches become NULL (the
    time-series-engine ``ASOF JOIN ... TOLERANCE`` semantics; a stale
    quote is worse than no quote). Same union-tag single-window shape as
    ``asof_join_events_orders`` (one hash exchange, no range join),
    carrying the matched order's TIME forward alongside its key so the
    staleness test is a row-local comparison."""
    events = read_table(spark, sf_dir, "events")
    orders = (
        read_table(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    ev = events.select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(1).alias("is_event"),
        F.col("event_id"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    od = orders.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(0).alias("is_event"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("o_orderkey"),
    )
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t").asc(), F.col("is_event").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tagged = (
        ev.unionByName(od)
        .withColumn("last_orderkey", F.last("o_orderkey", ignorenulls=True).over(w))
        .withColumn(
            "last_order_t",
            F.last(
                F.when(F.col("is_event") == 0, F.col("t")), ignorenulls=True
            ).over(w),
        )
    )
    fresh = (
        F.unix_micros(F.col("t")) - F.unix_micros(F.col("last_order_t"))
    ) <= F.lit(tolerance_days * 86400 * 1_000_000).cast("long")
    return (
        tagged.filter(F.col("is_event") == 1)
        .select(
            "event_id",
            F.col("k").alias("user_id"),
            F.when(fresh, F.col("last_orderkey")).alias("o_orderkey_within"),
        )
    )


def linear_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-lifetime-value CHANNEL attribution with LINEAR
    (equal-credit) splits: each customer's lifetime order revenue, in
    integer cents, is divided EXACTLY across their engagement events
    (``events.user_id ≡ orders.o_custkey``, the repo-wide key convention)
    by largest-remainder rounding — the most recent touches receive the
    leftover cents (ts DESC, event_id DESC rank). Customers with orders
    but no events are credited to the synthetic ``'direct'`` channel in
    full. (A time-windowed variant is structurally empty on this corpus —
    events are 2024, orders 1995-2001 — so the pairing is lifetime-level,
    the shape CLV channel-mix reports actually use.) The conservation
    invariant ``Σ attributed_cents == Σ all order totals`` holds
    bit-exactly and is what the oracle hashes.

    Output: one row per channel (event_type or 'direct') with
    ``attributed_cents``, ``n_users`` (distinct customers credited) and
    ``n_touches`` (credited touch rows; == n_users for 'direct').

    Scale shape: lifetime totals are a map-side-combined aggregate of
    orders, joined to events on the user key — one exchange each; the
    remainder ranking is one window per user on the already-joined frame,
    so a single hash partitioning on the user key serves the group count,
    the rank, and the rollup. No inequality join anywhere."""
    user_totals = (
        read_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("user_id"),
            (F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("cents"),
        )
        .groupBy("user_id")
        .agg(F.sum("cents").cast("long").alias("total"))
    )
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    wg = Window.partitionBy("user_id")
    wr = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    credited = (
        events.join(user_totals, "user_id")
        .withColumn("n", F.count(F.lit(1)).over(wg))
        .withColumn("rk", F.row_number().over(wr))
        .select(
            "user_id",
            "event_type",
            (
                F.expr("total DIV n")
                + F.when(F.col("rk") <= F.expr("total % n"), 1).otherwise(0)
            ).alias("cents"),
        )
    )
    direct = user_totals.join(
        events.select("user_id").distinct(), "user_id", "left_anti"
    ).select(
        "user_id",
        F.lit("direct").alias("event_type"),
        F.col("total").alias("cents"),
    )
    return (
        credited.unionByName(direct)
        .groupBy("event_type")
        .agg(
            F.sum("cents").cast("long").alias("attributed_cents"),
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_touches"),
        )
    )


def decile_lift_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift/gains table — the standard model-evaluation rollup
    (here scoring orders by value, outcome = urgent priority): rank all
    rows by score descending, cut into 10 equal-count deciles, and per
    decile report the response rate, lift over the base rate, and
    cumulative gains. The evaluation twin of ``rfm_segments``' ntile
    scoring and ``quality_threshold_for_budget``'s CDF.

    Exactness: the decile cut runs over a TOTAL order (cents DESC,
    orderkey ASC), so assignment is bit-deterministic; counts stay
    BIGINT; rate, lift and cumulative gain are each ONE IEEE division of
    exact integer products (lift = pos·n_total / (n·pos_total) — the
    same cross-multiplied form as ``event_type_lift``).

    Scale shape (VERDICT r6 item 3): the cut is
    :func:`_two_phase_ntile` — range-repartitioned parallel numbering +
    rank arithmetic, bit-identical to ``ntile(10)`` over the same order
    but with no single-task global sort of the orders table (the old
    plan measured 5.3x at 10x data purely from that one window); then
    one aggregation and a cumulative window over 10 rows."""
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("pos"),
    )
    binned = _two_phase_ntile(
        orders, 10, [F.col("cents").desc(), F.col("o_orderkey").asc()],
        "decile",
    )
    per = binned.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("positives"),
    )
    wt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = per.select(
        "decile",
        "n",
        "positives",
        F.sum("n").over(wt).alias("n_total"),
        F.sum("positives").over(wt).alias("pos_total"),
        F.sum("positives").over(wc).alias("cum_pos"),
    )
    return tot.select(
        "decile",
        "n",
        "positives",
        (F.col("positives").cast("double") / F.col("n")).alias(
            "response_rate"
        ),
        (
            (F.col("positives") * F.col("n_total")).cast("double")
            / (F.col("n") * F.col("pos_total"))
        ).alias("lift"),
        (F.col("cum_pos").cast("double") / F.col("pos_total")).alias(
            "cum_gain"
        ),
    )


def bitmap_weekly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct-user weekly rollup via mergeable BITMAP sketches —
    the production alternative to HLL when exactness is required
    (``hll_union_weekly_users`` is the approximate twin): each (day,
    word) row holds a 62-bit word of the day's user bitmap (bit ``
    user_id % 62`` of word ``user_id / 62``), daily bitmaps OR-merge
    into weekly ones, and popcount recovers the EXACT weekly distinct
    count. This is the roaring-bitmap warehouse pattern in pure SQL:
    the daily sketch table is tiny (|users|/62 words per day), rollups
    at any grain are associative ORs of it (never a re-scan of events),
    and unlike countDistinct the merge is decomposable, so map-side
    partial aggregation does most of the work. 62 bits per BIGINT word
    keeps every shift non-negative (no sign-bit edge case on either
    engine).

    Oracle = plain ``COUNT(DISTINCT user_id)`` per week: the whole
    sketch path must reproduce the exact answer."""
    events = read_table(spark, sf_dir, "events")
    days = events.select(
        F.to_date(F.date_trunc("week", F.col("ts"))).alias("week_start"),
        F.to_date("ts").alias("day"),
        F.expr("user_id DIV 62").alias("word_idx"),
        # SQL shiftleft: the bit-count operand must be a column here,
        # which the python F.shiftleft wrapper only takes as a literal
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))").alias(
            "bit"
        ),
    )
    daily = days.groupBy("week_start", "day", "word_idx").agg(
        F.bit_or("bit").alias("word")
    )
    weekly = daily.groupBy("week_start", "word_idx").agg(
        F.bit_or("word").alias("word")
    )
    return (
        weekly.groupBy("week_start")
        .agg(F.sum(F.bit_count("word")).cast("long").alias("n_users"))
    )


def customer_order_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands per customer on the MONTH grain: the longest run
    of consecutive calendar months with at least one order — the classic
    retention/engagement-streak query. Pure integer month indexing
    (year*12 + month), the textbook ``idx - dense_rank`` island key, and
    total tie-breaks (longest first, then earliest start), so the result
    is bit-deterministic.

    Plan: orders collapse to distinct (customer, month) FIRST (map-side
    combined — the window then runs over at most |customers| x |months|
    rows, not |orders|); both windows partition BY CUSTOMER, so the work
    is embarrassingly parallel with one shuffle on the customer key."""
    orders = read_table(spark, sf_dir, "orders")
    months = (
        orders.select(
            "o_custkey",
            (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1).alias(
                "m_idx"
            ),
        )
        .distinct()
    )
    w = Window.partitionBy("o_custkey").orderBy("m_idx")
    islands = months.withColumn(
        "island", F.col("m_idx") - F.dense_rank().over(w)
    )
    runs = islands.groupBy("o_custkey", "island").agg(
        F.count(F.lit(1)).alias("run_len"), F.min("m_idx").alias("start_idx")
    )
    wbest = Window.partitionBy("o_custkey").orderBy(
        F.col("run_len").desc(), F.col("start_idx").asc()
    )
    best = runs.withColumn("rn", F.row_number().over(wbest)).filter(
        F.col("rn") == 1
    )
    totals = months.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_active_months")
    )
    return (
        best.join(totals, "o_custkey")
        .select(
            F.col("o_custkey").alias("custkey"),
            "n_active_months",
            F.col("run_len").alias("longest_streak"),
            F.expr("start_idx DIV 12").alias("streak_start_year"),
            (F.col("start_idx") % 12 + 1).cast("long").alias("streak_start_month"),
        )
    )


def weekly_seasonal_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-quality baseline: per event type, the mean absolute error
    of the SEASONAL-NAIVE forecast (predict each day with the value
    7 days earlier) over the daily value series — the yardstick every
    real forecasting model must beat, and a pure-integer one: daily sums
    are exact cents, the error total is an exact BIGINT, and the mean is
    one IEEE division. Prediction pairs come from a self-JOIN on
    ``day = day - 7`` (not a row-lag: missing days must not slide the
    season), so a sparse series scores only the days whose seasonal
    ancestor exists."""
    events = read_table(spark, sf_dir, "events")
    daily = (
        events.select(
            "event_type",
            F.to_date("ts").alias("day"),
            (F.col("value").cast("decimal(18,2)") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("cents").alias("v"))
    )
    pred = daily.select(
        "event_type",
        F.date_add("day", 7).alias("day"),
        F.col("v").alias("v_pred"),
    )
    scored = daily.join(pred, ["event_type", "day"])
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum(F.abs(F.col("v") - F.col("v_pred"))).alias("total_abs_err"),
        )
        .select(
            "event_type",
            "n_days",
            "total_abs_err",
            (
                F.col("total_abs_err").cast("double")
                / F.col("n_days").cast("double")
            ).alias("mae_cents"),
        )
    )


def json_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured profiling: parse the ``props`` JSON column, pull
    the numeric ``$.k`` field, and histogram it per event type in
    width-10 buckets — the schema-on-read pass every event pipeline runs
    over its property bags. JSON path extraction happens ENGINE-SIDE in
    both systems (Spark ``get_json_object`` / DuckDB
    ``json_extract_string``), so the parse itself is part of the
    cross-engine contract; rows whose ``k`` is missing or non-numeric
    land in a NULL bucket rather than being silently dropped.

    The numeric conversion is GUARDED by an explicit integer-pattern
    check mirrored in the oracle (ADVICE r6): a bare ``cast('long')``
    NULLs-or-truncates fractional/string ``k`` differently per engine
    (Spark ``'3.7'`` -> NULL, DuckDB CAST errors), so both engines now
    extract the raw string and convert only ``^-?[0-9]+$`` matches —
    anything else is deterministically NULL on both sides. The match is
    WIDTH-BOUNDED to 18 digits (ADVICE r7): an admitted string always
    fits BIGINT, where an out-of-range integer would Spark-cast to NULL
    but DuckDB-CAST to an error. One narrow projection + one
    partial-agg shuffle of bucket keys."""
    events = read_table(spark, sf_dir, "events")
    ks = F.get_json_object(F.col("props"), "$.k")
    k = F.when(ks.rlike("^-?[0-9]{1,18}$"), ks.cast("long"))
    return (
        events.select(
            "event_type", F.floor(k / 10).cast("long").alias("bucket")
        )
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def weekly_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week RETURNING users via bitmap set-intersection: the
    popcount of ``week_bitmap AND prev_week_bitmap`` — the second half
    of the mergeable-bitmap story (``bitmap_weekly_users`` is the union
    side): ANY set algebra over user populations (retention, overlap,
    churn) becomes word-wise bit ops over the tiny sketch table, never a
    re-scan or self-join of events. Emits per week-pair the returning /
    new / churned exact counts.

    Oracle = the plain distinct-set arithmetic per consecutive-week
    pair; every word-level AND must reproduce it exactly."""
    events = read_table(spark, sf_dir, "events")
    weekly = (
        events.select(
            F.to_date(F.date_trunc("week", F.col("ts"))).alias("week_start"),
            F.expr("user_id DIV 62").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))").alias(
                "bit"
            ),
        )
        .groupBy("week_start", "word_idx")
        .agg(F.bit_or("bit").alias("word"))
    )
    nxt = weekly.select(
        F.date_add("week_start", -7).alias("week_start"),
        "word_idx",
        F.col("word").alias("word_next"),
    )
    joined = weekly.join(nxt, ["week_start", "word_idx"], "full_outer").select(
        "week_start",
        F.coalesce(F.col("word"), F.lit(0)).alias("w0"),
        F.coalesce(F.col("word_next"), F.lit(0)).alias("w1"),
    )
    # drop the synthetic rows full_outer creates past the series edges
    bounds = weekly.agg(
        F.min("week_start").alias("lo"), F.max("week_start").alias("hi")
    )
    joined = joined.crossJoin(F.broadcast(bounds)).filter(
        (F.col("week_start") >= F.col("lo"))
        & (F.date_add(F.col("week_start"), 7) <= F.col("hi"))
    )
    return (
        joined.groupBy("week_start")
        .agg(
            F.sum(F.bit_count(F.expr("w0 & w1"))).cast("long").alias("returning"),
            F.sum(F.bit_count(F.expr("w0 & ~w1"))).cast("long").alias("churned"),
            F.sum(F.bit_count(F.expr("~w0 & w1"))).cast("long").alias("new_users"),
        )
        .select(
            "week_start",
            F.date_add("week_start", 7).alias("next_week"),
            "returning",
            "churned",
            "new_users",
        )
    )


EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native PIVOT to the wide weekly event matrix: one row per week,
    one column per event type — the long→wide inverse of the reference's
    unpivot/melt row (`W:44-52`) and the shape every BI export wants.
    The value list is EXPLICIT (the five known types), which is also the
    scale rule: pivot with an inferred value list needs a distinct-scan
    pre-pass and an unbounded column budget; pinning the list keeps the
    plan a single partial-aggregated shuffle on week with a fixed
    5-slot conditional aggregate per row — no second scan.

    Missing (week, type) cells are exact zeros, not nulls: absence of
    events IS a count of zero."""
    events = read_table(spark, sf_dir, "events")
    wide = (
        events.select(
            F.to_date(F.date_trunc("week", F.col("ts"))).alias("week_start"),
            "event_type",
        )
        .groupBy("week_start")
        .pivot("event_type", list(EVENT_TYPES))
        .count()
    )
    return wide.select(
        "week_start",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


def incremental_bitmap_distinct_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental view maintenance for an EXACT DISTINCT rollup — the
    sketch-merge path COUNT(DISTINCT) cannot take (distinct is not a
    monoid over counts, but it IS over bitmaps): the stored state is the
    weekly 62-bit-word user bitmap built from events BEFORE the cutoff
    (``bitmap_weekly_users``'s sketch layout), the new batch contributes
    a delta bitmap, the merge is one associative ``bit_or`` per (week,
    word), and popcount recovers the EXACT post-merge weekly distinct
    count — the oracle is the full ``COUNT(DISTINCT user_id)`` recompute
    over ALL events, so the identity ``popcount(state OR delta) == full
    distinct`` is what the hash compare pins. A user active on both
    sides of the cutoff is counted once (the case plain count-merging
    gets wrong and the reason warehouses store bitmap/HLL state).

    The cutoff 2024-01-17 falls mid-span AND midweek at every SF
    (2024-01-15 is a Monday — a week-boundary cutoff makes the weekly
    merge vacuous: disjoint week keys, nothing ever ORed across sides),
    so both sides are non-empty and the straddling week genuinely
    merges (test-pinned). SCALE: merge traffic
    is |weeks × user_words| bitmap rows — sketch-sized, never
    event-sized; the state side would be a stored table in production."""
    events = read_table(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-17").cast("timestamp")

    def words(df: DataFrame) -> DataFrame:
        return df.select(
            F.to_date(F.date_trunc("week", F.col("ts"))).alias("week_start"),
            F.expr("user_id DIV 62").alias("word_idx"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 62 AS INT))"
            ).alias("bit"),
        ).groupBy("week_start", "word_idx").agg(
            F.bit_or("bit").alias("word")
        )

    state = words(events.filter(F.col("ts") < cutoff))  # stored sketch
    delta = words(events.filter(F.col("ts") >= cutoff))  # new batch
    merged = (
        state.unionByName(delta)
        .groupBy("week_start", "word_idx")
        .agg(F.bit_or("word").alias("word"))
    )
    return merged.groupBy("week_start").agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_users")
    )


def variant_event_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT-type surface (VERDICT r11 item 2 — prototyped for
    engine parity BEFORE registering; the prototype's exact MATCH vs
    DuckDB JSON is recorded in SURVEY.md's VARIANT row): build a NESTED json document per event from
    existing columns (object + array — identical string on both engines),
    parse it into a true VARIANT with ``parse_json``, and extract typed
    values through every path shape the type supports — a flat key
    (``$.k`` as long), a nested object key (``$.meta.type`` as string),
    array indexing (``$.meta.vals[0]``/``[1]``), and a MISSING path via
    ``try_variant_get`` (NULL, not an error). Aggregated per event type so
    one wrong extraction anywhere moves a sum.

    VARIANT is the typed successor of ``get_json_object`` string-pulling
    (``json_value_histogram`` pins that older surface): the binary
    encoding is parsed ONCE and every ``variant_get`` is a typed
    traversal, not a re-parse — at 100 TB that's the difference between
    one parse per row and one per extracted path. The DuckDB oracle runs
    the same extractions with ``json_extract_string`` over the identical
    constructed document; the ``$.k`` integer text is engine-parity-safe
    by construction (it is itself extracted from ``props`` — the
    ``json_value_histogram`` guard class). Scale shape: one narrow
    projection + one map-side-combined groupBy of |event_type| keys."""
    events = read_table(spark, sf_dir, "events")
    j = events.select(
        "event_type",
        F.expr(
            "parse_json(concat("
            "'{\"meta\": {\"type\": \"', event_type,"
            "'\", \"vals\": [', CAST(user_id % 7 AS STRING), ', ',"
            "get_json_object(props, '$.k'),"
            "']}, \"k\": ', get_json_object(props, '$.k'), '}'))"
        ).alias("v"),
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("variant_get(v, '$.k', 'long')"))
        .cast("long")
        .alias("sum_k"),
        F.sum(F.expr("variant_get(v, '$.meta.vals[0]', 'long')"))
        .cast("long")
        .alias("sum_val0"),
        F.sum(F.expr("variant_get(v, '$.meta.vals[1]', 'long')"))
        .cast("long")
        .alias("sum_val1"),
        F.sum(
            F.expr(
                "CASE WHEN variant_get(v, '$.meta.type', 'string')"
                " = event_type THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_type_match"),
        F.sum(
            F.expr(
                "CASE WHEN try_variant_get(v, '$.missing', 'long')"
                " IS NULL THEN 1 ELSE 0 END"
            )
        )
        .cast("long")
        .alias("n_missing_null"),
    )
