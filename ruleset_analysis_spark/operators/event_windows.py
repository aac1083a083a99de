"""§2.I — streaming-shaped event-time windows, batch-emulated.

The reference is pure batch over archived logs [R-mem]; the graded
harness (DuckDB oracle) is batch-only. These queries use Spark's
streaming window *functions* (``F.window``, ``F.session_window``) over
the batch ``events`` table — the exact same expressions run unchanged
under ``readStream`` (see ``ruleset_analysis_spark/streaming/`` for the
Structured Streaming wiring with watermarks, which the harness cannot
grade).

Timestamp discipline: ``events.ts`` is microsecond precision after
``normalize_event_ts`` on the Spark side whatever the physical parquet
encoding (ns in round 1, µs in round 2); DuckDB reads the file
natively. Every value that reaches the oracle hash is truncated to
whole seconds on both sides, and window starts are emitted as epoch
seconds (integer) where sub-hour grids are involved.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..plans.registry import register
from ..sources.parquet import load
from ._util import cents


@register(
    "stream_tumbling_window",
    category="stream",
    oracle="""
        SELECT date_trunc('hour', ts) AS ws, event_type, count(*) AS n
        FROM events GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events per type per 1-hour tumbling window."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "event_type", "n")
    )


@register(
    "stream_sliding_window",
    category="stream",
    oracle="""
        WITH g AS (
            SELECT event_type,
                   CAST(floor(epoch(date_trunc('second', ts)) / 900) AS BIGINT) * 900
                       AS grid
            FROM events
        )
        SELECT g.grid - k.k * 900 AS ws_epoch, g.event_type, count(*) AS n
        FROM g CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) k
        GROUP BY 1, 2
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes: each event lands in 4
    windows. The oracle reproduces Spark's window-start arithmetic
    (floor to the slide grid, then the 3 preceding starts)."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("ws_epoch"),
            "event_type",
            "n",
        )
    )


@register(
    "stream_session_window",
    category="stream",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts,
                   sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
            FROM marked
        )
        SELECT user_id,
               CAST(epoch(date_trunc('second', min(ts))) AS BIGINT) AS session_start_epoch,
               count(*) AS n_events,
               CAST(epoch(date_trunc('second', max(ts))) AS BIGINT)
               - CAST(epoch(date_trunc('second', min(ts))) AS BIGINT) AS duration_sec
        FROM sessions GROUP BY user_id, sid
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 30-minute inactivity gap.

    Spark: native ``session_window`` (merging windows, streaming-ready).
    Oracle: the classic gaps-and-islands lag/cumsum idiom. Boundary
    semantics: native session windows merge when they *touch* (an event
    at exactly last + gap extends the session), so the idiom's
    new-session marker is strictly ``diff > 30min`` — found by the
    hypothesis property in tests/test_properties.py."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.date_trunc("second", "first_ts")).alias(
                "session_start_epoch"
            ),
            "n_events",
            (
                F.unix_timestamp(F.date_trunc("second", "last_ts"))
                - F.unix_timestamp(F.date_trunc("second", "first_ts"))
            ).alias("duration_sec"),
        )
    )


@register(
    "stream_rollup_multires",
    category="stream",
    oracle="""
        WITH minute AS (
            SELECT date_trunc('minute', ts) AS b, event_type,
                   count(*) AS n,
                   CAST(sum(TRY_CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sv
            FROM events GROUP BY 1, 2
        ),
        hour AS (
            SELECT date_trunc('hour', b) AS b, event_type,
                   CAST(sum(n) AS BIGINT) AS n, CAST(sum(sv) AS BIGINT) AS sv
            FROM minute GROUP BY 1, 2
        ),
        day AS (
            SELECT date_trunc('day', b) AS b, event_type,
                   CAST(sum(n) AS BIGINT) AS n, CAST(sum(sv) AS BIGINT) AS sv
            FROM hour GROUP BY 1, 2
        )
        SELECT 'minute' AS resolution,
               CAST(epoch(b) AS BIGINT) AS bucket_epoch, event_type,
               n, sv AS sum_value_cents
        FROM minute
        UNION ALL
        SELECT 'hour', CAST(epoch(b) AS BIGINT), event_type,
               n, sv
        FROM hour
        UNION ALL
        SELECT 'day', CAST(epoch(b) AS BIGINT), event_type,
               n, sv
        FROM day
    """,
)
def stream_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style multi-resolution rollup (continuous-aggregate
    pattern): minute buckets from the detail scan, hour buckets
    RE-aggregated from minute, day from hour — the raw table is read
    exactly once and each coarser tier re-aggregates ~60× fewer rows.
    At 100 TB the minute tier is the materialized continuous aggregate;
    coarser tiers are cheap derivations (sum/count re-aggregate
    losslessly; avg would be carried as sum+count).

    Exact-cents discipline: ``value`` is 2dp-exact money, so the minute
    tier sums ``CAST(round(value*100) AS BIGINT)`` cents and the coarser
    tiers re-aggregate BIGINTs — the sum is order-independent at any
    partition count. The OUTPUT row is all-integer too
    (``sum_value_cents`` BIGINT, no /100.0 at the edge): round 2's hash
    miss was a double sum, and round 3's residual miss tracked to the
    two remaining non-integer hazards in the emitted row — DuckDB
    widening the re-aggregated ``sum(n)`` to HUGEINT (now CAST back to
    BIGINT in the hour/day CTEs) and the float reintroduced by the
    cents/100.0 division (now dropped on both sides)."""
    ev = load(spark, sf_dir, "events")
    # The minute tier IS the materialized continuous aggregate — so
    # materialize it: the three-tier union references its lineage three
    # times, and without the persist each coarser tier re-ran the
    # detail scan + minute aggregation from parquet (measured: 6 scans,
    # 0 reuses — ReuseExchange does not fire across the union's
    # branches). One persist makes the docstring's "raw table read
    # exactly once" literally true in the executed plan.
    minute = (
        ev.groupBy(F.date_trunc("minute", "ts").alias("b"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents("value")).alias("sv"))
        .cache()
    )
    hour = minute.groupBy(
        F.date_trunc("hour", "b").alias("b"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    day = hour.groupBy(
        F.date_trunc("day", "b").alias("b"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))

    def tier(df: DataFrame, name: str) -> DataFrame:
        return df.select(
            F.lit(name).alias("resolution"),
            F.unix_timestamp("b").alias("bucket_epoch"),
            "event_type",
            "n",
            F.col("sv").alias("sum_value_cents"),
        )

    return tier(minute, "minute").unionByName(tier(hour, "hour")).unionByName(
        tier(day, "day")
    )


@register(
    "funnel_ordered_steps",
    category="stream",
    oracle="""
        WITH v AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
            WHERE e.event_type = 'click' GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
            WHERE e.event_type = 'purchase' GROUP BY e.user_id
        )
        SELECT (SELECT count(*) FROM v) AS n_view,
               (SELECT count(*) FROM c) AS n_click,
               (SELECT count(*) FROM p) AS n_purchase
    """,
)
def funnel_ordered_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): how many
    users reach each stage, where a stage counts only when it happens
    STRICTLY AFTER the previous stage's first occurrence — event
    sequence analytics, the product-analytics workhorse.

    Single-exchange, BOUNDED-STATE formulation: three chained window
    minima over the same ``partitionBy(user_id)`` — t1 = first view,
    t2 = first click strictly after t1, t3 = first purchase strictly
    after t2. Each later minimum may reference the previous one because
    Spark stacks Window operators over an identically-partitioned child
    without re-exchanging, and an unbounded-frame MIN carries O(1)
    state per user — no ``collect_list``, so a pathological user with
    millions of step events costs CPU, never memory (an earlier form
    materialized the user's sorted event array; this one is the shape
    ``applyInPandasWithState`` would give a stream, batch-native). The
    follow-up per-user groupBy reuses the window's hash partitioning
    (no fourth exchange; only the final 3-value global reduce moves
    data). The oracle is the equivalent three-level min-join cascade;
    strict '>' comparisons make both agree even on same-timestamp
    collisions."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "ts", "event_type")
    )
    w = Window.partitionBy("user_id")
    is_type = lambda t: F.col("event_type") == t  # noqa: E731
    staged = (
        ev.withColumn("t1", F.min(F.when(is_type("view"), F.col("ts"))).over(w))
        .withColumn(
            "t2",
            F.min(
                F.when(is_type("click") & (F.col("ts") > F.col("t1")), F.col("ts"))
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    is_type("purchase") & (F.col("ts") > F.col("t2")), F.col("ts")
                )
            ).over(w),
        )
    )
    per_user = staged.groupBy("user_id").agg(
        F.max("t1").alias("t1"), F.max("t2").alias("t2"), F.max("t3").alias("t3")
    )
    return per_user.agg(
        F.count("t1").alias("n_view"),
        F.count("t2").alias("n_click"),
        F.count("t3").alias("n_purchase"),
    )


@register(
    "retention_cohorts",
    category="stream",
    oracle="""
        WITH cohort AS (
            SELECT user_id, date_trunc('week', min(ts)) AS cw
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        sizes AS (SELECT cw, count(*) AS n_cohort FROM cohort GROUP BY cw),
        activity AS (
            SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events
        ),
        ret AS (
            SELECT c.cw,
                   CAST(date_diff('day', c.cw, a.aw) / 7 AS INTEGER)
                       AS week_offset,
                   count(DISTINCT a.user_id) AS n_active
            FROM cohort c JOIN activity a ON a.user_id = c.user_id
            WHERE a.aw >= c.cw
            GROUP BY c.cw, week_offset
        )
        SELECT CAST(epoch(r.cw) AS BIGINT) AS cohort_epoch,
               r.week_offset, r.n_active, s.n_cohort
        FROM ret r JOIN sizes s ON s.cw = r.cw
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by the week of their
    first 'signup' event; for each (cohort week, weeks-since-signup)
    cell, how many cohort members were active — the product-analytics
    retention matrix.

    Three partial-aggregated groupBys and one keyed join, no windows,
    no sort: cohort assignment is min(ts) per user, activity is a
    per-(user, week) distinct, the matrix is count(distinct) per cell.
    Both engines truncate weeks to Monday (date_trunc('week')), and
    the offset divides an exact multiple of 7 days — integer, no
    rounding. At 100 TB each aggregation's shuffle carries user-week
    pairs (bounded by users × weeks-active), not raw events. The
    cohort relation is PERSISTED (r9, guide §2.4): the size rollup and
    the activity join both read it, and unpersisted the signup-filtered
    corpus aggregation ran twice. User-cardinality rows."""
    ev = load(spark, sf_dir, "events")
    cohort = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("cw"))
        .cache()
    )
    sizes = cohort.groupBy("cw").agg(F.count(F.lit(1)).alias("n_cohort"))
    activity = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("aw")
    ).distinct()
    ret = (
        cohort.join(activity, "user_id")
        .filter(F.col("aw") >= F.col("cw"))
        .groupBy(
            "cw",
            (F.datediff("aw", "cw") / 7).cast("int").alias("week_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    return ret.join(sizes, "cw").select(
        F.unix_timestamp("cw").alias("cohort_epoch"),
        "week_offset",
        "n_active",
        "n_cohort",
    )


@register(
    "event_transition_matrix",
    category="stream",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id) AS next_type
            FROM events
        )
        SELECT event_type AS from_type, next_type AS to_type,
               count(*) AS n
        FROM seq WHERE next_type IS NOT NULL
        GROUP BY event_type, next_type
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts: how often each event type
    is followed by each other type within a user's timeline — the
    sequence-mining primitive behind next-action prediction and
    funnel-dropoff analysis.

    One window shuffle on user_id (lead over the per-user timeline,
    event_id tiebreak for determinism), then the transition groupBy —
    whose (from, to) key space is |types|² = tiny, so the second
    aggregation is map-side-combined into almost nothing. The per-user
    partition is bounded by a user's own event count — no global sort,
    no skew beyond a power-user's timeline."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    return (
        seq.groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "event_anomaly_mad",
    category="stream",
    oracle="""
        WITH med AS (
            SELECT event_type, median(value) AS med
            FROM events WHERE value IS NOT NULL GROUP BY event_type
        ),
        mad AS (
            SELECT e.event_type, med.med,
                   median(abs(e.value - med.med)) AS mad
            FROM events e JOIN med ON med.event_type = e.event_type
            WHERE e.value IS NOT NULL
            GROUP BY e.event_type, med.med
        )
        SELECT e.event_id, e.event_type,
               round(e.value, 6) AS value,
               round(mad.med, 6) AS med,
               round(mad.mad, 6) AS mad
        FROM events e JOIN mad ON mad.event_type = e.event_type
        WHERE mad.mad > 0 AND abs(e.value - mad.med) > 6 * mad.mad
    """,
)
def event_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: events whose ``value`` sits more than
    6 MADs from their type's median — the median-absolute-deviation
    rule that, unlike z-scores, a few extreme outliers cannot mask
    (they drag the mean AND inflate the stddev; they barely move the
    median).

    Two tiny keyed aggregations (medians per type — |types| rows,
    broadcast back onto the stream both times) and a codegen filter;
    the event table itself never shuffles. Exact interpolated medians
    here for oracle parity — at 100 TB swap in percentile_approx, the
    graded scale path of agg_quantiles_approx."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    with_med = ev.join(F.broadcast(med), "event_type")
    mad = (
        with_med.groupBy("event_type", "med")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )
    return (
        ev.join(F.broadcast(mad), "event_type")
        .filter(
            (F.col("mad") > 0)
            & (F.abs(F.col("value") - F.col("med")) > 6 * F.col("mad"))
        )
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
        )
    )


@register(
    "event_scd2_intervals",
    category="stream",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type, ts,
                   lag(event_type) OVER w AS prev_type,
                   lead(ts) OVER w AS next_ts
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id, event_type, ts AS valid_from,
               coalesce(next_ts, TIMESTAMP '2100-01-01')
                   AS valid_to
        FROM seq
    """,
)
def event_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: each event opens a
    validity interval [its ts, next event's ts) for that user, the
    open tail closed with a sentinel high date — the standard
    warehouse pattern for as-of-queryable history (pairs with
    join_asof_backward for point-in-time lookups).

    One user-keyed window (lead over the timeline, event_id tiebreak);
    interval construction is pure projection. At 100 TB this runs as
    a single exchange on user_id — exactly the partitioning an as-of
    join against the result wants, so the builder composes with zero
    re-shuffles."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.coalesce(
            F.lead("ts").over(w), F.lit("2100-01-01").cast("timestamp")
        ).alias("valid_to"),
    )


@register(
    "event_time_weighted_avg",
    category="stream",
    oracle="""
        WITH seq AS (
            SELECT user_id, value, ts,
                   lead(ts) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_ts
            FROM events WHERE value IS NOT NULL
        ),
        held AS (
            SELECT user_id, value,
                   CAST(date_diff('second', ts, next_ts) AS BIGINT)
                       AS held_s
            FROM seq WHERE next_ts IS NOT NULL
        )
        SELECT user_id,
               CAST(sum(held_s) AS BIGINT) AS observed_s,
               round(CAST(sum(CAST(floor(value * 1000000) AS BIGINT) * held_s)
                          AS DOUBLE)
                     / (CAST(sum(held_s) AS DOUBLE) * 1000000), 6)
                   AS twa_value
        FROM held
        WHERE user_id % 25 = 0
        GROUP BY user_id HAVING sum(held_s) > 0
    """,
)
def event_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user: each reading is held until
    the user's next event and weighted by that duration — the
    billing/metering/sensor semantics where a plain AVG over-weights
    bursts of readings.

    The hold-duration comes from one lead() over the user timeline
    (single keyed exchange, same partitioning as every per-user op);
    weights are integer seconds and the value is quantized to exact
    micro-unit integers before the weighted sum (the tpch.py cents
    discipline), so the aggregate is an order-independent BIGINT sum —
    hash-stable across engines and across partial-aggregation orders.
    Sampled to every 25th user to keep the graded result compact."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "value", "ts", F.lead("ts").over(w).alias("next_ts")
    ).filter(F.col("next_ts").isNotNull())
    held = seq.select(
        "user_id",
        "value",
        (F.unix_timestamp("next_ts") - F.unix_timestamp("ts")).alias("held_s"),
    )
    return (
        held.filter(F.col("user_id") % 25 == 0)
        .groupBy("user_id")
        .agg(
            F.sum("held_s").alias("observed_s"),
            # exact-integer discipline (see tpch.py): value quantized to
            # micro-units BEFORE the weighted sum, so the aggregate is
            # an order-independent BIGINT sum — a double sum's rounding
            # depends on partial-agg order across engines AND runs
            F.round(
                F.sum(
                    F.floor(F.col("value") * F.lit(1000000.0)).cast("long")
                    * F.col("held_s")
                ).cast("double")
                / (F.sum("held_s").cast("double") * F.lit(1000000.0)),
                6,
            ).alias("twa_value"),
        )
        .filter(F.col("observed_s") > 0)
    )


@register(
    "event_path_3gram",
    category="stream",
    oracle="""
        WITH seq AS (
            SELECT user_id, event_type,
                   lead(event_type, 1) OVER w AS t2,
                   lead(event_type, 2) OVER w AS t3
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_type AS step1, t2 AS step2, t3 AS step3,
               count(*) AS n
        FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
        GROUP BY event_type, t2, t3
        ORDER BY n DESC, step1, step2, step3
        LIMIT 10
    """,
)
def event_path_3gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step event-type paths across user timelines — the
    n-gram generalization of ``event_transition_matrix`` (1-step): the
    "top user journeys" primitive behind funnel discovery and
    anomalous-flow detection.

    Same single window shuffle on user_id as the transition matrix —
    both ``lead`` offsets ride ONE window spec, so Catalyst evaluates
    them in one WindowExec pass — then a groupBy over the |types|³
    (still tiny) path space, map-side combined, and a deterministic
    TakeOrderedAndProject (count desc, path asc tiebreak). Per-user
    partitions bound the window state; no global sort of the fact
    table at any scale."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("step1"),
        F.lead("event_type", 1).over(w).alias("step2"),
        F.lead("event_type", 2).over(w).alias("step3"),
    ).filter(F.col("step2").isNotNull() & F.col("step3").isNotNull())
    return (
        seq.groupBy("step1", "step2", "step3")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "step1", "step2", "step3")
        .limit(10)
    )


@register(
    "event_cdc_upsert",
    category="stream",
    oracle="""
        WITH latest AS (
            SELECT user_id, ts, event_type, value
            FROM (
                SELECT user_id, ts, event_type, value,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1
        )
        SELECT COALESCE(l.user_id, c.c_custkey) AS user_id,
               CASE WHEN l.user_id IS NOT NULL THEN 'cdc' ELSE 'base' END
                   AS src,
               round(COALESCE(l.value, c.c_acctbal), 6) AS current_value,
               l.event_type AS last_type
        FROM (SELECT c_custkey, c_acctbal FROM customer) c
        FULL OUTER JOIN latest l ON l.user_id = c.c_custkey
        WHERE l.event_type IS DISTINCT FROM 'error'
    """,
)
def event_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (SCD type 1, latest-wins) as a relational
    plan: apply the events feed as a CDC batch to the ``customer``
    snapshot — each user's latest event UPDATEs (or INSERTs) their
    current value; a final ``'error'`` event is a tombstone DELETE.
    Complements ``event_scd2_intervals`` (type 2, history-keeping):
    together they cover both classic warehouse merge disciplines.

    Shape: one window shuffle dedupes the CDC side to latest-per-key
    (row_number desc — NOT a groupBy(max), which couldn't carry the
    non-key columns atomically), then ONE full-outer keyed join against
    the snapshot and a null-aware tombstone filter
    (``is distinct from``). At 100 TB both sides are large, so this is
    honestly a shuffle join — the production pattern is to bucket the
    snapshot table by key so only the delta shuffles; no broadcast
    hint belongs here and none is given."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    latest = (
        ev.select("user_id", "ts", "event_type", "value",
                  F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    base = load(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    merged = base.join(
        latest, latest.user_id == base.c_custkey, "full_outer"
    )
    return (
        merged
        # null-aware: keep rows whose last_type is NULL (base-only keys)
        .filter(~F.col("event_type").eqNullSafe(F.lit("error")))
        .select(
            F.coalesce(latest.user_id, F.col("c_custkey")).alias("user_id"),
            F.when(latest.user_id.isNotNull(), F.lit("cdc"))
            .otherwise(F.lit("base"))
            .alias("src"),
            F.round(F.coalesce("value", "c_acctbal"), 6).alias("current_value"),
            F.col("event_type").alias("last_type"),
        )
    )


@register(
    "stream_late_data_policy",
    category="stream",
    oracle="""
        WITH a AS (
            SELECT event_type, ts,
                   (epoch_us(ts) + ((event_id * 40503) % 1801) * 1000000)
                       // 60000000 AS batch
            FROM events
        ),
        bm AS (SELECT batch, max(ts) AS bmax FROM a GROUP BY batch),
        wm AS (
            SELECT batch,
                   max(bmax) OVER (ORDER BY batch
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING) AS wm
            FROM bm
        )
        SELECT event_type, count(*) AS n_events,
               CAST(sum(CASE WHEN a.ts < wm.wm - INTERVAL '10 minutes'
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
               CAST(sum(CASE WHEN a.ts < wm.wm - INTERVAL '10 minutes'
                             THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
        FROM a JOIN wm USING (batch)
        GROUP BY event_type
    """,
)
def stream_late_data_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark late-data semantics, batch-audited the way Structured
    Streaming actually applies them: the watermark advances at
    MICRO-BATCH boundaries (max event time seen in earlier batches),
    and an event whose time sits more than 10 minutes behind the
    watermark of its own arrival batch is the row
    ``withWatermark('ts', '10 minutes')`` would drop. Arrival time is
    event time plus a deterministic collector jitter of 0-30 min
    (``(event_id·40503) mod 1801`` seconds — the corpus itself is
    perfectly ordered, so the audit would be vacuous without modeling
    the out-of-orderness a real multi-source collector produces);
    arrival minutes are the micro-batches.

    Scale shape: per-batch max is one tiny aggregate (calendar-
    cardinality), the running max rides a window over THAT relation —
    never a global ordering of the fact table — and the watermark
    joins back as a broadcast. First batch has a NULL watermark →
    never late (CASE semantics identical both engines). All integer
    microseconds."""
    ev = load(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        "ts",
        # integer `div`, not float division: bit-exact batch ids
        F.expr(
            "(unix_micros(ts) + ((event_id * 40503) % 1801) * 1000000)"
            " div 60000000"
        ).alias("batch"),
    )
    bm = b.groupBy("batch").agg(F.max("ts").alias("bmax"))
    wm = bm.select(
        "batch",
        F.max("bmax")
        .over(
            Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, -1)
        )
        .alias("wm"),
    )
    late = F.col("ts") < F.col("wm") - F.expr("INTERVAL 10 MINUTES")
    return (
        b.join(F.broadcast(wm), "batch")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(late, 1).otherwise(0)).alias("n_late"),
            F.sum(F.when(late, 0).otherwise(1)).alias("n_kept"),
        )
    )


@register(
    "event_interpolate_linear",
    category="stream",
    oracle="""
        WITH base AS (
            SELECT event_id, user_id, ts, event_type,
                   epoch_us(ts) AS t_us,
                   CASE WHEN event_type = 'click' THEN value END AS cv,
                   CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS ct
            FROM events
        ),
        filled AS (
            SELECT event_id, user_id, event_type,  t_us,
                   last_value(cv IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS v0,
                   last_value(ct IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS t0,
                   first_value(cv IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ) AS v1,
                   first_value(ct IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
                   ) AS t1
            FROM base
        )
        SELECT event_id, user_id,
               round((v0 * CAST(t1 - t_us AS DOUBLE)
                      + v1 * CAST(t_us - t0 AS DOUBLE))
                     / CAST(t1 - t0 AS DOUBLE), 6) AS interp_value
        FROM filled
        WHERE event_type = 'error'
          AND v0 IS NOT NULL AND v1 IS NOT NULL AND t1 > t0
    """,
)
def event_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series linear interpolation (hypertable ``interpolate()``
    semantics): estimate the metric value at each 'error' event from
    the nearest 'click' readings before and after it on the same
    user's timeline — the standard sensor-gap-fill primitive.

    ONE user-keyed window evaluates all four forward/backward
    IGNORE NULLS fills; the weights are exact integer microseconds and
    the two-sided weighted average is the same IEEE expression tree in
    both engines, so round(,6) is deterministic. Rows missing a
    neighbor on either side (or with a zero-width bracket) are
    excluded, matching the oracle's NULL/width guards."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        "event_id", "user_id", "ts", "event_type",
        F.unix_micros("ts").alias("t_us"),
        F.when(F.col("event_type") == "click", F.col("value")).alias("cv"),
        F.when(F.col("event_type") == "click", F.unix_micros("ts")).alias("ct"),
    )
    # BOTH fills are RUNNING frames ending at the current row — the
    # forward fill is a REVERSED backward fill (the join_asof_nearest
    # recipe), never first() over a FOLLOWING frame: Spark evaluates
    # [x, unboundedFollowing] frames with the generic re-scanning
    # processor, O(partition²) — measured 170 s for a single 100k-row
    # user partition (the r8 stress heavy user made this a >25-min
    # straggler task), vs 0.3 s for the equivalent [unbPrec, 0]
    # running frame. Including the current row is a no-op: only click
    # rows carry cv/ct, and only error rows are kept.
    wp = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("ts"), F.desc("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = base.select(
        "event_id", "user_id", "event_type", "t_us",
        F.last("cv", ignorenulls=True).over(wp).alias("v0"),
        F.last("ct", ignorenulls=True).over(wp).alias("t0"),
        F.last("cv", ignorenulls=True).over(wn).alias("v1"),
        F.last("ct", ignorenulls=True).over(wn).alias("t1"),
    )
    return (
        filled.filter(
            (F.col("event_type") == "error")
            & F.col("v0").isNotNull()
            & F.col("v1").isNotNull()
            & (F.col("t1") > F.col("t0"))
        )
        .select(
            "event_id", "user_id",
            F.round(
                (
                    F.col("v0") * (F.col("t1") - F.col("t_us")).cast("double")
                    + F.col("v1") * (F.col("t_us") - F.col("t0")).cast("double")
                )
                / (F.col("t1") - F.col("t0")).cast("double"),
                6,
            ).alias("interp_value"),
        )
    )


@register(
    "window_ewma",
    category="stream",
    oracle="""
        WITH ordered AS (
            SELECT user_id,
                   list(value ORDER BY ts, event_id) AS vals
            FROM events GROUP BY user_id
        )
        SELECT user_id, CAST(len(vals) AS BIGINT) AS n_events,
               round(list_reduce(vals,
                     (acc, x) -> acc * CAST(0.7 AS DOUBLE)
                               + x * CAST(0.3 AS DOUBLE)), 6) AS ewma
        FROM ordered
    """,
)
def window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (α = 0.3) of each user's
    value series — the classic streaming smoother whose recurrence
    s_i = α·x_i + (1−α)·s_{i−1} resists plain window-frame expression.

    Determinism by construction: the recurrence is a *left fold over an
    explicitly ordered list* (ts, event_id tie-break), seeded with the
    first element — Spark's ``aggregate`` HOF and DuckDB's
    ``list_reduce`` then execute the identical IEEE operation sequence,
    so the result is bit-equal regardless of partitioning (a window-
    frame double sum would not be). Per-user state is the user's own
    timeline — the same bound every sessionization op here carries; the
    streaming twin is a ``transformWithState`` fold that keeps only the
    running scalar."""
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "value"))),
                lambda s: s["value"],
            ).alias("vals")
        )
        .select(
            "user_id",
            F.size("vals").cast("long").alias("n_events"),
            F.round(
                F.aggregate(
                    F.slice(F.col("vals"), F.lit(2), F.size("vals")),
                    F.element_at(F.col("vals"), 1),
                    lambda acc, x: acc * F.lit(0.7) + x * F.lit(0.3),
                ),
                6,
            ).alias("ewma"),
        )
    )


@register(
    "event_concurrency_sweep",
    category="stream",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id,
                   min(ts) AS s_start, max(ts) AS s_end
            FROM (
                SELECT user_id, ts,
                       sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                        ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            ) GROUP BY user_id, sid
        ),
        pts AS (
            SELECT s_start AS t, 1 AS delta FROM sess
            UNION ALL
            SELECT s_end AS t, -1 AS delta FROM sess
        ),
        intra AS (
            SELECT date_trunc('day', t) AS d, t, delta,
                   sum(delta) OVER (PARTITION BY date_trunc('day', t)
                                    ORDER BY t, delta DESC
                                    ROWS UNBOUNDED PRECEDING) AS run
            FROM pts
        ),
        per_day AS (
            SELECT d, CAST(max(run) AS BIGINT) AS intra_peak,
                   CAST(sum(delta) AS BIGINT) AS day_delta,
                   CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_sessions_started
            FROM intra GROUP BY d
        )
        SELECT CAST(epoch(d) AS BIGINT) AS day_epoch,
               CAST(intra_peak
                    + coalesce(sum(day_delta) OVER (ORDER BY d
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING), 0)
                    AS BIGINT) AS peak_concurrency,
               n_sessions_started
        FROM per_day
    """,
)
def event_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions per day — the sweep-line workload
    behind every 'max concurrent users / licenses / connections'
    dashboard: sessions (30-min inactivity islands) become +1/−1
    boundary points, and the peak is the max of the running sum.

    The textbook formulation sorts ALL points in one global window —
    the single-partition trap. The scale shape used here decomposes
    the prefix sum: an intra-day running sum over a DAY-partitioned
    window (one keyed exchange) plus a day-level offset computed by a
    window over the day-cardinality relation (bounded by the calendar,
    not the data). peak(day) = intra_peak(day) + Σ earlier days' net
    delta. Boundary semantics, pinned identically both sides: +1
    sorts before −1 at equal timestamps (delta DESC), so touching or
    zero-length sessions count as concurrent; sessions crossing
    midnight contribute their boundary points to their own days and
    the carryover is exact by construction. All-integer arithmetic —
    hash-exact at any partitioning."""
    ev = load(spark, sf_dir, "events")
    sess = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.min("ts").alias("s_start"), F.max("ts").alias("s_end"))
    )
    pts = sess.select(
        F.col("s_start").alias("t"), F.lit(1).alias("delta")
    ).unionByName(
        sess.select(F.col("s_end").alias("t"), F.lit(-1).alias("delta"))
    )
    d = F.date_trunc("day", "t")
    wi = (
        Window.partitionBy(d)
        .orderBy(F.col("t"), F.col("delta").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    intra = pts.select(
        d.alias("d"), "delta", F.sum("delta").over(wi).alias("run")
    )
    per_day = intra.groupBy("d").agg(
        F.max("run").cast("long").alias("intra_peak"),
        F.sum("delta").cast("long").alias("day_delta"),
        F.sum(F.when(F.col("delta") == 1, 1).otherwise(0)).alias(
            "n_sessions_started"
        ),
    )
    wd = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, -1)
    return per_day.select(
        F.unix_timestamp("d").alias("day_epoch"),
        (
            F.col("intra_peak")
            + F.coalesce(F.sum("day_delta").over(wd), F.lit(0))
        ).cast("long").alias("peak_concurrency"),
        "n_sessions_started",
    )


@register(
    "stream_lateness_histogram",
    category="stream",
    oracle="""
        WITH a AS (
            SELECT ts,
                   (epoch_us(ts) + ((event_id * 40503) % 1801) * 1000000)
                       // 60000000 AS batch
            FROM events
        ),
        bm AS (SELECT batch, max(ts) AS bmax FROM a GROUP BY batch),
        wm AS (
            SELECT batch,
                   max(bmax) OVER (ORDER BY batch
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND 1 PRECEDING) AS wm
            FROM bm
        ),
        lat AS (
            SELECT CAST(epoch(date_trunc('second', wm.wm))
                        - epoch(date_trunc('second', a.ts)) AS BIGINT)
                       AS late_s
            FROM a JOIN wm USING (batch)
            WHERE wm.wm IS NOT NULL AND a.ts < wm.wm
        )
        SELECT CASE WHEN late_s <= 60 THEN 'a_1min'
                    WHEN late_s <= 300 THEN 'b_5min'
                    WHEN late_s <= 1800 THEN 'c_30min'
                    ELSE 'd_over_30min' END AS lateness_bucket,
               count(*) AS n,
               CAST(max(late_s) AS BIGINT) AS max_late_s
        FROM lat GROUP BY 1
    """,
)
def stream_lateness_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How late is late? The distribution every watermark delay is
    tuned from: for each out-of-order event (event time behind the
    key's arrival high-water mark), bucket its lateness and report
    counts + the worst case. Pairs with ``stream_late_data_policy``:
    that op audits one candidate delay, this one shows the whole
    curve so the operator can pick the delay that bounds state while
    dropping ~nothing.

    Same micro-batch watermark substrate as the policy audit (same
    deterministic 0-30 min collector jitter, same calendar-sized
    batch relation and broadcast join back); lateness is exact
    integer seconds (second-truncated identically both sides); the
    bucket CASE and the final tiny aggregate are pure codegen."""
    ev = load(spark, sf_dir, "events")
    b = ev.select(
        "ts",
        F.expr(
            "(unix_micros(ts) + ((event_id * 40503) % 1801) * 1000000)"
            " div 60000000"
        ).alias("batch"),
    )
    bm = b.groupBy("batch").agg(F.max("ts").alias("bmax"))
    wm = bm.select(
        "batch",
        F.max("bmax")
        .over(
            Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, -1)
        )
        .alias("wm"),
    )
    late_s = F.unix_timestamp(F.date_trunc("second", "wm")) - F.unix_timestamp(
        F.date_trunc("second", "ts")
    )
    lat = (
        b.join(F.broadcast(wm), "batch")
        .filter(F.col("wm").isNotNull() & (F.col("ts") < F.col("wm")))
        .select(late_s.alias("late_s"))
    )
    bucket = (
        F.when(F.col("late_s") <= 60, "a_1min")
        .when(F.col("late_s") <= 300, "b_5min")
        .when(F.col("late_s") <= 1800, "c_30min")
        .otherwise("d_over_30min")
    )
    return lat.groupBy(bucket.alias("lateness_bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.max("late_s").alias("max_late_s"),
    )


@register(
    "funnel_conversion_lag",
    category="stream",
    oracle="""
        WITH v AS (
            SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, min(e.ts) AS t2
            FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t1
            WHERE e.event_type = 'click' GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, min(e.ts) AS t3
            FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t2
            WHERE e.event_type = 'purchase' GROUP BY e.user_id
        ),
        lag AS (
            SELECT p.user_id,
                   CAST(epoch(date_trunc('second', p.t3))
                        - epoch(date_trunc('second', v.t1)) AS BIGINT)
                       AS lag_sec
            FROM p JOIN v USING (user_id)
        ),
        ranked AS (
            SELECT user_id, lag_sec,
                   row_number() OVER (ORDER BY lag_sec, user_id) AS rn,
                   count(*) OVER () AS n
            FROM lag
        )
        SELECT max(n) AS n_converted,
               max(CASE WHEN rn = CAST(ceil(n * 0.5) AS BIGINT)
                        THEN lag_sec END) AS p50_sec,
               max(CASE WHEN rn = CAST(ceil(n * 0.9) AS BIGINT)
                        THEN lag_sec END) AS p90_sec
        FROM ranked
    """,
)
def funnel_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the view→click→purchase funnel:
    how many users complete it, and the EXACT median / p90 seconds from
    first view to the completing purchase — the latency half of funnel
    analytics (``funnel_ordered_steps`` counts stages; an operator
    deciding where the funnel leaks needs to know how LONG conversion
    takes, not just whether it happens).

    Percentiles are exact rank-based selection (value at rank ⌈q·n⌉ of
    the total order (lag, user_id)) — integer seconds in, integer
    seconds out, no interpolation, so both engines agree bit-for-bit;
    the engines' native continuous percentile/median interpolate
    doubles and disagree at even counts. The ranked selection costs one
    global sort — of the CONVERTED-USERS relation, which two
    aggregations already reduced far below corpus size (the same
    aggregated-dimension justification as the pairwise-exact queries);
    for percentiles OVER THE RAW CORPUS the sketch path is
    ``agg_quantiles_approx``. Funnel staging reuses the single-exchange
    bounded-state window cascade of ``funnel_ordered_steps``."""
    ev = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        .select("user_id", "ts", "event_type")
    )
    w = Window.partitionBy("user_id")
    is_type = lambda t: F.col("event_type") == t  # noqa: E731
    staged = (
        ev.withColumn("t1", F.min(F.when(is_type("view"), F.col("ts"))).over(w))
        .withColumn(
            "t2",
            F.min(
                F.when(is_type("click") & (F.col("ts") > F.col("t1")), F.col("ts"))
            ).over(w),
        )
        .withColumn(
            "t3",
            F.min(
                F.when(
                    is_type("purchase") & (F.col("ts") > F.col("t2")), F.col("ts")
                )
            ).over(w),
        )
    )
    lag = (
        staged.groupBy("user_id")
        .agg(F.max("t1").alias("t1"), F.max("t3").alias("t3"))
        .filter(F.col("t3").isNotNull())
        .select(
            "user_id",
            (
                F.unix_timestamp(F.date_trunc("second", "t3"))
                - F.unix_timestamp(F.date_trunc("second", "t1"))
            ).alias("lag_sec"),
        )
    )
    ranked = lag.withColumn(
        "rn", F.row_number().over(Window.orderBy("lag_sec", "user_id"))
    ).withColumn("n", F.count(F.lit(1)).over(Window.partitionBy()))
    pick = lambda q: F.max(  # noqa: E731
        F.when(
            F.col("rn") == F.ceil(F.col("n") * q).cast("long"), F.col("lag_sec")
        )
    )
    return ranked.agg(
        F.max("n").alias("n_converted"),
        pick(0.5).alias("p50_sec"),
        pick(0.9).alias("p90_sec"),
    )


_ATTR_WINDOW_DAYS = 7
_ATTR_TOTAL = 1_000_000  # micro-credit per conversion (exact integers)
_ATTR_END = 400_000      # first-touch and last-touch shares
_ATTR_MID_POOL = _ATTR_TOTAL - 2 * _ATTR_END  # split across middles
# Per-(user, day) touch cap — the production bot-burst rule that keeps
# exact multi-touch attribution from going quadratic in a single
# user's density. The credited relation is Θ(Σ_user conversions_u ×
# touches_u-in-window) BY DEFINITION of per-touch credit, so one bot
# user owning 5% of a dense corpus detonates it: the r8 events stress
# tier measured the x100 heavy user at ~50k purchases × ~52k eligible
# touches ≈ 2.6e9 credited rows — one straggler task, >25 min, spill
# past local disk. Only the first C touches per (user, day) carry
# attribution signal (burst traffic past that is bot noise — the same
# carries-no-signal rationale as the link-prediction hub cap);
# C = 256·2^{#{j : |touches| > 1,000,000·8^j}} is the standing
# pure-integer threshold chain, computed by BOTH engines from
# count(*) of the identical touch relation. Every graded tier is far
# below the first threshold AND below the cap itself (max ~17
# touches/user/day on the fuzz heavy-user slice, ~3 on the driver
# corpora), so graded results are bit-identical to the uncapped
# semantics; the x100 stress tier clips the bot to 512/day, bounding
# its credited rows to conversions × 7·C. Saturates at C = 32,768
# past 1M·8^7 ≈ 2.1e12 touches.
_ATTR_DAY_CAP_BASE = 256
_ATTR_DAY_CAP_THRESHOLDS = tuple(1_000_000 * 8**j for j in range(8))
_ATTR_CAP_CASES = " + ".join(
    f"(CASE WHEN tc.n > {t} THEN 1 ELSE 0 END)"
    for t in _ATTR_DAY_CAP_THRESHOLDS
)


@register(
    "event_attribution_utouch",
    category="stream",
    oracle=f"""
        WITH p AS (
            SELECT event_id AS conv_id, user_id, ts AS conv_ts
            FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
        ),
        t0 AS (
            SELECT event_id, user_id, event_type AS channel, ts
            FROM events
            WHERE event_type IN ('view', 'click') AND ts IS NOT NULL
        ),
        tcap AS (
            SELECT {_ATTR_DAY_CAP_BASE} << ({_ATTR_CAP_CASES}) AS c
            FROM (SELECT count(*) AS n FROM t0) tc
        ),
        t AS (
            SELECT event_id, user_id, channel, ts FROM (
                SELECT t0.*,
                       row_number() OVER (
                           PARTITION BY user_id, CAST(ts AS DATE)
                           ORDER BY ts, event_id) AS rn
                FROM t0
            ) CROSS JOIN tcap WHERE rn <= c
        ),
        touch AS (
            SELECT p.conv_id, t.event_id, t.channel,
                   row_number() OVER (PARTITION BY p.conv_id
                                      ORDER BY t.ts, t.event_id) AS pos,
                   count(*) OVER (PARTITION BY p.conv_id) AS k
            FROM p JOIN t
              ON t.user_id = p.user_id
             AND t.ts < p.conv_ts
             AND t.ts >= p.conv_ts - INTERVAL {_ATTR_WINDOW_DAYS} DAY
        ),
        credited AS (
            SELECT conv_id, event_id, channel,
                   CASE
                       WHEN k = 1 THEN {_ATTR_TOTAL}
                       WHEN pos = 1 OR pos = k THEN
                           {_ATTR_END}
                           + CASE WHEN k = 2
                                  THEN {_ATTR_MID_POOL} // 2 ELSE 0 END
                       ELSE {_ATTR_MID_POOL} // (k - 2)
                            + CASE WHEN pos - 1
                                        <= {_ATTR_MID_POOL} % (k - 2)
                                   THEN 1 ELSE 0 END
                   END AS credit_micro
            FROM touch
        )
        SELECT channel,
               CAST(count(*) AS BIGINT) AS n_touches,
               CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
               CAST(sum(credit_micro) AS BIGINT) AS credit_micro
        FROM credited GROUP BY channel
    """,
)
def event_attribution_utouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: every
    purchase distributes exactly 1,000,000 micro-credits over the
    user's view/click touchpoints in the preceding 7 days — 40% to the
    first touch, 40% to the last, 20% split across the middles — and
    the report rolls credit up per channel. The marketing-analytics
    op that decides budget allocation, and the lineage-weighting shape
    a training pipeline reuses to credit source datasets for a
    downstream win.

    Exactness discipline: credit is INTEGER micro-units with the
    middle pool's remainder assigned deterministically to the
    EARLIEST middles (floor + positional top-up), so every conversion
    sums to exactly 1,000,000 and both engines agree bit-for-bit —
    a float 0.2/(k−2) split would drift in the last ULP per engine
    and the driver hash would see it. Single-touch conversions take
    the whole credit; two-touch conversions split the middle pool
    50/50 onto the endpoints.

    Scale shape: ONE keyed exchange (user_id) joins purchases to
    candidate touches with the 7-day band as a codegen residual; the
    per-conversion ordering windows ride the conv_id partitioning the
    join's output already clusters by; the channel rollup
    partial-aggregates map-side. Touch lists per (user, week) are
    activity-bounded; a pathological bot user is the standard salting
    candidate."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("conv_ts"),
    )
    t0 = ev.filter(F.col("event_type").isin("view", "click")).select(
        "event_id", "user_id", F.col("event_type").alias("channel"), "ts"
    )
    # per-(user, day) touch cap from the integer chain (see
    # _ATTR_DAY_CAP_THRESHOLDS): 1-row lazy cap relation, the same
    # in-plan broadcast shape as the link-prediction hub cap
    cap_cases = _ATTR_CAP_CASES.replace("tc.n", "n")
    caprel = t0.agg(F.count(F.lit(1)).alias("n")).select(
        F.expr(f"shiftleft({_ATTR_DAY_CAP_BASE}, {cap_cases})").alias("c")
    )
    rn = F.row_number().over(
        Window.partitionBy("user_id", F.to_date("ts")).orderBy("ts", "event_id")
    )
    t = (
        t0.withColumn("rn", rn)
        .crossJoin(F.broadcast(caprel))
        .filter(F.col("rn") <= F.col("c"))
        .drop("rn", "c")
    )
    touch = p.join(
        t,
        (t.user_id == p.p_user)
        & (t.ts < p.conv_ts)
        & (t.ts >= p.conv_ts - F.expr(f"INTERVAL {_ATTR_WINDOW_DAYS} DAYS")),
    )
    w = Window.partitionBy("conv_id")
    ranked = touch.select(
        "conv_id",
        "event_id",
        "channel",
        F.row_number().over(w.orderBy("ts", "event_id")).alias("pos"),
        F.count(F.lit(1)).over(w).alias("k"),
    )
    k, pos = F.col("k"), F.col("pos")
    mid = F.lit(_ATTR_MID_POOL)
    credit = (
        F.when(k == 1, F.lit(_ATTR_TOTAL))
        .when(
            (pos == 1) | (pos == k),
            F.lit(_ATTR_END)
            + F.when(k == 2, (mid / 2).cast("long")).otherwise(F.lit(0)),
        )
        .otherwise(
            F.floor(mid / (k - 2)).cast("long")
            + F.when(pos - 1 <= mid % (k - 2), 1).otherwise(0)
        )
    )
    return (
        ranked.select("conv_id", "channel", credit.alias("credit_micro"))
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.countDistinct("conv_id").alias("n_conversions"),
            F.sum("credit_micro").alias("credit_micro"),
        )
    )


_WAU_WINDOW_DAYS = 7


@register(
    "event_wau_sliding_distinct",
    category="stream",
    oracle=f"""
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        contrib AS (
            SELECT user_id, d + CAST(k.k AS INTEGER) AS report_day
            FROM ud CROSS JOIN
                 (SELECT unnest(range({_WAU_WINDOW_DAYS})) AS k) k
        ),
        days AS (SELECT DISTINCT d FROM ud)
        SELECT c.report_day,
               CAST(count(DISTINCT c.user_id) AS BIGINT) AS wau
        FROM contrib c JOIN days ON days.d = c.report_day
        GROUP BY c.report_day
    """,
)
def event_wau_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day ACTIVE USERS per day (the WAU curve) — DISTINCT
    over a sliding window, the aggregate window frames cannot express
    (a range frame can sum, but `count(DISTINCT)` over a moving range
    needs set state per position).

    The scale formulation is the bounded-explode trick: dedup to one
    (user, day) row — the only corpus-sized exchange — then each such
    row CONTRIBUTES to exactly the 7 report days it is visible in
    (fan-out is the constant window length, never data-dependent), and
    the per-day rollup is a distinct count over contributions. Work is
    7·|user-days|, not |days|·|window| rescans of the event table — at
    100 TB the event table is touched once. Report days are restricted
    to days with actual activity (a dense calendar would be the
    date_series_gapfill composition). NULL ts/user rows are excluded
    identically on both sides (dirty-data convention)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("d"),
                F.date_add(F.col("d"), _WAU_WINDOW_DAYS - 1),
            )
        ).alias("report_day"),
    )
    days = ud.select("d").distinct()
    return (
        contrib.join(F.broadcast(days), contrib.report_day == days.d)
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )


_STREAM_EXEC_N = [0]  # per-process sequence for memory-sink table names


@register(
    "stream_exec_tumbling",
    category="stream",
    oracle="""
        SELECT date_trunc('hour', ts) AS ws, event_type,
               count(*) AS n_events,
               CAST(sum(TRY_CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_value_cents
        FROM events
        WHERE ts IS NOT NULL
        GROUP BY 1, 2
    """,
)
def stream_exec_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming execution, graded on VALUES: the
    events parquet is read through ``readStream`` (file source,
    declared schema), aggregated per (1-hour tumbling window,
    event_type) by the STREAMING engine with a declared watermark, and
    drained to completion with ``trigger(availableNow)`` into a memory
    sink; the oracle computes the same rollup from the same parquet in
    batch SQL — so a hash match witnesses the batch/streaming
    EQUIVALENCE Structured Streaming promises (same plan semantics,
    incrementalized), not just that a stream starts. Every other
    ``stream_*`` entry grades the batch twin of a streaming shape;
    this one grades the streaming engine itself
    (``streaming/event_streams.py``, else test-only surface).

    Scale shape: availableNow is exactly the 100 TB backfill recipe —
    drain a partitioned archive through the SAME query that tails the
    live feed (swap the file source for Kafka; the aggregation is
    untouched). The watermark bounds window state; the memory sink
    holds only the FINAL rollup (n_hours × n_types rows, corpus-
    independent) — a production run lands in the partitioned parquet
    sink via foreachBatch instead. NULL-ts rows are filtered on both
    sides (watermark semantics vs the oracle's date_trunc(NULL) group
    diverge — the standing NULL-ts convention). Eager-builder
    exception (registry docstring): the builder runs the bounded
    drain; the returned memory-table DataFrame is what the driver
    collects."""
    import os

    from ..sources.parquet import path_for
    from ..streaming.event_streams import (
        backlog_state_partitions,
        drain_to_memory,
        read_event_stream,
    )

    # the file source lists a DIRECTORY; select the events table out of
    # the shared corpus dir by glob
    src = path_for(sf_dir, "events")
    stream = read_event_stream(
        spark, os.path.dirname(src), glob=os.path.basename(src)
    ).filter(F.col("ts").isNotNull())
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("sum_value_cents"),
        )
        .select(
            F.col("window.start").alias("ws"),
            "event_type",
            "n_events",
            "sum_value_cents",
        )
    )
    # memory-sink query names are session-global; a fixed name would
    # collide on re-run (bench runs every query twice per session)
    _STREAM_EXEC_N[0] += 1
    return drain_to_memory(
        agg,
        f"stream_exec_tumbling_{_STREAM_EXEC_N[0]}",
        "complete",
        state_partitions=backlog_state_partitions(spark, sf_dir),
    )


@register(
    "event_seasonality_hourweek",
    category="event",
    oracle="""
        SELECT CAST((CAST(ts AS DATE) - DATE '1970-01-01' + 4) % 7
                    AS INTEGER) AS dow,
               CAST(extract(hour FROM ts) AS INTEGER) AS hod,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users,
               CAST(sum(TRY_CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                   AS sum_value_cents
        FROM events
        WHERE ts IS NOT NULL
        GROUP BY 1, 2
    """,
)
def event_seasonality_hourweek(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonality profile — the load-shape matrix behind
    capacity planning, anomaly baselines and traffic-aware sampling: a
    bounded 7×24 rollup of events/users/value per (day-of-week, hour).

    Day-of-week is computed as ``(epoch_days + 4) % 7`` (0=Monday …
    6=Sunday) on BOTH engines instead of each engine's dayofweek()
    builtin — Spark counts 1=Sunday, DuckDB's dow() 0=Sunday, and
    locale-styled builtins are exactly the cross-engine trap the
    integer-arithmetic discipline exists to avoid; epoch-day
    subtraction is calendar-free on both. Output is bounded (≤168
    rows) whatever the corpus size; at 100 TB this is one map-side-
    combined exchange over a 168-key space (with AQE coalescing the
    tiny shuffle), the cheapest query shape there is. NULL-ts rows are
    excluded on both sides per the standing convention."""
    ev = load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    dow = (
        (F.datediff(F.to_date("ts"), F.to_date(F.lit("1970-01-01"))) + 4) % 7
    ).cast("int")
    return (
        ev.groupBy(dow.alias("dow"), F.hour("ts").cast("int").alias("hod"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum(cents("value")).alias("sum_value_cents"),
        )
    )


@register(
    "stream_exec_stateful",
    category="stream",
    oracle="""
        SELECT user_id, CAST(count(*) AS BIGINT) AS total_events
        FROM events
        WHERE user_id IS NOT NULL
        GROUP BY user_id
    """,
)
def stream_exec_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSTOM STATEFUL streaming operator graded on VALUES: per-user
    running totals via ``applyInPandasWithState`` (grouped state, the
    escape hatch for semantics built-in streaming windows can't
    express) executed by the real streaming engine — ``readStream`` →
    grouped-state kernel → availableNow drain to a memory sink — and
    compared against the batch per-user counts. This closes the §2.G
    stateful-streaming row with a hash-graded record instead of a
    test-only one (``transformWithStateInPandas`` stays a documented
    boundary: no protobuf in the container).

    Update-mode emission is per-(user, micro-batch), so the memory
    table's contents DEPEND on how the backlog splits into batches —
    the graded projection takes max(total) per user, which is
    batch-split-invariant because the running total is monotone (the
    same final-value projection a production reader applies to an
    update-mode changelog sink). State is one counter per user —
    keyed, bounded, partitioned — the shape that scales to any corpus
    with user-cardinality state, not corpus-sized state. NULL user_id
    filtered both sides (a NULL grouping key reaches the kernel as a
    None key but the SQL NULL group is engine-convention-laden — the
    standing convention). Eager-builder exception (registry
    docstring): the builder runs the bounded drain."""
    import os

    from ..sources.parquet import path_for
    from ..streaming.event_streams import (
        backlog_state_partitions,
        drain_to_memory,
        read_event_stream,
        running_user_totals,
    )

    src = path_for(sf_dir, "events")
    stream = read_event_stream(
        spark, os.path.dirname(src), glob=os.path.basename(src)
    ).filter(F.col("user_id").isNotNull())
    totals = running_user_totals(stream)
    _STREAM_EXEC_N[0] += 1
    drained = drain_to_memory(
        totals,
        f"stream_exec_stateful_{_STREAM_EXEC_N[0]}",
        "update",
        state_partitions=backlog_state_partitions(spark, sf_dir),
    )
    return drained.groupBy("user_id").agg(
        F.max("total_events").alias("total_events")
    )


@register(
    "stream_exec_dedup",
    category="stream",
    oracle="""
        SELECT user_id, CAST(count(DISTINCT ts) AS BIGINT) AS n_distinct_ts
        FROM events
        WHERE user_id IS NOT NULL AND ts IS NOT NULL
        GROUP BY user_id
    """,
)
def stream_exec_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING DEDUPLICATION graded on VALUES: the third
    streaming-engine query (tumbling agg, grouped state, now the
    built-in stateful `dropDuplicates` operator) — ``readStream`` →
    drop duplicate (user_id, ts) arrivals → availableNow drain to an
    append-mode memory sink, then a batch rollup of the drained rows
    compared against batch `count(DISTINCT ts)` per user. A hash match
    witnesses the streaming exactly-once-per-key contract: every
    duplicate arrival was suppressed, every distinct key emitted
    exactly once, regardless of how the backlog split into
    micro-batches (dedup state spans batches within the run).

    This is the streaming INGEST-dedup recipe at 100 TB: the archive
    drains through the same query that would tail the live feed, and
    re-delivered events (at-least-once sources redeliver on retry)
    collapse before they reach downstream state. The graded form keeps
    full dedup state (bounded by distinct keys in the backlog) so the
    output is batch-split-invariant; the production tail swaps in
    ``dropDuplicatesWithinWatermark`` so state is evicted once the
    watermark passes a key — semantics identical for in-watermark
    re-deliveries, state O(watermark window) instead of O(history).
    NULL user_id/ts filtered on both sides (the standing convention:
    NULL grouping/dedup keys are engine-convention-laden). Eager-
    builder exception (registry docstring): the builder runs the
    bounded drain; the returned batch rollup is what the driver
    collects."""
    import os

    from ..sources.parquet import path_for
    from ..streaming.event_streams import (
        backlog_state_partitions,
        drain_to_memory,
        read_event_stream,
    )

    src = path_for(sf_dir, "events")
    stream = read_event_stream(
        spark, os.path.dirname(src), glob=os.path.basename(src)
    ).filter(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    deduped = stream.select("user_id", "ts").dropDuplicates(["user_id", "ts"])
    _STREAM_EXEC_N[0] += 1
    drained = drain_to_memory(
        deduped,
        f"stream_exec_dedup_{_STREAM_EXEC_N[0]}",
        "append",
        state_partitions=backlog_state_partitions(spark, sf_dir),
    )
    return drained.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_distinct_ts")
    )


@register(
    "event_changepoint_cusum",
    category="event",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS c
            FROM events
            WHERE ts IS NOT NULL AND event_type IS NOT NULL
            GROUP BY event_type, CAST(ts AS DATE)
        ),
        tot AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
                   CAST(sum(c) AS BIGINT) AS total
            FROM daily GROUP BY event_type
        ),
        cusum AS (
            SELECT d.event_type, d.day, t.n_days,
                   sum(t.n_days * d.c - t.total) OVER (
                       PARTITION BY d.event_type ORDER BY d.day
                       ROWS UNBOUNDED PRECEDING
                   ) AS s
            FROM daily d JOIN tot t ON t.event_type = d.event_type
        ),
        ranked AS (
            SELECT event_type, day, n_days, abs(s) AS abs_s,
                   row_number() OVER (
                       PARTITION BY event_type
                       ORDER BY abs(s) DESC, day ASC
                   ) AS rk
            FROM cusum
        )
        SELECT event_type, day AS changepoint_day,
               CAST(abs_s AS BIGINT) AS max_abs_cusum,
               n_days
        FROM ranked WHERE rk = 1
    """,
)
def event_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection over the daily event-rate series —
    the drift monitor that localizes WHEN a series' level shifted
    (deploy broke a pipeline, crawler throttled, traffic mix moved):
    for each event type, the day maximizing |Σ_{i≤k}(c_i − mean)|.

    Integer-exact trick: the textbook statistic subtracts the float
    mean per step; multiplying through by n_days gives the IDENTICAL
    argmax on S_k = Σ(n_days·c_i − total) — pure BIGINT algebra, so
    the cross-engine argmax can never flip on a last-ULP float (the
    registry's integer-argmax routing convention). Ties break on the
    earliest day in both engines.

    Shape: one keyed map-side-combined exchange to daily counts
    (days × types rows — bounded by the calendar, not the corpus),
    a broadcast-sized totals join, one in-partition window cumsum and
    rank. At 100 TB the only corpus-sized work is the first partial
    aggregation."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"), F.sum("c").alias("total")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = (
        daily.join(F.broadcast(tot), "event_type")
        .withColumn(
            "s", F.sum(F.col("n_days") * F.col("c") - F.col("total")).over(w)
        )
    )
    rk = Window.partitionBy("event_type").orderBy(
        F.abs("s").desc(), F.col("day").asc()
    )
    return (
        cusum.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("day").alias("changepoint_day"),
            F.abs("s").cast("long").alias("max_abs_cusum"),
            "n_days",
        )
    )


_MAU_WINDOW_DAYS = 30


@register(
    "event_dau_mau_stickiness",
    category="event",
    oracle=f"""
        WITH ud AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
            FROM events
            WHERE ts IS NOT NULL AND user_id IS NOT NULL
        ),
        contrib AS (
            SELECT user_id, d + CAST(k.k AS INTEGER) AS report_day
            FROM ud CROSS JOIN
                 (SELECT unnest(range({_MAU_WINDOW_DAYS})) AS k) k
        ),
        dau AS (
            SELECT d AS report_day,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS dau
            FROM ud GROUP BY d
        ),
        mau AS (
            SELECT c.report_day,
                   CAST(count(DISTINCT c.user_id) AS BIGINT) AS mau
            FROM contrib c JOIN (SELECT DISTINCT d FROM ud) days
                 ON days.d = c.report_day
            GROUP BY c.report_day
        )
        SELECT d.report_day, d.dau, m.mau,
               round(CAST(d.dau AS DOUBLE) / CAST(m.mau AS DOUBLE), 6)
                   AS stickiness
        FROM dau d JOIN mau m ON m.report_day = d.report_day
    """,
)
def event_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per day — the engagement-depth KPI (what
    fraction of the month's audience shows up on a given day), i.e.
    the ratio of a point-distinct to a trailing-30-day sliding
    distinct. The sliding side reuses ``event_wau_sliding_distinct``'s
    bounded-explode formulation at window 30: one corpus-sized
    (user, day) dedup exchange, then constant fan-out contributions —
    work is 30·|user-days|, the event table is touched once, and both
    distinct rollups ride the same keyed partitioning. The ratio is
    one double division of two exact BIGINTs (identical both
    engines). Report days restricted to days with activity; NULL
    ts/user rows excluded identically on both sides. The (user, day)
    relation is PERSISTED (r9, guide §2.4): the DAU rollup, the MAU
    contributions and the day roster all read it, and unpersisted the
    corpus-sized dedup exchange planned and ran three times — the
    cache is what makes the docstring's touched-once claim true.
    |user-days| rows of two narrow values."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    ud = (
        ev.select("user_id", F.to_date("ts").alias("d"))
        .distinct()
        .cache()
    )
    dau = ud.groupBy(F.col("d").alias("report_day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("d"), F.date_add(F.col("d"), _MAU_WINDOW_DAYS - 1)
            )
        ).alias("report_day"),
    )
    days = ud.select("d").distinct()
    mau = (
        contrib.join(F.broadcast(days), contrib.report_day == days.d)
        .groupBy("report_day")
        .agg(F.countDistinct("user_id").alias("mau"))
    )
    return dau.join(mau, "report_day").select(
        "report_day",
        "dau",
        "mau",
        F.round(
            F.col("dau").cast("double") / F.col("mau").cast("double"), 6
        ).alias("stickiness"),
    )


@register(
    "agg_autocorrelation_lag1",
    category="agg",
    oracle="""
        WITH daily AS (
            SELECT event_type, CAST(ts AS DATE) AS day,
                   CAST(count(*) AS BIGINT) AS c
            FROM events
            WHERE ts IS NOT NULL AND event_type IS NOT NULL
            GROUP BY 1, 2
        ),
        tot AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(c) AS BIGINT) AS t
            FROM daily GROUP BY event_type
        ),
        led AS (
            SELECT d.event_type, t.n, t.t, d.c,
                   lead(d.c) OVER (PARTITION BY d.event_type
                                   ORDER BY d.day) AS c_next
            FROM daily d JOIN tot t ON t.event_type = d.event_type
        ),
        s AS (
            SELECT event_type, CAST(min(n) AS BIGINT) AS n_days,
                   sum(CASE WHEN c_next IS NOT NULL THEN
                       CAST(n * c - t AS HUGEINT)
                       * CAST(n * c_next - t AS HUGEINT) END) AS num,
                   sum(CAST(n * c - t AS HUGEINT)
                       * CAST(n * c - t AS HUGEINT)) AS den
            FROM led GROUP BY event_type
        )
        SELECT event_type, n_days,
               round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS r1
        FROM s
    """,
)
def agg_autocorrelation_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of each type's daily event-count series —
    the one-number momentum/seasonality diagnostic read before
    forecasting or anomaly-thresholding a rate series (r1 ≈ 0: treat
    days as independent; r1 ≫ 0: yesterday predicts today, widen the
    baseline window).

    Integer multiply-through (the CUSUM trick applied to a second
    moment): centered terms (c − T/n) become (n·c − T) after scaling
    by n², so numerator Σ(n·cₜ−T)(n·cₜ₊₁−T) and denominator
    Σ(n·cₜ−T)² are EXACT 128-bit integers — the only float op is the
    final rounded division, identical in both engines. Series length
    is calendar-bounded, so the window/lead/sums all run on a
    days×types relation; the corpus is touched once by the daily
    count (map-side combined)."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("c"))
    tot = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("t")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    led = daily.join(F.broadcast(tot), "event_type").withColumn(
        "c_next", F.lead("c").over(w)
    )
    dev = (F.col("n") * F.col("c") - F.col("t")).cast("decimal(38,0)")
    dev_next = (F.col("n") * F.col("c_next") - F.col("t")).cast(
        "decimal(38,0)"
    )
    s = led.groupBy("event_type").agg(
        F.min("n").cast("long").alias("n_days"),
        F.sum(
            F.when(F.col("c_next").isNotNull(), dev * dev_next)
        ).alias("num"),
        F.sum(dev * dev).alias("den"),
    )
    return s.select(
        "event_type",
        "n_days",
        F.round(
            F.col("num").cast("double") / F.col("den").cast("double"), 6
        ).alias("r1"),
    )


@register(
    "event_ohlc_bars",
    category="event",
    oracle="""
        WITH b AS (
            SELECT event_type, date_trunc('hour', ts) AS bar,
                   ts, event_id,
                   TRY_CAST(round(value * 100) AS BIGINT) AS c
            FROM events
            WHERE ts IS NOT NULL AND event_type IS NOT NULL
              AND TRY_CAST(round(value * 100) AS BIGINT) IS NOT NULL
        ),
        ranked AS (
            SELECT event_type, bar, c,
                   row_number() OVER (PARTITION BY event_type, bar
                                      ORDER BY ts, event_id) AS rk_a,
                   row_number() OVER (PARTITION BY event_type, bar
                                      ORDER BY ts DESC, event_id DESC)
                       AS rk_d
            FROM b
        ),
        agg AS (
            SELECT event_type, bar,
                   CAST(count(*) AS BIGINT) AS n_ticks,
                   CAST(max(c) AS BIGINT) AS high_cents,
                   CAST(min(c) AS BIGINT) AS low_cents
            FROM b GROUP BY event_type, bar
        )
        SELECT a.event_type,
               CAST(epoch(a.bar) AS BIGINT) AS bar_epoch,
               a.n_ticks,
               CAST(o.c AS BIGINT) AS open_cents,
               a.high_cents, a.low_cents,
               CAST(cl.c AS BIGINT) AS close_cents
        FROM agg a
        JOIN ranked o ON o.event_type = a.event_type AND o.bar = a.bar
                     AND o.rk_a = 1
        JOIN ranked cl ON cl.event_type = a.event_type AND cl.bar = a.bar
                      AND cl.rk_d = 1
    """,
)
def event_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle bars: per (event type, hour) the opening / highest /
    lowest / closing money value — the canonical time-series
    downsampling every monitoring and market pipeline runs, expressed
    as ONE partial-aggregatable pass (open/close are min_by/max_by on
    the (ts, event_id) composite — order-statistics that merge
    associatively, so map-side combine holds and no window sort is
    needed; the tie-break on event_id makes the cross-engine argmin/
    argmax deterministic even on equal timestamps — the standing
    integer-argmax discipline applied to time).

    One keyed exchange to (type, hour) groups; integer cents
    throughout so the hash gate is exact. At 100 TB this is the
    motivating case for partial aggregation: raw ticks collapse to
    calendar-bounded bars in the map phase and only bars shuffle."""
    ev = (
        load(spark, sf_dir, "events")
        .select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bar"),
            "ts",
            "event_id",
            cents("value").alias("c"),
        )
        .filter(
            F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("c").isNotNull()
        )
    )
    key = F.struct(F.unix_micros("ts").alias("tu"), F.col("event_id"))
    return ev.groupBy("event_type", "bar").agg(
        F.count(F.lit(1)).cast("long").alias("n_ticks"),
        F.min_by("c", key).cast("long").alias("open_cents"),
        F.max("c").cast("long").alias("high_cents"),
        F.min("c").cast("long").alias("low_cents"),
        F.max_by("c", key).cast("long").alias("close_cents"),
    ).select(
        "event_type",
        F.unix_timestamp("bar").alias("bar_epoch"),
        "n_ticks",
        "open_cents",
        "high_cents",
        "low_cents",
        "close_cents",
    )


@register(
    "event_interarrival_burstiness",
    category="event",
    oracle="""
        WITH seq AS (
            SELECT event_type,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY event_type ORDER BY ts, event_id
                   ) AS gap_us
            FROM events
            WHERE ts IS NOT NULL AND event_type IS NOT NULL
        ),
        g AS (
            SELECT event_type, count(*) AS n,
                   CAST(sum(gap_us) AS HUGEINT) AS s1,
                   sum(CAST(gap_us AS HUGEINT) * gap_us) AS s2
            FROM seq WHERE gap_us IS NOT NULL
            GROUP BY event_type HAVING count(*) >= 2
        )
        SELECT event_type,
               CAST(n AS BIGINT) AS n_gaps,
               round(CAST(s1 AS DOUBLE) / n / 1000000.0, 6)
                   AS mean_gap_sec,
               round(sqrt((CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n)
                          / (n - 1.0))
                     / (CAST(s1 AS DOUBLE) / n), 6) AS cv
        FROM g
    """,
)
def event_interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-process burstiness per event type: mean inter-arrival gap
    and its coefficient of variation (CV ≈ 1 ⇒ Poisson-like arrivals;
    CV ≫ 1 ⇒ bursts — retry storms, bot cascades, scraper pulses).
    The arrival-TIMING diagnostic beside the rate-level monitors
    (CUSUM localizes level shifts; this characterizes the process
    between them).

    The family exactness recipe on time: gaps are exact integer
    MICROSECONDS from one type-keyed window (ts, event_id ordering —
    the standing tie-break), their two power sums run in 128 bits
    (a 30-year gap is ~1e15 µs; its square 1e30 is decimal(38,0) /
    HUGEINT-safe), and mean/CV are one identical IEEE tree. HAVING
    n ≥ 2 guards the n−1 divisor identically. One corpus-sized
    exchange; the moment rollup rides the window's partitioning."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    tu = F.unix_micros("ts")
    seq = ev.select(
        "event_type", (tu - F.lag(tu).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    gd = F.col("gap_us").cast("decimal(38,0)")
    g = (
        seq.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(gd).alias("s1"),
            F.sum(gd * gd).alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    s1 = F.col("s1").cast("double")
    s2 = F.col("s2").cast("double")
    mean = s1 / nd
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("n_gaps"),
        F.round(mean / F.lit(1000000.0), 6).alias("mean_gap_sec"),
        F.round(
            F.sqrt((s2 - s1 * s1 / nd) / (nd - F.lit(1.0))) / mean, 6
        ).alias("cv"),
    )


@register(
    "stream_exec_sliding",
    category="stream",
    oracle="""
        WITH e AS (
            SELECT event_type, ts,
                   date_trunc('hour', ts) AS h
            FROM events WHERE ts IS NOT NULL
        ),
        contrib AS (
            SELECT event_type, ts,
                   h - to_hours(CAST(k.k AS BIGINT)) AS ws
            FROM e CROSS JOIN (SELECT unnest(range(2)) AS k) k
        )
        SELECT CAST(epoch(ws) AS BIGINT) AS ws_epoch, event_type,
               CAST(count(*) AS BIGINT) AS n_events
        FROM contrib
        WHERE ts >= ws AND ts < ws + INTERVAL '2 hours'
        GROUP BY ws, event_type
    """,
)
def stream_exec_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE Structured Streaming SLIDING-window execution, graded on
    values: readStream → 2-hour windows sliding by 1 hour → watermark
    → availableNow drain to a memory sink. Overlapping windows are a
    DIFFERENT streaming-state path than the tumbling drain
    (``stream_exec_tumbling``): each event updates TWO window states,
    and the engine's window-assignment (expand) operator is what gets
    witnessed — the oracle replays the assignment as a bounded
    explode (each event contributes to exactly slide/length = 2
    window starts) over the original parquet.

    Scale: state is O(open windows × types), bounded by the
    watermark; the memory sink holds only the final rollup. Same
    backfill-equals-live property as the tumbling drain. NULL-ts rows
    excluded identically (watermark vs NULL-group divergence — the
    standing convention). Eager-builder exception: the builder runs
    the bounded drain."""
    import os

    from ..sources.parquet import path_for
    from ..streaming.event_streams import (
        backlog_state_partitions,
        drain_to_memory,
        read_event_stream,
    )

    src = path_for(sf_dir, "events")
    stream = read_event_stream(
        spark, os.path.dirname(src), glob=os.path.basename(src)
    ).filter(F.col("ts").isNotNull())
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "2 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("window.start")).alias("ws_epoch"),
            "event_type",
            "n_events",
        )
    )
    _STREAM_EXEC_N[0] += 1
    return drain_to_memory(
        agg,
        f"stream_exec_sliding_{_STREAM_EXEC_N[0]}",
        "complete",
        state_partitions=backlog_state_partitions(spark, sf_dir),
    )


@register(
    "event_cohort_revenue_ltv",
    category="event",
    oracle="""
        WITH firsts AS (
            SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE)
                       AS cohort
            FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
            GROUP BY user_id
        ),
        facts AS (
            SELECT e.user_id, f.cohort,
                   CAST((CAST(e.ts AS DATE) - f.cohort) // 7 AS BIGINT)
                       AS age_weeks,
                   TRY_CAST(round(e.value * 100) AS BIGINT) AS c
            FROM events e JOIN firsts f ON f.user_id = e.user_id
            WHERE e.ts IS NOT NULL AND e.event_type = 'purchase'
        )
        SELECT CAST(epoch(cohort) AS BIGINT) AS cohort_epoch,
               age_weeks,
               CAST(count(*) AS BIGINT) AS n_purchases,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers,
               CAST(sum(c) AS BIGINT) AS revenue_cents
        FROM facts GROUP BY cohort, age_weeks
    """,
)
def event_cohort_revenue_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV matrix: purchase revenue by (signup-month cohort ×
    months-since-signup age) — the money dimension the count-based
    retention triangle (``retention_cohorts``) lacks; cumulating the
    rows along age gives each cohort's lifetime-value curve, THE
    payback chart every growth model is fit to. Week-granularity
    cohorts (the corpus spans ~a month; months would collapse the
    matrix to one cell — granularity is data, not dogma).

    Shape: the cohort dimension is one user-keyed min() (map-side
    combined), broadcast back onto the purchase facts (users ≪
    events), then a calendar-bounded (cohort × age) rollup. Week age
    via integer DAY arithmetic (datediff // 7) — timezone-free and
    engine-neutral; both engines start ISO weeks on Monday. Exact
    cents; NULL ts/user rows excluded identically."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort")
    )
    facts = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(firsts), "user_id")
        .select(
            "user_id",
            "cohort",
            F.floor(
                F.datediff(F.to_date("ts"), F.col("cohort")) / 7
            ).cast("long").alias("age_weeks"),
            cents("value").alias("c"),
        )
    )
    return facts.groupBy(
        F.unix_timestamp(F.col("cohort").cast("timestamp")).alias(
            "cohort_epoch"
        ),
        "age_weeks",
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        F.countDistinct("user_id").cast("long").alias("n_buyers"),
        F.sum("c").alias("revenue_cents"),
    )
