"""Window/sequence operators over the ``events`` table.

Reference ops covered: W1 (lead end-page), W2 (running-balance
classification), W5 (stable ordering), W8 (sessionization), plus an as-of
lookup (the J-family's temporal analog). All pure built-ins — zero Python in
the hot path.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.expressions import floordiv_duck, floordiv_sql

SESSION_GAP_SECONDS = 1800


def _events(spark, sf_dir):
    from . import load
    # Parquet stores ts as TIMESTAMP_NTZ (naive). unix_micros would require a
    # cast through TIMESTAMP, which silently shifts by the *session* timezone
    # — wrong under any non-UTC driver. timestampdiff against an NTZ epoch
    # literal is timezone-independent and matches DuckDB's epoch_us.
    return load(spark, sf_dir, "events").withColumn(
        "ep",
        F.expr(
            "timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', cast(ts as timestamp_ntz))"
        ),
    )


def _user_order():
    # ep is an injective image of ts -> identical ordering, numeric windows.
    return Window.partitionBy("user_id").orderBy("ep", "event_id")


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: gap>30min session ids per user; returns per-user session counts.
    Classic lag -> boundary flag -> running sum."""
    ev = _events(spark, sf_dir)
    w = _user_order()
    gap = F.col("ep") - F.lag("ep").over(w)
    with_flag = ev.withColumn(
        "is_new",
        F.when(gap.isNull() | (gap > SESSION_GAP_SECONDS * 1_000_000), 1).otherwise(0),
    )
    with_session = with_flag.withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return with_session.groupBy("user_id").agg(
        F.max("session_id").cast("bigint").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


def q_balance_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: running-balance DEBIT/CREDIT/UNCLEAR classification. ``value``
    plays the running balance; the implied transaction amount is |diff| with
    the reference's 1%-of-diff tolerance arithmetic."""
    ev = _events(spark, sf_dir)
    w = _user_order()
    prev = F.lag("value").over(w)
    diff = F.col("value") - prev
    amount = F.round(F.abs(diff), 2)
    tol = F.abs(diff) * 0.01
    return ev.select(
        "event_id",
        "user_id",
        F.when(prev.isNull(), F.lit(""))
        .when(F.abs(diff - amount) < tol, F.lit("CREDIT"))
        .when(F.abs(diff + amount) < tol, F.lit("DEBIT"))
        .otherwise(F.lit("UNCLEAR"))
        .alias("transaction_type"),
        F.when(prev.isNull(), F.lit(-1.0)).otherwise(amount).alias("classified_amount"),
    )


def q_lead_boundary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: each event's 'end' is the next event's start (lead), defaulting to
    the partition max — the outline end-page pattern."""
    ev = _events(spark, sf_dir)
    w = _user_order()
    wall = Window.partitionBy("user_id")
    return ev.select(
        "event_id",
        "user_id",
        F.coalesce(
            F.lead("ep").over(w), F.max("ep").over(wall)
        ).alias("end_us"),
    )


def q_asof_prev_signup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join expressed as a window: for each purchase, the user's most
    recent prior (or same-instant) signup timestamp."""
    ev = _events(spark, sf_dir)
    w = _user_order().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    last_signup = F.last(
        F.when(F.col("event_type") == "signup", F.col("ep")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.withColumn("prev_signup_us", F.coalesce(last_signup, F.lit(-1)))
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "prev_signup_us")
    )


def q_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling 5-minute window aggregate per event_type — the
    batch expression of the Structured Streaming windowed-agg pattern
    (``F.window`` over the event timestamp; in streaming mode the identical
    transform runs behind ``readStream`` + a watermark, see
    streaming/micro_batch.py). Min/max are exact (no float-sum drift)."""
    ev = _events(spark, sf_dir)
    win = F.window(F.col("ts").cast("timestamp_ntz"), "5 minutes")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            F.col("w.start").cast("string").alias("window_start"),
            "event_type",
            "n_events",
            "min_value",
            "max_value",
        )
    )


_INFER_CANDIDATES = ["c_desc", "c_ref", "c_amt"]


def q_column_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/W4: balance/amount column inference — parse-ability statistics per
    candidate column decide which string column is numeric. Candidate columns
    are synthesized from events (description / reference / formatted amount);
    the reference picks the first column whose values are >70% parseable."""
    ev = _events(spark, sf_dir)
    stmt = ev.select(
        "user_id",
        F.col("event_type").alias("c_desc"),
        F.when(
            F.col("user_id") % 2 == 0, F.col("event_id").cast("string")
        ).otherwise(F.concat(F.lit("REF"), F.col("event_id").cast("string"))
        ).alias("c_ref"),
        F.round(F.col("value") * 100).cast("bigint").cast("string").alias("c_amt"),
    )
    numeric = [
        F.avg(
            F.col(c).rlike(r"^-?\d+$").cast("int")
        ).alias(f"r_{c}")
        for c in _INFER_CANDIDATES
    ]
    per_user = stmt.groupBy("user_id").agg(*numeric)
    pick = None
    for c in _INFER_CANDIDATES:
        cond = F.col(f"r_{c}") > 0.7
        pick = F.when(cond, F.lit(c)) if pick is None else pick.when(cond, F.lit(c))
    return per_user.select(
        "user_id",
        pick.otherwise(F.lit("none")).alias("balance_col"),
        F.round(F.col("r_c_ref"), 6).alias("ref_numeric_ratio"),
    )


ORACLES = {
    "tumbling_window": """
        SELECT time_bucket(INTERVAL '5 minutes', ts)::VARCHAR AS window_start,
               event_type,
               count(*) AS n_events,
               min(value) AS min_value,
               max(value) AS max_value
        FROM events
        GROUP BY 1, 2
    """,
    "column_inference": """
        WITH stmt AS (
            SELECT user_id,
                   event_type AS c_desc,
                   CASE WHEN user_id % 2 = 0 THEN event_id::VARCHAR
                        ELSE 'REF' || event_id::VARCHAR END AS c_ref,
                   round(value * 100)::BIGINT::VARCHAR AS c_amt
            FROM events
        ), ratios AS (
            SELECT user_id,
                   avg(CASE WHEN regexp_full_match(c_desc, '-?\\d+')
                            THEN 1 ELSE 0 END) AS r_c_desc,
                   avg(CASE WHEN regexp_full_match(c_ref, '-?\\d+')
                            THEN 1 ELSE 0 END) AS r_c_ref,
                   avg(CASE WHEN regexp_full_match(c_amt, '-?\\d+')
                            THEN 1 ELSE 0 END) AS r_c_amt
            FROM stmt GROUP BY user_id
        )
        SELECT user_id,
               CASE WHEN r_c_desc > 0.7 THEN 'c_desc'
                    WHEN r_c_ref > 0.7 THEN 'c_ref'
                    WHEN r_c_amt > 0.7 THEN 'c_amt'
                    ELSE 'none' END AS balance_col,
               round(r_c_ref, 6) AS ref_numeric_ratio
        FROM ratios
    """,
    "sessionize": f"""
        WITH flagged AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                                > {SESSION_GAP_SECONDS} * 1000000
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sessions AS (
            SELECT user_id, event_id,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id, max(session_id)::BIGINT AS n_sessions,
               count(*) AS n_events
        FROM sessions GROUP BY user_id
    """,
    "balance_classify": """
        WITH d AS (
            SELECT event_id, user_id,
                   value - lag(value) OVER w AS diff
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT event_id, user_id,
               CASE WHEN diff IS NULL THEN ''
                    WHEN abs(diff - round(abs(diff), 2)) < abs(diff) * 0.01 THEN 'CREDIT'
                    WHEN abs(diff + round(abs(diff), 2)) < abs(diff) * 0.01 THEN 'DEBIT'
                    ELSE 'UNCLEAR' END AS transaction_type,
               CASE WHEN diff IS NULL THEN -1.0
                    ELSE round(abs(diff), 2) END AS classified_amount
        FROM d
    """,
    "lead_boundary": """
        SELECT event_id, user_id,
               coalesce(
                   epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)),
                   epoch_us(max(ts) OVER (PARTITION BY user_id))
               ) AS end_us
        FROM events
    """,
    "asof_prev_signup": """
        WITH x AS (
            SELECT event_id, user_id, event_type,
                   last_value(CASE WHEN event_type = 'signup'
                                   THEN epoch_us(ts) END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS prev_signup_us
            FROM events
        )
        SELECT event_id, user_id, coalesce(prev_signup_us, -1) AS prev_signup_us
        FROM x WHERE event_type = 'purchase'
    """,
}

# floor (not truncating) division: a pre-2024 event's negative datediff
# must land in week -1, matching the DuckDB oracles' `//`
_WK = floordiv_sql(
    "datediff(to_date(cast(ts as timestamp_ntz)), date'2024-01-01')", 7
)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention over the event stream: users are cohorted
    by their first active week, and each (cohort, week-offset) cell counts
    how many of them were active that week — the standard growth-analytics
    triangle.

    Scale shape: one (user, week) distinct (keyed shuffle with map-side
    partial), one user-keyed min aggregate for the cohort, one user-keyed
    equi-join (AQE broadcasts the cohort side when small), and a final
    groupBy over the tiny (cohort, offset) key space. No windows, no
    skew-prone keys (a hot user still contributes one row per week).
    Week indexing is pure calendar arithmetic on the naive timestamp
    (timestamp_ntz, the tumbling_window convention) so both engines agree
    exactly."""
    ev = _events(spark, sf_dir)
    activity = ev.select(
        "user_id", F.expr(_WK).cast("long").alias("wk")
    ).distinct()
    cohort = activity.groupBy("user_id").agg(
        F.min("wk").alias("cohort_wk")
    )
    return (
        activity.join(cohort, "user_id")
        .groupBy(
            "cohort_wk",
            (F.col("wk") - F.col("cohort_wk")).alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup -> purchase conversion within 7 days, by signup cohort week:
    per user the first signup, then the first purchase AT OR AFTER it
    (the order constraint is a post-join filter on a user-keyed equi-join
    — never a range join), converted = purchase within 7 calendar days.

    Output: cohort_wk, n_signups, n_converted_7d."""
    ev = _events(spark, sf_dir)
    signups = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("timestamp_ntz")).alias("s_ts"))
    )
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", F.col("ts").cast("timestamp_ntz").alias("p_ts"))
        .join(signups, "user_id")
        .where(F.col("p_ts") >= F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("p_ts").alias("p_ts"))
    )
    conv = F.when(
        F.col("p_ts").isNotNull()
        & (F.datediff(F.to_date("p_ts"), F.to_date("s_ts")) <= 7),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        signups.join(purchases, "user_id", "left")
        .groupBy(
            F.expr(
                floordiv_sql("datediff(to_date(s_ts), date'2024-01-01')", 7)
            ).cast("long").alias("cohort_wk")
        )
        .agg(
            F.count("*").alias("n_signups"),
            F.sum(conv).cast("long").alias("n_converted_7d"),
        )
    )


def q_session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Spark-NATIVE session window (``F.session_window``): per
    (user, dynamic-gap session) event count and exact cents sum, with the
    engine's own session bounds (end = last event + gap). Same 30-minute
    gap duration AND the same boundary as q_sessionize: an exactly-gap
    pair MERGES, only a strictly greater gap splits (verified empirically
    against Spark 4.1 and pinned at the boundary by
    test_session_window_boundary_semantics, which replays the oracle in
    DuckDB on a crafted boundary fixture). This form runs unchanged under
    Structured Streaming (session_window + watermark); the oracle replays
    it as gaps-and-islands. Merge rule pinned on both sides: a
    consecutive gap STRICTLY below the gap duration merges (Spark merges
    while next.start < prev.end)."""
    ev = _events(spark, sf_dir)
    w = F.session_window(
        F.col("ts").cast("timestamp_ntz"),
        f"{SESSION_GAP_SECONDS} seconds",
    )
    return (
        ev.groupBy(w.alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.expr("round(value * 100)").cast("long")).alias(
                "sum_cents"
            ),
        )
        .select(
            "user_id",
            F.col("w.start").cast("string").alias("w_start"),
            F.col("w.end").cast("string").alias("w_end"),
            "n_events",
            "sum_cents",
        )
    )


def q_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral sequence mining: the event-type transition matrix — for
    each (prev_type, next_type) pair over per-user event order, the count
    and the integer-permille transition probability. One per-user lag
    window (unbounded key domain -> parallel) + two hash aggregates; the
    per-prev totals are a tiny frame and broadcast back.

    Permille (cnt*1000 div total) keeps the probability integer-exact
    across engines — the repo-wide no-float-ratios idiom."""
    ev = _events(spark, sf_dir)
    w = _user_order()
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("prev_type"),
            F.col("event_type").alias("next_type"),
        )
        .where(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = pairs.groupBy("prev_type").agg(F.sum("n").alias("total"))
    return (
        pairs.join(F.broadcast(totals), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "n",
            F.expr("div(n * 1000, total)").alias("permille"),
        )
    )


def q_hourly_spine_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series regularization: the hourly date spine per event type
    (every hour between the type's first and last event, gaps included)
    with the hourly cents sum FORWARD-FILLED across silent hours — the
    gap-fill + locf resample every warehouse needs before charting or
    joining time series.

    Scale shape: the spine is bounded by calendar x types (one row per
    hour per type — ~9k/type/year regardless of corpus size), built from
    a per-type min/max aggregate + sequence explode; the fill is a
    last-ignorenulls window PARTITIONED BY TYPE over that bounded spine,
    so the window's partition size is calendar-bounded, never
    data-bounded. The raw corpus is touched only by the two hash
    aggregates."""
    from .aggregates import _hourly_partials, _with_ep

    hourly = _hourly_partials(_with_ep(_events(spark, sf_dir))).select(
        "event_type", "hour_b", F.col("s").alias("cents")
    )
    spine = (
        hourly.groupBy("event_type")
        .agg(F.min("hour_b").alias("lo"), F.max("hour_b").alias("hi"))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi")).alias("hour_b"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = spine.join(hourly, ["event_type", "hour_b"], "left")
    return joined.select(
        "event_type",
        "hour_b",
        F.col("cents").isNull().cast("long").alias("is_gap"),
        F.last("cents", ignorenulls=True).over(w).alias("cents_filled"),
    )


_DD_TS_DUCK = "date_diff('day', DATE '2024-01-01', ts::DATE)"
_DD_STS_DUCK = "date_diff('day', DATE '2024-01-01', s.s_ts::DATE)"

ORACLES["time_weighted_avg"] = """
        WITH ev AS (
            SELECT user_id, round(value * 100)::BIGINT AS cents,
                   epoch_us(ts) AS ep, event_id
            FROM events
        ), spans AS (
            SELECT user_id, cents,
                   lead(ep) OVER (PARTITION BY user_id
                                  ORDER BY ep, event_id) - ep AS dur_us
            FROM ev
        ), agg AS (
            SELECT user_id,
                   sum(dur_us::HUGEINT * cents::HUGEINT) AS wsum,
                   sum(dur_us)::BIGINT AS total_dur_us
            FROM spans WHERE dur_us IS NOT NULL
            GROUP BY 1
        )
        SELECT user_id, total_dur_us,
               (wsum // total_dur_us::HUGEINT)::BIGINT AS twa_cents
        FROM agg
"""

ORACLES["purchase_attribution"] = """
        WITH ev AS (
            SELECT user_id, event_type,
                   round(value * 100)::BIGINT AS cents,
                   epoch_us(ts) AS ep, event_id
            FROM events
        ), touched AS (
            SELECT event_type, cents,
                   last_value(CASE WHEN event_type <> 'purchase'
                                   THEN event_type END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ep, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS touch
            FROM ev
        )
        SELECT coalesce(touch, 'direct') AS touch_type,
               count(*) AS n_purchases,
               sum(cents)::BIGINT AS attributed_cents
        FROM touched WHERE event_type = 'purchase'
        GROUP BY 1
"""

ORACLES["cohort_retention"] = f"""
        WITH a AS (
            SELECT DISTINCT user_id,
                   {floordiv_duck(_DD_TS_DUCK, 7)}::BIGINT AS wk
            FROM events
        ), c AS (
            SELECT user_id, min(wk) AS cohort_wk FROM a GROUP BY 1
        )
        SELECT c.cohort_wk, a.wk - c.cohort_wk AS week_offset,
               count(*) AS n_users
        FROM a JOIN c USING (user_id)
        GROUP BY 1, 2
"""

ORACLES["funnel_conversion"] = f"""
        WITH s AS (
            SELECT user_id, min(ts) AS s_ts FROM events
            WHERE event_type = 'signup' GROUP BY 1
        ), p AS (
            SELECT e.user_id, min(e.ts) AS p_ts
            FROM events e JOIN s ON s.user_id = e.user_id
                                AND e.ts >= s.s_ts
            WHERE e.event_type = 'purchase'
            GROUP BY 1
        )
        SELECT {floordiv_duck(_DD_STS_DUCK, 7)}::BIGINT AS cohort_wk,
               count(*) AS n_signups,
               sum(CASE WHEN p.p_ts IS NOT NULL
                         AND date_diff('day', s.s_ts::DATE, p.p_ts::DATE)
                             <= 7
                        THEN 1 ELSE 0 END)::BIGINT AS n_converted_7d
        FROM s LEFT JOIN p USING (user_id)
        GROUP BY 1
"""

def q_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average — the hypertable/monitoring classic: a metric
    sampled at irregular instants must weight each observation by how long
    it was current, not count it once. Per user: twa_cents =
    sum(duration_i * cents_i) / sum(duration_i) where duration_i runs from
    event i to event i+1 (the last observation carries no duration; users
    with a single event have no interval and are excluded).

    Exact across engines: durations are integer micros, values integer
    cents, the weighted sum rides DECIMAL(38,0) (micros ~3e13 x cents ~5e4
    overflows int64 in the worst term), and the average is one floor
    division — positive operands, so Spark div == DuckDB // exactly.

    Scale shape: one per-user lead window + one hash aggregate — the
    sessionize layout; user_id is an unbounded parallel key."""
    w = _user_order()
    ev = _events(spark, sf_dir).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    spans = ev.select(
        "user_id",
        "cents",
        (F.lead("ep").over(w) - F.col("ep")).alias("dur_us"),
    ).where(F.col("dur_us").isNotNull())
    agg = spans.groupBy("user_id").agg(
        F.sum(
            (F.col("dur_us") * F.col("cents")).cast("decimal(38,0)")
        ).alias("wsum"),
        F.sum("dur_us").alias("total_dur_us"),
    )
    return agg.select(
        "user_id",
        "total_dur_us",
        F.expr("cast(div(wsum, cast(total_dur_us as decimal(38,0))) as bigint)")
        .alias("twa_cents"),
    )


def q_purchase_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each ``purchase`` credits its
    cents to the user's most recent PRECEDING non-purchase event type (the
    touch); purchases with no preceding touch fall into the 'direct'
    bucket. Output per touch type: attributed purchases and cents.

    One per-user ``last(..., ignorenulls)`` window (rows unbounded
    preceding to 1 preceding — strictly before the purchase) + one hash
    aggregate; the same tagged-ordered-window construction as the as-of
    join, so no range join and no per-row backward search."""
    w = _user_order().rowsBetween(Window.unboundedPreceding, -1)
    ev = _events(spark, sf_dir).withColumn(
        "cents", F.round(F.col("value") * 100).cast("long")
    )
    touched = ev.withColumn(
        "touch",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        touched.where(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce("touch", F.lit("direct")).alias("touch_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("cents").alias("attributed_cents"),
        )
    )


FUNNEL_STEP_DAYS = 7
_STEP_US = FUNNEL_STEP_DAYS * 86400 * 1_000_000


def q_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order 3-step funnel with a per-step conversion window (the
    product-analytics staple): signup -> first view STRICTLY AFTER it
    within FUNNEL_STEP_DAYS -> first purchase strictly after THAT view
    within another FUNNEL_STEP_DAYS. Each step anchors on the previous
    step's own instant, not the funnel start — the semantics 2-step
    funnel_conversion cannot express.

    Scale shape: three user-keyed hash aggregates chained by two
    user-keyed equi-joins (each step's frame is one row per surviving
    user); the final count combine is three 1-row aggregates cross-joined
    (the logreg metrics pattern). No windows, no range join — the step
    predicate rides the equi-join as a filter."""
    ev = _events(spark, sf_dir)
    s1 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ep").alias("e1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "view")
        .join(s1, "user_id")
        .where(
            (F.col("ep") > F.col("e1"))
            & (F.col("ep") - F.col("e1") <= _STEP_US)
        )
        .groupBy("user_id")
        .agg(F.min("ep").alias("e2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where(
            (F.col("ep") > F.col("e2"))
            & (F.col("ep") - F.col("e2") <= _STEP_US)
        )
        .groupBy("user_id")
        .agg(F.min("ep").alias("e3"))
    )
    return (
        s1.agg(F.count(F.lit(1)).alias("n_step1"))
        .crossJoin(s2.agg(F.count(F.lit(1)).alias("n_step2")))
        .crossJoin(s3.agg(F.count(F.lit(1)).alias("n_step3")))
    )


ORACLES["funnel_steps"] = f"""
        WITH s1 AS (
            SELECT user_id, min(epoch_us(ts)) AS e1 FROM events
            WHERE event_type = 'signup' GROUP BY 1
        ), s2 AS (
            SELECT e.user_id, min(epoch_us(e.ts)) AS e2
            FROM events e JOIN s1 USING (user_id)
            WHERE e.event_type = 'view'
              AND epoch_us(e.ts) > s1.e1
              AND epoch_us(e.ts) - s1.e1 <= {_STEP_US}
            GROUP BY 1
        ), s3 AS (
            SELECT e.user_id, min(epoch_us(e.ts)) AS e3
            FROM events e JOIN s2 USING (user_id)
            WHERE e.event_type = 'purchase'
              AND epoch_us(e.ts) > s2.e2
              AND epoch_us(e.ts) - s2.e2 <= {_STEP_US}
            GROUP BY 1
        )
        SELECT (SELECT count(*) FROM s1) AS n_step1,
               (SELECT count(*) FROM s2) AS n_step2,
               (SELECT count(*) FROM s3) AS n_step3
"""


QUERIES = {
    "funnel_steps": q_funnel_steps,
    "sessionize": q_sessionize,
    "balance_classify": q_balance_classify,
    "lead_boundary": q_lead_boundary,
    "asof_prev_signup": q_asof_prev_signup,
    "tumbling_window": q_tumbling_window,
    "column_inference": q_column_inference,
    "cohort_retention": q_cohort_retention,
    "funnel_conversion": q_funnel_conversion,
    "session_window_agg": q_session_window_agg,
    "markov_transitions": q_markov_transitions,
    "hourly_spine_ffill": q_hourly_spine_ffill,
    "time_weighted_avg": q_time_weighted_avg,
    "purchase_attribution": q_purchase_attribution,
}


def q_asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-table AS-OF JOIN: for each ``error`` event, the same user's most
    recent ``purchase`` value at-or-before it, plus the microsecond gap.

    Spark has no asof operator; the scale-correct construction is a tagged
    UNION + one per-key ordered window pass (``last(..., ignorenulls)``
    over rows-unbounded-preceding): build rows sort before probe rows at
    equal timestamps (inclusive semantics), each probe row picks up the
    running last build value — O(per-user events) per task, one shuffle,
    no per-row backward search and no range join. Ties among build rows at
    one instant are pre-reduced (max value per (user, ts)) so the result
    is deterministic.

    The oracle is DuckDB's NATIVE ``ASOF LEFT JOIN`` — an independent
    implementation of the operator, not a replay of this plan: two
    different algorithms must produce identical rows."""
    ev = _events(spark, sf_dir)
    probe = ev.where(F.col("event_type") == "error").select(
        "event_id", "user_id", "ep",
        F.lit(1).alias("is_probe"),
        F.lit(None).cast("double").alias("pval"),
    )
    build = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id", "ep")
        .agg(F.max("value").alias("pval"))
        .select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id", "ep", F.lit(0).alias("is_probe"), "pval",
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ep", "is_probe", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    lastv = F.last("pval", ignorenulls=True).over(w)
    last_ep = F.last(
        F.when(F.col("is_probe") == 0, F.col("ep")), ignorenulls=True
    ).over(w)
    return (
        probe.unionByName(build)
        .select(
            "event_id", "user_id", "is_probe", "ep",
            lastv.alias("lv"), last_ep.alias("le"),
        )
        .where(F.col("is_probe") == 1)
        .select(
            "event_id",
            "user_id",
            F.coalesce("lv", F.lit(-1.0)).alias("prev_purchase_val"),
            F.coalesce(F.col("ep") - F.col("le"), F.lit(-1)).alias("gap_us"),
        )
    )


QUERIES["asof_join_events"] = q_asof_join_events


ORACLES["session_window_agg"] = f"""
    WITH o AS (
        SELECT user_id, ts AS t,
               round(value * 100)::BIGINT AS c,
               CASE WHEN epoch_us(ts)
                         - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                   ORDER BY ts, event_id)
                        > {SESSION_GAP_SECONDS} * 1000000
                     OR lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)
                        IS NULL
                    THEN 1 ELSE 0 END AS is_new,
               event_id
        FROM events
    ), s AS (
        SELECT user_id, t, c,
               sum(is_new) OVER (PARTITION BY user_id ORDER BY t, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sid
        FROM o
    )
    SELECT user_id,
           min(t)::VARCHAR AS w_start,
           (max(t) + INTERVAL {SESSION_GAP_SECONDS} SECOND)::VARCHAR
               AS w_end,
           count(*) AS n_events,
           sum(c)::BIGINT AS sum_cents
    FROM s GROUP BY user_id, sid
"""


ORACLES["markov_transitions"] = """
    WITH seq AS (
        SELECT lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id)
                   AS prev_type,
               event_type AS next_type
        FROM events
    ), pairs AS (
        SELECT prev_type, next_type, count(*) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, next_type
    ), tot AS (
        SELECT prev_type, sum(n)::BIGINT AS total FROM pairs GROUP BY 1
    )
    SELECT p.prev_type, p.next_type, p.n,
           (p.n * 1000) // t.total AS permille
    FROM pairs p JOIN tot t USING (prev_type)
"""

ORACLES["hourly_spine_ffill"] = f"""
    WITH hourly AS (
        SELECT event_type,
               {floordiv_duck('epoch_us(ts)', 3600000000)} AS hour_b,
               sum(round(value * 100)::BIGINT)::BIGINT AS cents
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT event_type, min(hour_b) AS lo, max(hour_b) AS hi
        FROM hourly GROUP BY 1
    ), spine AS (
        SELECT b.event_type, s.h AS hour_b
        FROM bounds b, LATERAL (SELECT unnest(range(b.lo, b.hi + 1)) AS h) s
    )
    SELECT s.event_type, s.hour_b,
           (CASE WHEN h.cents IS NULL THEN 1 ELSE 0 END)::BIGINT AS is_gap,
           last_value(h.cents IGNORE NULLS)
               OVER (PARTITION BY s.event_type ORDER BY s.hour_b
                     ROWS UNBOUNDED PRECEDING) AS cents_filled
    FROM spine s LEFT JOIN hourly h USING (event_type, hour_b)
"""

ORACLES["asof_join_events"] = """
    WITH probe AS (
        SELECT event_id, user_id, epoch_us(ts) AS e
        FROM events WHERE event_type = 'error'
    ), build AS (
        SELECT user_id, epoch_us(ts) AS e, max(value) AS pval
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
    )
    SELECT p.event_id, p.user_id,
           coalesce(b.pval, -1.0) AS prev_purchase_val,
           coalesce(p.e - b.e, -1) AS gap_us
    FROM probe p ASOF LEFT JOIN build b
      ON p.user_id = b.user_id AND p.e >= b.e
"""


# --- Event-time lateness audit -------------------------------------------------
# Bucket edges in microseconds: the watermark-delay decision grid.
LATE_BUCKETS = [
    (0, "on_time"),
    (60_000_000, "le_1m"),
    (600_000_000, "le_10m"),
    (3_600_000_000, "le_1h"),
    (86_400_000_000, "le_1d"),
]


def q_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time lateness audit — the measurement that picks a Structured
    Streaming ``withWatermark`` delay: per user, each event's lateness is
    how far its event time sits BEHIND the running maximum event time in
    arrival order (event_id = the ingest sequence); the global histogram
    of lateness buckets plus each bucket's worst case tells you exactly
    what fraction of events a candidate watermark would drop. An event at
    the running max (or first for its user) is on time; lateness > 0
    means a watermark shorter than it arrives too late for that event.

    Scale shape: one keyed window (user_id, ordered by ingest id) computes
    the running max — the same shuffle any per-user sessionization already
    pays — then a 6-row global histogram via map-side-combined groupBy.
    No global sort, no quantile pass: the bucket grid replaces an exact
    percentile (the SCALE.md hist_percentiles argument) and is what you
    act on anyway (watermarks are picked from a menu, not a p-value).

    The driver corpus is PERFECTLY ordered (zero inversions), so the late
    tail the audit exists to measure is synthesized the way joins.py
    synthesizes cells from part: a deterministic delay schedule keyed on
    event_id shifts a subset of event times backward relative to arrival
    order — 1-in-7 by up to 88 s, 1-in-31 by 50 min–4.2 h, 1-in-101 by
    ~28 h — mirrored branch-for-branch in the oracle.

    Output: bucket, label, cnt, max_late_us."""
    ev = _events(spark, sf_dir)
    delay = (
        F.when(
            F.col("event_id") % 7 == 0,
            (F.col("event_id") % 89) * 1_000_000,
        )
        .when(
            F.col("event_id") % 31 == 0,
            (F.col("event_id") % 5 + 1) * F.lit(3_000_000_000),
        )
        .when(F.col("event_id") % 101 == 0, F.lit(100_000_000_000))
        .otherwise(F.lit(0))
    )
    ev = ev.withColumn("evt", F.col("ep") - delay)
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    late = F.greatest(
        F.coalesce(F.max("evt").over(w) - F.col("evt"), F.lit(0)), F.lit(0)
    )
    bucket = F.lit(len(LATE_BUCKETS))
    label = F.lit("gt_1d")
    for i, (edge, name) in reversed(list(enumerate(LATE_BUCKETS))):
        bucket = F.when(F.col("late_us") <= edge, F.lit(i)).otherwise(bucket)
        label = F.when(F.col("late_us") <= edge, F.lit(name)).otherwise(label)
    return (
        ev.select(late.alias("late_us"))
        .select(
            bucket.cast("long").alias("bucket"),
            label.alias("label"),
            "late_us",
        )
        .groupBy("bucket", "label")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("late_us").alias("max_late_us"),
        )
    )


QUERIES["lateness_audit"] = q_lateness_audit

ORACLES["lateness_audit"] = """
    WITH e AS (
        SELECT user_id, event_id,
               epoch_us(ts) - CASE
                   WHEN event_id % 7 = 0 THEN (event_id % 89) * 1000000
                   WHEN event_id % 31 = 0
                       THEN (event_id % 5 + 1) * 3000000000
                   WHEN event_id % 101 = 0 THEN 100000000000
                   ELSE 0 END AS evt
        FROM events
    ), d AS (
        SELECT greatest(coalesce(
                   max(evt) OVER (
                       PARTITION BY user_id ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) - evt, 0), 0) AS late_us
        FROM e
    ), b AS (
        SELECT late_us,
               CASE WHEN late_us <= 0 THEN 0
                    WHEN late_us <= 60000000 THEN 1
                    WHEN late_us <= 600000000 THEN 2
                    WHEN late_us <= 3600000000 THEN 3
                    WHEN late_us <= 86400000000 THEN 4
                    ELSE 5 END AS bucket,
               CASE WHEN late_us <= 0 THEN 'on_time'
                    WHEN late_us <= 60000000 THEN 'le_1m'
                    WHEN late_us <= 600000000 THEN 'le_10m'
                    WHEN late_us <= 3600000000 THEN 'le_1h'
                    WHEN late_us <= 86400000000 THEN 'le_1d'
                    ELSE 'gt_1d' END AS label
        FROM d
    )
    SELECT bucket::BIGINT AS bucket, label, count(*)::BIGINT AS cnt,
           max(late_us)::BIGINT AS max_late_us
    FROM b GROUP BY bucket, label
"""


# --- Session-depth histogram (bounce rate) ---------------------------------------
DEPTH_BUCKETS = ((1, "bounce"), (2, "d2"), (5, "d3_5"), (10, "d6_10"))


def q_session_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-depth histogram + bounce rate: sessions cut with the W8
    gap rule (the sessionize windows), each session's event count bucketed
    (bounce / 2 / 3-5 / 6-10 / 11+), and every bucket's share of all
    sessions in integer permille — the engagement-shape card (a corpus of
    bounces trains nothing; a corpus of 11+ marathons skews long-context
    sampling). Same two keyed windows sessionize already pays, one extra
    map-side-combined groupBy pair. Output: bucket, label, n_sessions,
    permille."""
    ev = _events(spark, sf_dir)
    w = _user_order()
    gap = F.col("ep") - F.lag("ep").over(w)
    sessions = (
        ev.withColumn(
            "is_new",
            F.when(
                gap.isNull() | (gap > SESSION_GAP_SECONDS * 1_000_000), 1
            ).otherwise(0),
        )
        .withColumn(
            "session_id",
            F.sum("is_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("depth"))
    )
    bucket = F.lit(len(DEPTH_BUCKETS))
    label = F.lit("d11_plus")
    for i, (edge, name) in reversed(list(enumerate(DEPTH_BUCKETS))):
        bucket = F.when(F.col("depth") <= edge, F.lit(i)).otherwise(bucket)
        label = F.when(F.col("depth") <= edge, F.lit(name)).otherwise(label)
    counts = (
        sessions.select(
            bucket.cast("long").alias("bucket"), label.alias("label")
        )
        .groupBy("bucket", "label")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    total = counts.agg(F.sum("n_sessions").alias("total"))
    return counts.crossJoin(F.broadcast(total)).select(
        "bucket",
        "label",
        "n_sessions",
        F.expr("n_sessions * 1000 div total").alias("permille"),
    )


QUERIES["session_depth_histogram"] = q_session_depth_histogram

ORACLES["session_depth_histogram"] = f"""
    WITH s AS (
        SELECT user_id, epoch_us(ts) AS ep, event_id,
               CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                     OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                        > {SESSION_GAP_SECONDS * 1_000_000}
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ), sid AS (
        SELECT user_id,
               sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY ep, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS session_id
        FROM s
    ), depths AS (
        SELECT user_id, session_id, count(*)::BIGINT AS depth
        FROM sid GROUP BY 1, 2
    ), b AS (
        SELECT CASE WHEN depth <= 1 THEN 0 WHEN depth <= 2 THEN 1
                    WHEN depth <= 5 THEN 2 WHEN depth <= 10 THEN 3
                    ELSE 4 END AS bucket,
               CASE WHEN depth <= 1 THEN 'bounce' WHEN depth <= 2 THEN 'd2'
                    WHEN depth <= 5 THEN 'd3_5' WHEN depth <= 10
                    THEN 'd6_10' ELSE 'd11_plus' END AS label
        FROM depths
    ), counts AS (
        SELECT bucket::BIGINT AS bucket, label,
               count(*)::BIGINT AS n_sessions
        FROM b GROUP BY 1, 2
    )
    SELECT bucket, label, n_sessions,
           n_sessions * 1000 // (SELECT sum(n_sessions)::BIGINT FROM counts)
               AS permille
    FROM counts
"""


# --- Position-based multi-touch attribution ----------------------------------------
ATTRIB_WINDOW_US = 86_400_000_000  # touches within 24h before the purchase


def q_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: every view/click
    within 24h before a user's next purchase shares that purchase's 1000
    permille of credit — 400 to the first touch, 400 to the last, the
    middle 200 split across interior touches by largest remainder (ties
    to earlier positions), so each purchase's credit sums EXACTLY to 1000
    (the budget_apportion arithmetic inside a window group). Single-touch
    journeys take 1000; two-touch split 500/500. The rollup answers the
    channel question: which touch type actually earns credit, vs the
    last-touch-only view purchase_attribution gives.

    Scale shape: the touch->purchase assignment is one per-user window
    (min of following purchase times — no purchase x event join at all),
    the position rank one more window over the touch group, and the
    readout a map-side-combined groupBy. Output: touch_type, n_touches,
    permille_total, n_journeys."""
    ev = _events(spark, sf_dir)
    w = _user_order()
    next_p = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ep"))
    ).over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    touches = (
        ev.withColumn("next_p", next_p)
        .where(
            F.col("event_type").isin("view", "click")
            & F.col("next_p").isNotNull()
            & (F.col("next_p") - F.col("ep") <= ATTRIB_WINDOW_US)
        )
        .select("user_id", "event_id", "ep", "event_type", "next_p")
    )
    g = Window.partitionBy("user_id", "next_p")
    wg = g.orderBy("ep", "event_id")
    ranked = touches.withColumn(
        "rk", F.row_number().over(wg).cast("long")
    ).withColumn("k", F.count(F.lit(1)).over(g).cast("long"))
    weight = F.expr(
        "CASE WHEN k = 1 THEN 1000"
        " WHEN k = 2 THEN 500"
        " WHEN rk = 1 THEN 400"
        " WHEN rk = k THEN 400"
        " ELSE 200 div (k - 2)"
        "      + (CASE WHEN rk - 1 <= 200 % (k - 2) THEN 1 ELSE 0 END)"
        " END"
    )
    return (
        ranked.select(
            F.col("event_type").alias("touch_type"),
            weight.alias("w"),
            F.concat_ws(
                ":", F.col("user_id").cast("string"),
                F.col("next_p").cast("string")
            ).alias("journey"),
        )
        .groupBy("touch_type")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum("w").alias("permille_total"),
            F.countDistinct("journey").alias("n_journeys"),
        )
    )


QUERIES["position_attribution"] = q_position_attribution

ORACLES["position_attribution"] = f"""
    WITH e AS (
        SELECT user_id, event_id, event_type, epoch_us(ts) AS ep,
               min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
                   AS next_p
        FROM events
    ), touches AS (
        SELECT * FROM e
        WHERE event_type IN ('view', 'click') AND next_p IS NOT NULL
          AND next_p - ep <= {ATTRIB_WINDOW_US}
    ), ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY user_id, next_p
                                  ORDER BY ep, event_id)::BIGINT AS rk,
               count(*) OVER (PARTITION BY user_id, next_p)::BIGINT AS k
        FROM touches
    ), weighted AS (
        SELECT event_type AS touch_type,
               user_id::VARCHAR || ':' || next_p::VARCHAR AS journey,
               CASE WHEN k = 1 THEN 1000
                    WHEN k = 2 THEN 500
                    WHEN rk = 1 THEN 400
                    WHEN rk = k THEN 400
                    ELSE 200 // (k - 2)
                         + (CASE WHEN rk - 1 <= 200 % (k - 2)
                                 THEN 1 ELSE 0 END)
               END AS w
        FROM ranked
    )
    SELECT touch_type, count(*)::BIGINT AS n_touches,
           sum(w)::BIGINT AS permille_total,
           count(DISTINCT journey)::BIGINT AS n_journeys
    FROM weighted GROUP BY touch_type
"""


# --- Survival life table (time-to-conversion) ----------------------------------------


def q_survival_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-event life table — the integer-exact half of a
    Kaplan-Meier analysis (the KM product itself is a float ratio chain;
    what distributes and oracle-checks is the LIFE TABLE it is computed
    from): per whole day since each user's first signup, how many users
    were still at risk, how many converted (first purchase at or after
    the signup), and how many were right-censored by the corpus horizon
    without converting. Churn/activation analyses read this table
    directly; any stats package turns it into the KM curve.

    Scale shape: one per-user aggregate for the signup epoch, one
    filtered join+aggregate for the first qualifying purchase, a 1-row
    broadcast horizon, and the at-risk countdown as a cumulative window
    over the CALENDAR-bounded day grid (tens of rows — the cusum/rate
    argument). Output: d, n_at_risk, n_conv, n_cens."""
    ev = _events(spark, sf_dir)
    su = (
        ev.groupBy("user_id")
        .agg(
            F.min(
                F.when(F.col("event_type") == "signup", F.col("ep"))
            ).alias("s")
        )
        .where(F.col("s").isNotNull())
    )
    pu = (
        ev.where(F.col("event_type") == "purchase")
        .select("user_id", "ep")
        .join(su, "user_id")
        .where(F.col("ep") >= F.col("s"))
        .groupBy("user_id")
        .agg(F.min("ep").alias("p"))
    )
    horizon = ev.agg(F.max("ep").alias("h"))
    per_user = (
        su.join(pu, "user_id", "left")
        .crossJoin(F.broadcast(horizon))
        .select(
            F.expr("(coalesce(p, h) - s) div 86400000000").alias("d"),
            F.col("p").isNotNull().cast("long").alias("event"),
        )
    )
    grid = per_user.groupBy("d").agg(
        F.sum("event").alias("n_conv"),
        F.sum(1 - F.col("event")).alias("n_cens"),
    )
    total = grid.agg(F.sum(F.col("n_conv") + F.col("n_cens")).alias("tot"))
    w = (
        Window.orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        grid.crossJoin(F.broadcast(total))
        .withColumn(
            "n_at_risk",
            F.col("tot")
            - F.coalesce(
                F.sum(F.col("n_conv") + F.col("n_cens")).over(w), F.lit(0)
            ),
        )
        .select("d", "n_at_risk", "n_conv", "n_cens")
    )


QUERIES["survival_table"] = q_survival_table

ORACLES["survival_table"] = """
    WITH su AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'signup'
                        THEN epoch_us(ts) END) AS s
        FROM events GROUP BY user_id
        HAVING s IS NOT NULL
    ), pu AS (
        SELECT e.user_id, min(epoch_us(e.ts)) AS p
        FROM events e JOIN su ON e.user_id = su.user_id
        WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.s
        GROUP BY e.user_id
    ), h AS (
        SELECT max(epoch_us(ts)) AS h FROM events
    ), per_user AS (
        SELECT (coalesce(p, h.h) - s) // 86400000000 AS d,
               (p IS NOT NULL)::BIGINT AS event
        FROM su LEFT JOIN pu ON su.user_id = pu.user_id, h
    ), grid AS (
        SELECT d, sum(event)::BIGINT AS n_conv,
               sum(1 - event)::BIGINT AS n_cens
        FROM per_user GROUP BY d
    )
    SELECT d,
           ((SELECT sum(n_conv + n_cens)::BIGINT FROM grid)
            - coalesce(sum(n_conv + n_cens) OVER (
                  ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                  AND 1 PRECEDING), 0))::BIGINT AS n_at_risk,
           n_conv, n_cens
    FROM grid
"""
