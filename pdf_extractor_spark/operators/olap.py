"""Classic OLAP surface: pivot, rollup hierarchy, per-group ntile, and
time-range rolling windows — the relational constructs an analytics-engine
user reaches for daily, each in its scale-safe Spark form with an exact
DuckDB twin.

Scale notes (the 100 TB shapes):

- PIVOT: the output-column domain is an EXPLICIT bounded list (7 weekday
  slots). ``pivot(col)`` without values triggers an eager distinct scan at
  plan time and produces unbounded-width rows — never acceptable on a
  petabyte fact table. With the list, this is one hash groupBy.
- ROLLUP: Spark expands rollup levels inside one aggregate (Expand +
  partial agg) — no extra scans per level; output cardinality is the sum
  of the level cardinalities (tiny here: region x nation).
- NTILE: partitioned by user_id (unbounded key domain -> parallel), never
  a global ORDER BY window, which would funnel the corpus through one
  task (the vocab_top_ngrams lesson). A per-user partition is bounded by
  that user's event count.
- RANGE window: frame bounds are on the numeric epoch-micros axis; each
  user's partition sorts locally after one keyed shuffle. Equal-ep peers
  are included by RANGE semantics on both engines, so ties need no
  arbitrary break.

All money is integer cents (the rollup_two_level idiom); week/day
arithmetic uses the floordiv pair so pre-epoch timestamps bucket
identically on both engines.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.expressions import floordiv_duck, floordiv_sql

_DAY_US = 86_400_000_000
_WEEK_US = 7 * _DAY_US
# 1970-01-01 was a Thursday; +3 makes Monday slot 0
_WD_SHIFT = 3
_CENTS = "round(value * 100)"


def _ev(spark, sf_dir):
    from . import load
    from .aggregates import _with_ep

    return _with_ep(load(spark, sf_dir, "events"))


def q_pivot_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event counts pivoted to a (event_type x weekday) matrix — one row
    per event type, one column per weekday slot (wd0 = Monday). The
    explicit 0..6 value list keeps the plan free of the inference scan."""
    ev = _ev(spark, sf_dir)
    wd = F.expr(
        f"pmod({floordiv_sql('ep', _DAY_US)} + {_WD_SHIFT}, 7)"
    ).cast("int")
    pivoted = (
        ev.select("event_type", wd.alias("wd"))
        .groupBy("event_type")
        .pivot("wd", list(range(7)))
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "event_type",
        *[
            F.coalesce(F.col(str(d)), F.lit(0)).cast("long").alias(f"wd{d}_n")
            for d in range(7)
        ],
    )


def q_rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer-count / account-balance hierarchy over region -> nation
    with subtotals and a grand total (ROLLUP), levels tagged by the
    standard grouping bitmask. Dimensions broadcast onto customer; the
    rollup itself is ONE aggregate (Spark expands levels map-side)."""
    from . import load

    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    joined = cust.join(
        F.broadcast(nat), cust.c_nationkey == nat.n_nationkey
    ).join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count("*").alias("n_cust"),
            F.sum(F.expr("round(c_acctbal * 100)").cast("long")).alias(
                "acctbal_cents"
            ),
        )
        .select("r_name", "n_name", "gid", "n_cust", "acctbal_cents")
    )


def q_user_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each user's events split into value quartiles (ntile(4) under a
    per-user window over a TOTAL order: cents, then event_id), rolled up
    to per-(user, quartile) count and exact cents sum."""
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("c", "event_id")
    return (
        ev.select(
            "user_id", "event_id", F.expr(_CENTS).cast("long").alias("c")
        )
        .withColumn("q", F.ntile(4).over(w))
        .groupBy("user_id", "q")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("c").alias("sum_cents"),
        )
    )


def q_rolling_week_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event: the user's trailing-7-day event count and cents sum —
    a RANGE frame on the numeric epoch-micros axis (bounds are values,
    not row counts, so sparse activity windows are correct), partitioned
    by user."""
    ev = _ev(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ep")
        .rangeBetween(-_WEEK_US, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("rolling_n"),
        F.sum(F.expr(_CENTS).cast("long")).over(w).alias("rolling_cents"),
    )


def q_unpivot_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): the weekday matrix back to long form — the inverse
    half of the pivot pair every reshaping workload needs. Same bounded
    column list; the melt is a per-row Expand (no shuffle beyond the
    pivot's own aggregate)."""
    wide = q_pivot_weekday(spark, sf_dir)
    return wide.unpivot(
        ids=["event_type"],
        values=[f"wd{d}_n" for d in range(7)],
        variableColumnName="wd",
        valueColumnName="n_events",
    )


def q_grouping_sets_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with a CUSTOM set list — (event_type), (weekday), and
    the grand total, but NOT the cross cells (that asymmetry is what
    distinguishes it from CUBE/ROLLUP). One aggregate over an Expand;
    expressed via spark.sql to exercise the SQL surface of the engine."""
    ev = _ev(spark, sf_dir)
    wd = F.expr(
        f"pmod({floordiv_sql('ep', _DAY_US)} + {_WD_SHIFT}, 7)"
    ).cast("long")
    slim = ev.select("event_type", wd.alias("wd"))
    # DataFrame substitution, not a temp view: no session-global name to
    # race between concurrent invocations
    # wd nulls (the non-wd sets) become a -1 sentinel: a NULL-able integer
    # column round-trips through pandas as float64 and breaks the exact
    # hash compare; gid already identifies the level, so this is lossless
    return spark.sql(
        """
        SELECT event_type,
               coalesce(wd, cast(-1 AS bigint)) AS wd,
               cast(grouping_id(event_type, wd) AS bigint) AS gid,
               count(*) AS n_events
        FROM {src}
        GROUP BY event_type, wd GROUPING SETS ((event_type), (wd), ())
        """,
        src=slim,
    )


def q_cube_type_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, weekday): all four grouping levels including
    the cross cells — completing the pivot/ROLLUP/GROUPING SETS family.
    Same single-aggregate Expand shape as ROLLUP; wd nulls carry the -1
    sentinel (pandas float64 coercion, see grouping sets)."""
    ev = _ev(spark, sf_dir)
    wd = F.expr(
        f"pmod({floordiv_sql('ep', _DAY_US)} + {_WD_SHIFT}, 7)"
    ).cast("long")
    return (
        ev.select("event_type", wd.alias("wd"))
        .cube("event_type", "wd")
        .agg(
            F.grouping_id().cast("long").alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            F.coalesce(F.col("wd"), F.lit(-1)).cast("long").alias("wd"),
            "gid",
            "n_events",
        )
    )


OUTLIER_Z = 3  # flag beyond 3 sigma


def q_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outlier counts — EXACT integer arithmetic:
    |x - mean| > 3*sigma is evaluated as (x*n - s)^2 > 9*(n*ssq - s^2)
    (cross-multiplied through by n^2), so no float mean/variance ever
    exists to diverge between engines. Two passes over the fact table
    (per-group moments, then the flag), both map-side-combined hash
    aggregates; the moments side is one row per type and broadcasts.

    Overflow headroom: cents <= 4*10^3+, n per type ~ corpus/5; the
    squared term stays under 2^63 up to ~10^8 rows per group — beyond
    that, promote the arithmetic to decimal(38,0) (the pricing_summary
    idiom)."""
    ev = _ev(spark, sf_dir)
    cents = F.expr(_CENTS).cast("long")
    pts = ev.select("event_type", "event_id", cents.alias("c"))
    moments = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c").alias("s"),
        F.sum(F.col("c") * F.col("c")).alias("ssq"),
    )
    joined = pts.join(F.broadcast(moments), "event_type")
    dev2 = (F.col("c") * F.col("n") - F.col("s")) * (
        F.col("c") * F.col("n") - F.col("s")
    )
    var_n2 = F.col("n") * F.col("ssq") - F.col("s") * F.col("s")
    is_out = (dev2 > F.lit(OUTLIER_Z * OUTLIER_Z) * var_n2).cast("long")
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(is_out).alias("n_outliers"),
        # -1 sentinel for a group with no outliers: a NULL-able integer
        # column would float64-coerce through pandas on the oracle side
        F.coalesce(
            F.max(F.when(is_out == 1, F.col("c"))), F.lit(-1)
        ).cast("long").alias("max_outlier_cents"),
    )


_EP = "epoch_us(ts)"
_WD = f"((({floordiv_duck(_EP, _DAY_US)} + {_WD_SHIFT}) % 7 + 7) % 7)"

QUERIES = {
    "pivot_weekday": q_pivot_weekday,
    "unpivot_weekday": q_unpivot_weekday,
    "grouping_sets_activity": q_grouping_sets_activity,
    "rollup_region_nation": q_rollup_region_nation,
    "user_value_quartiles": q_user_value_quartiles,
    "rolling_week_spend": q_rolling_week_spend,
    "cube_type_weekday": q_cube_type_weekday,
    "outlier_zscore": q_outlier_zscore,
}

ORACLES = {
    "unpivot_weekday": f"""
        WITH wide AS (
            SELECT event_type,
                   {", ".join(
                       f"sum(CASE WHEN {_WD} = {d} THEN 1 ELSE 0 END)::BIGINT"
                       f" AS wd{d}_n"
                       for d in range(7)
                   )}
            FROM events
            GROUP BY event_type
        )
        SELECT event_type, wd, n_events
        FROM wide UNPIVOT (n_events FOR wd IN ({
            ", ".join(f"wd{d}_n" for d in range(7))
        }))
    """,
    "grouping_sets_activity": f"""
        SELECT event_type, coalesce({_WD}, -1)::BIGINT AS wd,
               (2 * GROUPING(event_type) + GROUPING({_WD}))::BIGINT AS gid,
               count(*) AS n_events
        FROM events
        GROUP BY GROUPING SETS ((event_type), ({_WD}), ())
    """,
    "cube_type_weekday": f"""
        SELECT event_type, coalesce({_WD}, -1)::BIGINT AS wd,
               (2 * GROUPING(event_type) + GROUPING({_WD}))::BIGINT AS gid,
               count(*) AS n_events
        FROM events
        GROUP BY CUBE (event_type, ({_WD}))
    """,
    "outlier_zscore": """
        WITH pts AS (
            SELECT event_type, event_id, round(value * 100)::BIGINT AS c
            FROM events
        ), m AS (
            SELECT event_type, count(*)::BIGINT AS n, sum(c)::BIGINT AS s,
                   sum(c * c)::BIGINT AS ssq
            FROM pts GROUP BY event_type
        )
        SELECT p.event_type,
               count(*) AS n_events,
               sum(CASE WHEN (p.c * m.n - m.s) * (p.c * m.n - m.s)
                             > 9 * (m.n * m.ssq - m.s * m.s)
                        THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
               coalesce(max(CASE WHEN (p.c * m.n - m.s) * (p.c * m.n - m.s)
                                       > 9 * (m.n * m.ssq - m.s * m.s)
                                  THEN p.c END), -1)::BIGINT
                   AS max_outlier_cents
        FROM pts p JOIN m USING (event_type)
        GROUP BY p.event_type
    """,
    "pivot_weekday": f"""
        SELECT event_type,
               {", ".join(
                   f"sum(CASE WHEN {_WD} = {d} THEN 1 ELSE 0 END)::BIGINT"
                   f" AS wd{d}_n"
                   for d in range(7)
               )}
        FROM events
        GROUP BY event_type
    """,
    "rollup_region_nation": """
        SELECT r_name, n_name,
               (2 * GROUPING(r_name) + GROUPING(n_name))::BIGINT AS gid,
               count(*) AS n_cust,
               sum(round(c_acctbal * 100)::BIGINT)::BIGINT AS acctbal_cents
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY ROLLUP(r_name, n_name)
    """,
    "user_value_quartiles": """
        WITH t AS (
            SELECT user_id, event_id, round(value * 100)::BIGINT AS c,
                   ntile(4) OVER (PARTITION BY user_id
                                  ORDER BY round(value * 100)::BIGINT,
                                           event_id) AS q
            FROM events
        )
        SELECT user_id, q, count(*) AS n_events, sum(c)::BIGINT AS sum_cents
        FROM t GROUP BY user_id, q
    """,
    "rolling_week_spend": f"""
        SELECT event_id, user_id,
               count(*) OVER w AS rolling_n,
               (sum(round(value * 100)::BIGINT) OVER w)::BIGINT
                   AS rolling_cents
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY {_EP}
                     RANGE BETWEEN {_WEEK_US} PRECEDING AND CURRENT ROW)
    """,
}


# --- RFM feature engineering ------------------------------------------------------
RFM_EPOCH = "2024-01-01"


def q_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer features (recency / frequency / monetary) with exact
    nearest-rank quartile scores: per user the days since last purchase
    (vs the corpus's latest purchase day), purchase count, and cents sum;
    each metric scored 1-4 against the corpus-wide quartile BOUNDARIES
    (value at rank ceil(k*n/4), the length_quantiles type-1 form) rather
    than a global ntile — boundaries are a 3-row broadcast, scoring is a
    pure comparison map, and only the boundary computation ranks the
    per-user frame (|users| rows, one window per metric via the melt;
    approx_percentile is the documented 10^12-row twin, exactly as in
    length_quantiles). rfm_code packs the three digits.

    Output: user_id, r_days, f_cnt, m_cents, r_q, f_q, m_q, rfm_code."""
    from . import load

    day = F.datediff(
        F.col("ts").cast("date"), F.lit(RFM_EPOCH).cast("date")
    ).cast("long")
    per_user = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.max(day).alias("last_day"),
            F.count(F.lit(1)).alias("f_cnt"),
            F.sum(F.expr(_CENTS).cast("long")).alias("m_cents"),
        )
    )
    gmax = per_user.agg(F.max("last_day").alias("gmax"))
    feats = per_user.crossJoin(F.broadcast(gmax)).select(
        "user_id",
        (F.col("gmax") - F.col("last_day")).alias("r_days"),
        "f_cnt",
        "m_cents",
    )
    melted = feats.select(
        "user_id",
        F.expr(
            "stack(3, 'r', r_days, 'f', f_cnt, 'm', m_cents)"
            " as (metric, v)"
        ),
    )
    w = Window.partitionBy("metric").orderBy("v", "user_id")
    wn = Window.partitionBy("metric")
    ranked = melted.withColumn(
        "rn", F.row_number().over(w)
    ).withColumn("n", F.count(F.lit(1)).over(wn))
    bounds = ranked.groupBy("metric").agg(
        *[
            F.max(
                F.when(
                    F.col("rn") == F.expr(f"({k} * n + 3) div 4"),
                    F.col("v"),
                )
            ).alias(f"b{k}")
            for k in (1, 2, 3)
        ]
    )
    q = (
        F.lit(1)
        + (F.col("v") > F.col("b1")).cast("long")
        + (F.col("v") > F.col("b2")).cast("long")
        + (F.col("v") > F.col("b3")).cast("long")
    )
    scored = (
        melted.join(F.broadcast(bounds), "metric")
        .select("user_id", "metric", q.alias("q"))
        .groupBy("user_id")
        .pivot("metric", ["r", "f", "m"])
        .agg(F.max("q"))
        .select(
            "user_id",
            F.col("r").alias("r_q"),
            F.col("f").alias("f_q"),
            F.col("m").alias("m_q"),
        )
    )
    return feats.join(scored, "user_id").select(
        "user_id",
        "r_days",
        "f_cnt",
        "m_cents",
        "r_q",
        "f_q",
        "m_q",
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q")).alias(
            "rfm_code"
        ),
    )


QUERIES["rfm_features"] = q_rfm_features

ORACLES["rfm_features"] = f"""
    WITH p AS (
        SELECT user_id,
               max(date_diff('day', DATE '{RFM_EPOCH}', ts::DATE))::BIGINT
                   AS last_day,
               count(*)::BIGINT AS f_cnt,
               sum(round(value * 100)::BIGINT)::BIGINT AS m_cents
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ), g AS (
        SELECT max(last_day) AS gmax FROM p
    ), f AS (
        SELECT user_id, (gmax - last_day)::BIGINT AS r_days, f_cnt, m_cents
        FROM p, g
    ), m AS (
        SELECT user_id, 'r' AS metric, r_days AS v FROM f
        UNION ALL SELECT user_id, 'f', f_cnt FROM f
        UNION ALL SELECT user_id, 'm', m_cents FROM f
    ), rk AS (
        SELECT *, row_number() OVER
                   (PARTITION BY metric ORDER BY v, user_id) AS rn,
               count(*) OVER (PARTITION BY metric) AS n
        FROM m
    ), b AS (
        SELECT metric,
               max(CASE WHEN rn = (1 * n + 3) // 4 THEN v END) AS b1,
               max(CASE WHEN rn = (2 * n + 3) // 4 THEN v END) AS b2,
               max(CASE WHEN rn = (3 * n + 3) // 4 THEN v END) AS b3
        FROM rk GROUP BY metric
    ), s AS (
        SELECT user_id, m.metric,
               1 + (v > b1)::BIGINT + (v > b2)::BIGINT + (v > b3)::BIGINT
                   AS q
        FROM m JOIN b ON m.metric = b.metric
    ), piv AS (
        SELECT user_id,
               max(CASE WHEN metric = 'r' THEN q END)::BIGINT AS r_q,
               max(CASE WHEN metric = 'f' THEN q END)::BIGINT AS f_q,
               max(CASE WHEN metric = 'm' THEN q END)::BIGINT AS m_q
        FROM s GROUP BY user_id
    )
    SELECT f.user_id, r_days, f_cnt, m_cents, r_q, f_q, m_q,
           (r_q * 100 + f_q * 10 + m_q)::BIGINT AS rfm_code
    FROM f JOIN piv ON f.user_id = piv.user_id
"""


# --- Hour-of-week seasonality profile ------------------------------------------------
def q_seasonality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonality: per event type, the count in each of the
    168 (dow, hour) cells and its permille share of the type's total —
    the load-shape card capacity planning and anomaly baselines read
    (a spike detector without the weekly shape fires every Monday
    morning). dow is ISO (1 = Monday), hour is 0-23, both computed from
    the NTZ timestamp so no session timezone is consulted.

    Scale shape: one map-side-combined groupBy to a bounded 168 x
    |types| cell grid; type totals re-aggregate FROM the cells (never a
    second corpus scan) and broadcast back on the type key.

    Output: event_type, dow, hour, n, permille."""
    from . import load

    ev = load(spark, sf_dir, "events")
    cells = (
        ev.select(
            "event_type",
            F.dayofweek(F.col("ts").cast("date")).alias("dow_sun1"),
            F.hour(F.col("ts").cast("timestamp_ntz")).alias("hour"),
        )
        .select(
            "event_type",
            # dayofweek is 1=Sunday; convert to ISO 1=Monday..7=Sunday
            F.expr("((dow_sun1 + 5) % 7) + 1").cast("long").alias("dow"),
            F.col("hour").cast("long").alias("hour"),
        )
        .groupBy("event_type", "dow", "hour")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    totals = cells.groupBy("event_type").agg(F.sum("n").alias("total"))
    return cells.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "dow",
        "hour",
        "n",
        F.expr("n * 1000 div total").alias("permille"),
    )


QUERIES["seasonality_profile"] = q_seasonality_profile

ORACLES["seasonality_profile"] = """
    WITH cells AS (
        SELECT event_type, isodow(ts)::BIGINT AS dow,
               extract(hour FROM ts)::BIGINT AS hour,
               count(*)::BIGINT AS n
        FROM events GROUP BY 1, 2, 3
    ), totals AS (
        SELECT event_type, sum(n)::BIGINT AS total
        FROM cells GROUP BY event_type
    )
    SELECT c.event_type, dow, hour, n, n * 1000 // total AS permille
    FROM cells c JOIN totals t ON c.event_type = t.event_type
"""


# --- Largest-remainder budget apportionment -------------------------------------------
APPORTION_BUDGET = 1000


def q_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-budget apportionment (Hamilton / largest-remainder): split
    a fixed budget of APPORTION_BUDGET selections across sources
    proportional to their content mass (summed n_chars), integer-exactly:
    every source gets floor(B * w / W), and the leftover seats go to the
    largest fractional remainders (B*w mod W, ties by source) — the rule
    that makes per-source sampling quotas sum EXACTLY to the budget with
    no floating-point apportionment drift. The same op allocates crawl
    budgets per host and shard counts per partition.

    Scale shape: one map-side-combined groupBy to a source-level frame
    (catalog-bounded, tens of rows), totals broadcast back, and the
    remainder rank is a window over that catalog frame — never over the
    corpus. Output: source, w, base_quota, extra, quota."""
    from . import load

    w_src = (
        load(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").alias("w"))
    )
    tot = w_src.agg(F.sum("w").alias("wtot"))
    d = w_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "w",
        F.expr(f"({APPORTION_BUDGET} * w) div wtot").alias("base_quota"),
        F.expr(f"({APPORTION_BUDGET} * w) % wtot").alias("rem"),
    )
    leftover = d.agg(
        (F.lit(APPORTION_BUDGET) - F.sum("base_quota")).alias("r")
    )
    win = Window.orderBy(F.desc("rem"), F.asc("source"))
    return (
        d.withColumn("rk", F.row_number().over(win))
        .crossJoin(F.broadcast(leftover))
        .select(
            "source",
            "w",
            "base_quota",
            (F.col("rk") <= F.col("r")).cast("long").alias("extra"),
            (
                F.col("base_quota")
                + (F.col("rk") <= F.col("r")).cast("long")
            ).alias("quota"),
        )
    )


QUERIES["budget_apportion"] = q_budget_apportion

ORACLES["budget_apportion"] = f"""
    WITH w_src AS (
        SELECT source, sum(n_chars)::BIGINT AS w
        FROM documents GROUP BY source
    ), tot AS (
        SELECT sum(w)::BIGINT AS wtot FROM w_src
    ), d AS (
        SELECT source, w,
               ({APPORTION_BUDGET} * w) // wtot AS base_quota,
               ({APPORTION_BUDGET} * w) % wtot AS rem
        FROM w_src, tot
    ), lo AS (
        SELECT {APPORTION_BUDGET} - sum(base_quota)::BIGINT AS r FROM d
    ), rk AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rnk
        FROM d
    )
    SELECT source, w, base_quota,
           (rnk <= r)::BIGINT AS extra,
           base_quota + (rnk <= r)::BIGINT AS quota
    FROM rk, lo
"""


# --- Daily value bands (p50/p90 time series) -------------------------------------------
def q_daily_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily value bands: exact nearest-rank p50/p90 of cents
    within every (event_type, day) cell plus min/max — the time-series
    band chart every ops dashboard draws. Nearest-rank (type-1) integer
    percentiles, so both engines agree exactly (the length_quantiles
    contract applied to a two-key partition).

    Scale shape: the rank windows partition on (type, day) — thousands
    of independent cells, each calendar-bounded in rows — so parallelism
    grows with the grid, and no cell ever sorts outside its partition;
    approx_percentile is the documented swap at extreme per-cell volume.
    Output: event_type, day, n, p50_cents, p90_cents, min_cents,
    max_cents."""
    from pyspark.sql import Window
    from . import load

    day = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("long")
    d = load(spark, sf_dir, "events").select(
        "event_type",
        day.alias("day"),
        F.expr(_CENTS).cast("long").alias("c"),
        "event_id",
    )
    w = Window.partitionBy("event_type", "day").orderBy("c", "event_id")
    wn = Window.partitionBy("event_type", "day")
    r = d.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    return r.groupBy("event_type", "day").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(F.col("rn") == F.expr("(n * 50 + 99) div 100"), F.col("c"))
        ).alias("p50_cents"),
        F.max(
            F.when(F.col("rn") == F.expr("(n * 90 + 99) div 100"), F.col("c"))
        ).alias("p90_cents"),
        F.min("c").alias("min_cents"),
        F.max("c").alias("max_cents"),
    )


QUERIES["daily_value_bands"] = q_daily_value_bands

ORACLES["daily_value_bands"] = """
    WITH d AS (
        SELECT event_type,
               date_diff('day', DATE '2024-01-01', ts::DATE)::BIGINT AS day,
               round(value * 100)::BIGINT AS c, event_id
        FROM events
    ), r AS (
        SELECT *,
               row_number() OVER (PARTITION BY event_type, day
                                  ORDER BY c, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type, day) AS n
        FROM d
    )
    SELECT event_type, day, max(n)::BIGINT AS n,
           max(CASE WHEN rn = (n * 50 + 99) // 100 THEN c END)::BIGINT
               AS p50_cents,
           max(CASE WHEN rn = (n * 90 + 99) // 100 THEN c END)::BIGINT
               AS p90_cents,
           min(c)::BIGINT AS min_cents, max(c)::BIGINT AS max_cents
    FROM r GROUP BY event_type, day
"""
