"""Aggregation + join operators: ordered concat (A1), validation cost (A3),
status rollup (A4), priority merge (J5), and the TPC-H-shaped analytics
queries that anchor the benchmark (pricing summary, revenue by nation).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import MARKDOWN_SECTION_SEPARATOR
from ..functions.expressions import floordiv_duck, floordiv_sql, top_k


def q_status_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: per-user event counts with priority-max overall status
    (error > purchase > ok), mirroring problems_fixed > warnings > passed."""
    from . import load

    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("n_error"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("n_purchase"),
    )
    return agg.select(
        "user_id", "n_events", "n_error", "n_purchase",
        F.when(F.col("n_error") > 0, F.lit("error"))
        .when(F.col("n_purchase") > 0, F.lit("purchase"))
        .otherwise(F.lit("ok"))
        .alias("overall_status"),
    )


def q_status_breakdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 breakdown map (reference default_handler.py:199-238): per-user
    status -> count for statuses actually seen. Built as map_from_entries in
    the pipeline's validation_report; HERE rendered as a canonical sorted
    "status:count" string because map key order is engine-dependent and the
    driver hashes exact values — same information, deterministic bytes."""
    from . import load

    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    entries = F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
    return counts.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                entries,
                lambda s: F.concat_ws(":", s["event_type"], s["cnt"].cast("string")),
            ),
            ",",
        ).alias("breakdown"),
        F.count("*").alias("n_statuses"),
    )


def q_ordered_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-group ordered concat with the reference separator — the stable
    -ordering requirement: sort_array(collect_list(struct)) before joining,
    never shuffle order."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    part = F.substring("text", 1, 30)
    return (
        docs.select("lang", F.struct(F.col("doc_id"), part.alias("part")).alias("s"))
        .groupBy("lang")
        .agg(
            F.array_join(
                F.transform(F.sort_array(F.collect_list("s")), lambda x: x["part"]),
                MARKDOWN_SECTION_SEPARATOR,
            ).alias("combined"),
            F.count("*").alias("n_docs"),
        )
    )


def q_validation_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: validation-report cost model (500 tokens/page at $0.01/1k) with
    pages estimated from character counts."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    pages = F.ceil(F.col("n_chars") / 1000.0)
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(pages).alias("total_pages"),
        F.round(F.sum(pages) * 0.005, 6).alias("estimated_cost"),
    )


def q_priority_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: per-user full-outer merge of two sources with priority coalesce
    (click stats win, view stats are the fallback)."""
    from . import load

    ev = load(spark, sf_dir, "events")
    # decimal-sum / count instead of avg(double): engine-independent result
    dec_avg = F.round(
        (F.sum(F.col("value").cast("decimal(18,6)")) / F.count("*")).cast("double"), 6
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(dec_avg.alias("click_avg"))
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(dec_avg.alias("view_avg"))
    )
    merged = clicks.join(views, "user_id", "full_outer")
    return merged.select(
        "user_id",
        F.coalesce("click_avg", "view_avg").alias("merged_avg"),
        F.when(F.col("click_avg").isNotNull(), F.lit("click"))
        .otherwise(F.lit("view"))
        .alias("chosen_source"),
    )


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem — the scan+agg anchor
    query for the benchmark (pure columnar agg, map-side partial combine).

    Exact-arithmetic output shape (round-2 hash fix): the source doubles are
    2-decimal money values, so every row converts losslessly to integer cents
    / percent units; products and sums are then exact integers in BOTH
    engines (no double->decimal cast drift, which made sum_charge diverge by
    0.01 at sf0.01 in round 1). Wide sums ride decimal(38,0) (per-row
    charge_u6 peaks ~1.1e11, so bigint sums would overflow near 1e8 rows —
    decimal keeps the same plan exact at 100 TB); averages are micro-unit
    integer divisions (DIV), identical in Spark and DuckDB for positives."""
    from . import load

    li = load(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("long")
    ep_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_pct = F.round(F.col("l_discount") * 100).cast("long")
    tax_pct = F.round(F.col("l_tax") * 100).cast("long")
    disc_u4 = (ep_c * (100 - disc_pct)).cast("decimal(38,0)")
    charge_u6 = (ep_c * (100 - disc_pct) * (100 + tax_pct)).cast("decimal(38,0)")
    agg = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.sum(ep_c).alias("sum_base_price_cents"),
            F.sum(disc_u4).cast("decimal(38,0)").alias("_disc_u4"),
            F.sum(charge_u6).cast("decimal(38,0)").alias("_charge_u6"),
            F.sum(disc_pct).alias("_disc_pct_sum"),
            F.count("*").alias("count_order"),
        )
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price_cents",
        F.col("_disc_u4").cast("string").alias("sum_disc_price_u4"),
        F.col("_charge_u6").cast("string").alias("sum_charge_u6"),
        F.expr("sum_qty * 1000000 DIV count_order").alias("avg_qty_micro"),
        F.expr("_disc_pct_sum * 10000 DIV count_order").alias("avg_disc_micro"),
        "count_order",
    )


def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: lineitem |X| orders |X| customer |X| nation with the dims
    broadcast — revenue per nation. The join anchor for the benchmark."""
    from . import load

    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(revenue), 2).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


ORACLES = {
    "status_rollup": """
        WITH agg AS (
            SELECT user_id, count(*) AS n_events,
                   -- ::BIGINT: DuckDB integer sum() is HUGEINT, which lands in
                   -- pandas as float64 and fails the driver's exact hash
                   sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error,
                   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase
            FROM events GROUP BY user_id
        )
        SELECT user_id, n_events, n_error, n_purchase,
               CASE WHEN n_error > 0 THEN 'error'
                    WHEN n_purchase > 0 THEN 'purchase'
                    ELSE 'ok' END AS overall_status
        FROM agg
    """,
    "status_breakdown": """
        WITH counts AS (
            SELECT user_id, event_type, count(*) AS cnt
            FROM events GROUP BY user_id, event_type
        )
        SELECT user_id,
               string_agg(event_type || ':' || cnt, ',' ORDER BY event_type, cnt)
                   AS breakdown,
               count(*) AS n_statuses
        FROM counts GROUP BY user_id
    """,
    "ordered_concat": """
        SELECT lang,
               string_agg(substr(text, 1, 30),
                          chr(10) || chr(10) || '---' || chr(10) || chr(10)
                          ORDER BY doc_id) AS combined,
               count(*) AS n_docs
        FROM documents GROUP BY lang
    """,
    "validation_cost": """
        SELECT lang, count(*) AS n_docs,
               sum(ceil(n_chars / 1000.0))::BIGINT AS total_pages,
               round(sum(ceil(n_chars / 1000.0)) * 0.005, 6) AS estimated_cost
        FROM documents GROUP BY lang
    """,
    "priority_merge": """
        WITH clicks AS (
            SELECT user_id,
                   round((sum(value::DECIMAL(18,6)) / count(*))::DOUBLE, 6) AS click_avg
            FROM events WHERE event_type = 'click' GROUP BY user_id
        ), views AS (
            SELECT user_id,
                   round((sum(value::DECIMAL(18,6)) / count(*))::DOUBLE, 6) AS view_avg
            FROM events WHERE event_type = 'view' GROUP BY user_id
        )
        SELECT coalesce(c.user_id, v.user_id) AS user_id,
               coalesce(c.click_avg, v.view_avg) AS merged_avg,
               CASE WHEN c.click_avg IS NOT NULL THEN 'click' ELSE 'view' END
                   AS chosen_source
        FROM clicks c FULL OUTER JOIN views v ON c.user_id = v.user_id
    """,
    "pricing_summary": """
        WITH rows_c AS (
            SELECT l_returnflag, l_linestatus,
                   l_quantity::BIGINT AS qty,
                   round(l_extendedprice * 100)::BIGINT AS ep_c,
                   round(l_discount * 100)::BIGINT AS disc_pct,
                   round(l_tax * 100)::BIGINT AS tax_pct
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        ), agg AS (
            SELECT l_returnflag, l_linestatus,
                   sum(qty)::BIGINT AS sum_qty,
                   sum(ep_c)::BIGINT AS sum_base_price_cents,
                   sum((ep_c * (100 - disc_pct))::DECIMAL(38,0)) AS disc_u4,
                   sum((ep_c * (100 - disc_pct) * (100 + tax_pct))::DECIMAL(38,0))
                       AS charge_u6,
                   sum(disc_pct)::BIGINT AS disc_pct_sum,
                   count(*) AS count_order
            FROM rows_c GROUP BY l_returnflag, l_linestatus
        )
        SELECT l_returnflag, l_linestatus, sum_qty, sum_base_price_cents,
               disc_u4::DECIMAL(38,0)::VARCHAR AS sum_disc_price_u4,
               charge_u6::DECIMAL(38,0)::VARCHAR AS sum_charge_u6,
               (sum_qty * 1000000) // count_order AS avg_qty_micro,
               (disc_pct_sum * 10000) // count_order AS avg_disc_micro,
               count_order
        FROM agg
    """,
    "revenue_by_nation": """
        SELECT n_name,
               round(sum((l_extendedprice * (1 - l_discount))::DECIMAL(18,4)), 2)::DOUBLE
                   AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name
    """,
}

QUERIES = {
    "status_rollup": q_status_rollup,
    "status_breakdown": q_status_breakdown,
    "ordered_concat": q_ordered_concat,
    "validation_cost": q_validation_cost,
    "priority_merge": q_priority_merge,
    "pricing_summary": q_pricing_summary,
    "revenue_by_nation": q_revenue_by_nation,
}




def _with_ep(ev: DataFrame) -> DataFrame:
    return ev.withColumn(
        "ep",
        F.expr(
            "timestampdiff(MICROSECOND, "
            "TIMESTAMP_NTZ '1970-01-01 00:00:00', cast(ts as timestamp_ntz))"
        ),
    )


def _hourly_partials(ev: DataFrame) -> DataFrame:
    """The mergeable hourly state: (event_type, hour_b) -> n/s/mn/mx."""
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        ev.select(
            "event_type",
            # floor (not truncating) div: pre-1970 negative ep must land
            # in hour -1, matching the oracles' `//`
            F.expr(floordiv_sql("ep", 3600000000)).alias("hour_b"),
            cents.alias("c"),
        )
        .groupBy("event_type", "hour_b")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("s"),
            F.min("c").alias("mn"),
            F.max("c").alias("mx"),
        )
    )


def q_rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: DAILY stats computed FROM
    HOURLY PARTIALS, never from raw rows — the TimescaleDB/Druid rollup
    pattern. At 100 TB the hourly partial table is the only thing the
    daily (and weekly, monthly) jobs read: ~3-4 orders of magnitude fewer
    rows than the raw stream, and one partial table serves every coarser
    resolution.

    Correctness burden is that the per-bucket state MERGES: counts and
    cent-sums add, min/max fold, hours-active is the partial-row count.
    The oracle aggregates the raw events STRAIGHT to daily (hours-active
    via a distinct count) — a different aggregation path that must land on
    identical rows, which is exactly the mergeability claim.

    Money doubles ride the exact cents idiom (2-decimal source values,
    round(x*100) is lossless; see q_pricing_summary). Day/hour buckets are
    integer epoch divisions — timezone-free. Per-event cents peak ~49k so
    bigint day-sums hold to ~10^14 events/day; decimal(38,0) is the
    documented widening past that."""
    from . import load

    ev = _with_ep(load(spark, sf_dir, "events"))
    return (
        _hourly_partials(ev).groupBy(
            "event_type", F.expr(floordiv_sql("hour_b", 24)).alias("day_b")
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s").alias("sum_cents"),
            F.min("mn").alias("min_cents"),
            F.max("mx").alias("max_cents"),
            F.count("*").alias("n_hours_active"),
        )
        .select(
            "event_type", "day_b", "n_events", "sum_cents",
            "min_cents", "max_cents", "n_hours_active",
        )
    )


QUERIES["rollup_two_level"] = q_rollup_two_level

# Direct raw->daily aggregation: the independent path the partial-merge
# must match.
_HR_DUCK = floordiv_duck("epoch_us(ts)", 3600000000)

ORACLES["rollup_two_level"] = f"""
    SELECT event_type,
           {floordiv_duck(_HR_DUCK, 24)} AS day_b,
           count(*) AS n_events,
           sum(round(value * 100)::BIGINT)::BIGINT AS sum_cents,
           min(round(value * 100)::BIGINT) AS min_cents,
           max(round(value * 100)::BIGINT) AS max_cents,
           count(DISTINCT {_HR_DUCK}) AS n_hours_active
    FROM events
    GROUP BY 1, 2
"""


ROLLUP_BATCH_MOD = 10  # event_id % MOD >= SPLIT -> the "new batch"
ROLLUP_BATCH_SPLIT = 7


def merge_partials(stored: DataFrame, batch: DataFrame) -> DataFrame:
    """MERGE-upsert of a new batch's hourly partials into the stored
    partial table: counts and sums add, min/max fold — touching only the
    (event_type, hour_b) cells the batch actually hits. This is the
    maintenance half of the continuous aggregate: the daily job reads
    partials (q_rollup_two_level); THIS is how those partials absorb a
    late-arriving batch without recomputing history (in production: a
    MERGE INTO keyed on the cell id; here the full-outer join IS that
    merge, and the oracle's full recompute proves it equivalent)."""
    s = stored.select(
        "event_type", "hour_b",
        F.col("n").alias("sn"), F.col("s").alias("ss"),
        F.col("mn").alias("smn"), F.col("mx").alias("smx"),
    )
    b = batch.select(
        "event_type", "hour_b",
        F.col("n").alias("bn"), F.col("s").alias("bs"),
        F.col("mn").alias("bmn"), F.col("mx").alias("bmx"),
    )
    return s.join(b, ["event_type", "hour_b"], "full_outer").select(
        "event_type",
        "hour_b",
        (F.coalesce("sn", F.lit(0)) + F.coalesce("bn", F.lit(0))).alias("n"),
        (F.coalesce("ss", F.lit(0)) + F.coalesce("bs", F.lit(0))).alias("s"),
        F.least(
            F.coalesce("smn", F.col("bmn")), F.coalesce("bmn", F.col("smn"))
        ).alias("mn"),
        F.greatest(
            F.coalesce("smx", F.col("bmx")), F.coalesce("bmx", F.col("smx"))
        ).alias("mx"),
    )


def q_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental continuous-aggregate maintenance: the corpus is split
    into a 'stored' 70% and a 'new batch' 30% (by event_id bucket, so
    batch rows land INSIDE already-materialized cells — the hard upsert
    case, not a clean append); the batch's partials merge into the stored
    partials, and the daily rollup reads the merged state. The oracle is
    the one-shot daily aggregate over everything: increment == full
    recompute, cell for cell."""
    from . import load

    ev = _with_ep(load(spark, sf_dir, "events"))
    bucket = F.col("event_id") % ROLLUP_BATCH_MOD
    stored = _hourly_partials(ev.where(bucket < ROLLUP_BATCH_SPLIT))
    batch = _hourly_partials(ev.where(bucket >= ROLLUP_BATCH_SPLIT))
    merged = merge_partials(stored, batch)
    return (
        merged.groupBy(
            "event_type", F.expr(floordiv_sql("hour_b", 24)).alias("day_b")
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s").alias("sum_cents"),
            F.min("mn").alias("min_cents"),
            F.max("mx").alias("max_cents"),
            F.count("*").alias("n_hours_active"),
        )
        .select(
            "event_type", "day_b", "n_events", "sum_cents",
            "min_cents", "max_cents", "n_hours_active",
        )
    )


QUERIES["rollup_incremental"] = q_rollup_incremental
# increment == full recompute: same ground truth as the two-level rollup
ORACLES["rollup_incremental"] = ORACLES["rollup_two_level"]


Q3_SEGMENT_DATE = "1995-03-15"
Q3_TOP_K = 10


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-K open orders by revenue at a cutoff date —
    customer |X| orders |X| lineitem with date predicates on BOTH fact
    sides (pushed to the scans), the small filtered customer side
    broadcast, revenue in exact integer micro-units (cents x basis-point
    discount, the pricing_summary idiom), and the final top-K via
    :func:`top_k` (the per-orderkey group count is order-of-orders).
    Deterministic total order: revenue desc, orderkey asc."""
    from . import load

    orders = load(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < Q3_SEGMENT_DATE
    )
    li = load(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > Q3_SEGMENT_DATE
    )
    cust = load(spark, sf_dir, "customer").where(
        F.col("c_custkey") % 5 == 0  # the "market segment" twin
    )
    rev_u4 = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (100 - F.round(F.col("l_discount") * 100).cast("long"))
    )
    grouped = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev_u4).alias("revenue_u4"))
    )
    order = (F.desc("revenue_u4"), F.asc("l_orderkey"))
    return top_k(grouped, Q3_TOP_K, order).select(
        "rk",
        "l_orderkey",
        F.col("o_orderdate").cast("string").alias("o_orderdate"),
        "o_orderpriority",
        "revenue_u4",
    )


QUERIES["shipping_priority"] = q_shipping_priority

ORACLES["shipping_priority"] = f"""
    WITH g AS (
        SELECT l_orderkey, o_orderdate, o_orderpriority,
               sum(round(l_extendedprice * 100)::BIGINT
                   * (100 - round(l_discount * 100)::BIGINT))::BIGINT
                   AS revenue_u4
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE o_orderdate < TIMESTAMP '{Q3_SEGMENT_DATE} 00:00:00'
          AND l_shipdate > TIMESTAMP '{Q3_SEGMENT_DATE} 00:00:00'
          AND c_custkey % 5 = 0
        GROUP BY 1, 2, 3
    )
    SELECT row_number() OVER (ORDER BY revenue_u4 DESC, l_orderkey) AS rk,
           l_orderkey, o_orderdate::VARCHAR AS o_orderdate,
           o_orderpriority, revenue_u4
    FROM g ORDER BY revenue_u4 DESC, l_orderkey
    LIMIT {Q3_TOP_K}
"""


# Rate-spike detection: an hour is a SPIKE when its event count is at
# least SPIKE_NUM/SPIKE_DEN times the trailing SPIKE_LOOKBACK-hour mean
# (with the full lookback present) — integer cross-multiplied, no float
# ratio. 3x over the trailing 24h mean is the standard pager rule.
SPIKE_LOOKBACK = 24
SPIKE_NUM = 3
SPIKE_DEN = 1


def q_rate_spike_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate spike detection per type — the drift/incident monitor a
    warehouse runs over its ingest stream: hourly counts (the mergeable
    partial state every rollup already maintains), a trailing
    SPIKE_LOOKBACK-hour window sum via a RANGE frame over the hour bucket
    (gaps count as zero hours BY CONSTRUCTION of the range frame — silent
    hours simply contribute nothing to the sum while still widening the
    denominator), and the cross-multiplied spike predicate
    cnt * LOOKBACK >= trailing_sum * NUM/DEN. Hours without the full
    lookback report is_spike = 0 (cold start is not an incident).

    Scale shape: one map-side-combined hash aggregate onto calendar-
    bounded (type, hour) state + one per-type RANGE window over that tiny
    frame — the hourly_spine_ffill layout; the raw corpus is touched once."""
    from pyspark.sql import Window

    from . import load

    hourly = _hourly_partials(_with_ep(load(spark, sf_dir, "events"))).select(
        "event_type", "hour_b", F.col("n").alias("cnt")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour_b")
        .rangeBetween(-SPIKE_LOOKBACK, -1)
    )
    trailing = hourly.withColumn(
        "trail_sum", F.coalesce(F.sum("cnt").over(w), F.lit(0))
    )
    return trailing.select(
        "event_type",
        "hour_b",
        "cnt",
        F.col("trail_sum").cast("long").alias("trail_sum"),
        (
            (F.col("hour_b") - F.first("hour_b").over(
                Window.partitionBy("event_type").orderBy("hour_b")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ) >= SPIKE_LOOKBACK)
            & (
                F.col("cnt") * SPIKE_LOOKBACK * SPIKE_DEN
                >= F.col("trail_sum") * SPIKE_NUM
            )
        ).cast("long").alias("is_spike"),
    )


QUERIES["rate_spike_detect"] = q_rate_spike_detect

ORACLES["rate_spike_detect"] = f"""
    WITH hourly AS (
        SELECT event_type,
               {floordiv_duck('epoch_us(ts)', 3600000000)} AS hour_b,
               count(*) AS cnt
        FROM events GROUP BY 1, 2
    ), t AS (
        SELECT event_type, hour_b, cnt,
               coalesce(sum(cnt) OVER w, 0) AS trail_sum,
               first_value(hour_b) OVER (PARTITION BY event_type
                                         ORDER BY hour_b
                                         ROWS UNBOUNDED PRECEDING) AS h0
        FROM hourly
        WINDOW w AS (PARTITION BY event_type ORDER BY hour_b
                     RANGE BETWEEN {SPIKE_LOOKBACK} PRECEDING
                               AND 1 PRECEDING)
    )
    SELECT event_type, hour_b, cnt,
           trail_sum::BIGINT AS trail_sum,
           (hour_b - h0 >= {SPIKE_LOOKBACK}
            AND cnt * {SPIKE_LOOKBACK * SPIKE_DEN}
                >= trail_sum * {SPIKE_NUM})::BIGINT AS is_spike
    FROM t
"""

# --- Daily ingest-mix drift monitor -----------------------------------------
# Total-variation distance between consecutive days' event-type share
# vectors, kept exact by cross-multiplying instead of dividing:
#   TVD(d, d-1) = 1/2 * sum_t |cnt_d[t]/N_d - cnt_prev[t]/N_prev|
#               = sum_t |cnt_d[t]*N_prev - cnt_prev[t]*N_d| / (2*N_d*N_prev)
# Alarm when the ppm-scaled ratio crosses DRIFT_PPM. 70000 ppm = 7% TVD,
# roughly the median day-over-day sampling noise on the synthetic mix, so
# both alarm states are exercised. Overflow: tvd_num <= 2*N_d*N_prev and
# tvd_num*1e6 must fit bigint => holds to ~2M events/day; decimal(38,0) is
# the documented widening past that (same analysis as q_pricing_summary).
DRIFT_PPM = 70000


def q_type_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor over the ingest mix — the daily job a
    training-data pipeline runs to catch a source going sideways (a crawler
    suddenly emitting 90% errors, a scraper dropping a content type). One
    map-side-combined hash aggregate builds the (day, type) counts; each
    day's share vector is packed into a map row; a lag window compares
    consecutive days with integer cross-multiplied TVD.

    Scale shape: the per-day frame is calendar-bounded (one row per day —
    365/year regardless of corpus size), so the unpartitioned lag window
    holds O(days) rows, never O(data) (same justification as the bounded
    bucket window in packing.py:85). The raw corpus is touched exactly once
    by the counting aggregate. Days with no prior day present (gaps in the
    ingest calendar) are excluded: drift vs silence is a different alarm
    (rate_spike_detect's job)."""
    from pyspark.sql import Window

    from . import load

    daily = (
        _with_ep(load(spark, sf_dir, "events"))
        .select(
            F.expr(floordiv_sql(floordiv_sql("ep", 3600000000), 24)).alias(
                "day_b"
            ),
            "event_type",
        )
        .groupBy("day_b", "event_type")
        .agg(F.count("*").alias("cnt"))
    )
    perday = daily.groupBy("day_b").agg(
        F.map_from_entries(
            F.sort_array(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m"),
        F.sum("cnt").alias("n_day"),
    )
    w = Window.orderBy("day_b")
    lagged = perday.select(
        "day_b",
        "m",
        "n_day",
        F.lag("m").over(w).alias("m_prev"),
        F.lag("n_day").over(w).alias("n_prev"),
        F.lag("day_b").over(w).alias("prev_b"),
    ).filter(F.col("prev_b") == F.col("day_b") - 1)
    # Union support of the two days; types absent from both contribute 0.
    keys = F.array_union(F.map_keys("m"), F.map_keys("m_prev"))
    tvd_num = F.aggregate(
        keys,
        F.lit(0).cast("long"),
        lambda acc, k: acc
        + F.abs(
            F.coalesce(F.element_at(F.col("m"), k), F.lit(0))
            * F.col("n_prev")
            - F.coalesce(F.element_at(F.col("m_prev"), k), F.lit(0))
            * F.col("n_day")
        ),
    )
    out = lagged.select(
        "day_b",
        F.col("n_day").cast("long").alias("n_day"),
        F.col("n_prev").cast("long").alias("n_prev"),
        tvd_num.alias("tvd_num"),
        (F.lit(2) * F.col("n_day") * F.col("n_prev"))
        .cast("long")
        .alias("tvd_den"),
    )
    return out.select(
        "day_b",
        "n_day",
        "n_prev",
        "tvd_num",
        "tvd_den",
        F.expr("(tvd_num * 1000000) div tvd_den").alias("tvd_ppm"),
        (F.col("tvd_num") * 1000000 >= F.col("tvd_den") * DRIFT_PPM)
        .cast("long")
        .alias("is_drift"),
    )


QUERIES["type_share_drift"] = q_type_share_drift

_DAY_DUCK = floordiv_duck(floordiv_duck("epoch_us(ts)", 3600000000), 24)

ORACLES["type_share_drift"] = f"""
    WITH daily AS (
        SELECT {_DAY_DUCK} AS day_b, event_type, count(*)::BIGINT AS cnt
        FROM events GROUP BY 1, 2
    ), days AS (
        SELECT day_b, sum(cnt)::BIGINT AS n_day FROM daily GROUP BY 1
    ), consec AS (
        SELECT d.day_b, d.n_day, p.n_day AS n_prev, p.day_b AS prev_b
        FROM days d JOIN days p ON p.day_b = d.day_b - 1
    ), terms AS (
        SELECT c.day_b, c.n_day, c.n_prev,
               abs(coalesce(cur.cnt, 0) * c.n_prev
                   - coalesce(prv.cnt, 0) * c.n_day) AS term
        FROM consec c
        CROSS JOIN (SELECT DISTINCT event_type FROM daily) t
        LEFT JOIN daily cur
          ON cur.day_b = c.day_b AND cur.event_type = t.event_type
        LEFT JOIN daily prv
          ON prv.day_b = c.prev_b AND prv.event_type = t.event_type
    )
    SELECT day_b, n_day, n_prev,
           sum(term)::BIGINT AS tvd_num,
           (2 * n_day * n_prev)::BIGINT AS tvd_den,
           ((sum(term) * 1000000) // (2 * n_day * n_prev))::BIGINT AS tvd_ppm,
           (sum(term) * 1000000 >= 2 * n_day * n_prev * {DRIFT_PPM})::BIGINT
               AS is_drift
    FROM terms GROUP BY day_b, n_day, n_prev
"""


# --- Group-wise linear trend (sufficient-statistics regression) ---------------
TREND_EPOCH = "2024-01-01"  # fixed x origin: keeps day indexes small integers


def q_groupwise_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend — the drift detector's regression
    form: for every (user_id, event_type), the slope of value-cents over
    the day index, fit by ordinary least squares computed ENTIRELY from
    sufficient statistics (n, Sx, Sy, Sxx, Sxy). slope = (n*Sxy - Sx*Sy) /
    (n*Sxx - Sx^2), emitted as truncated ppm alongside the raw stats so
    consumers can derive intercept/R^2 without a second scan.

    Scale shape: the entire fit is ONE map-side-combinable groupBy — the
    five sufficient statistics are plain sums, so partial aggregation
    collapses each mapper's group contribution to a single row before the
    shuffle, and no per-group sort, window, or collect_list state exists.
    This is the pattern for ANY per-group closed-form model at 10^12 rows
    (variance, covariance, OLS, Welford moments): ship the moments, not
    the rows.

    Overflow: x <= ~3*10^4 (day index from the fixed epoch), y <= 10^7
    cents, so per-row xy <= 3*10^11 and n*Sxy <= n^2 * 3*10^11 — BIGINT-
    safe to n ~ 5*10^3 rows per group after the *10^6 ppm scale; past
    that cast the five sums to decimal(38,0) before the slope arithmetic
    (the pricing_summary idiom). Degenerate groups (all events on one
    day) have zero denominator: slope_ppm is NULL via nullif on both
    engines. Truncating integer division toward zero is identical in
    Spark ``div`` and DuckDB ``//`` including negative numerators
    (CLAUDE.md); no calendar flooring is involved so the floordiv pair is
    not needed.

    Output: user_id, event_type, n, sx, sy, sxx, sxy, slope_ppm."""
    from . import load

    ev = load(spark, sf_dir, "events")
    d = ev.select(
        "user_id",
        "event_type",
        F.datediff(
            F.col("ts").cast("date"), F.lit(TREND_EPOCH).cast("date")
        )
        .cast("long")
        .alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    g = d.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    return g.select(
        "user_id",
        "event_type",
        "n",
        "sx",
        "sy",
        "sxx",
        "sxy",
        F.expr(
            "(n * sxy - sx * sy) * 1000000"
            " div nullif(n * sxx - sx * sx, 0)"
        ).alias("slope_ppm"),
    )


QUERIES["groupwise_trend"] = q_groupwise_trend

ORACLES["groupwise_trend"] = f"""
    WITH d AS (
        SELECT user_id, event_type,
               date_diff('day', DATE '{TREND_EPOCH}', ts::DATE)::BIGINT AS x,
               round(value * 100)::BIGINT AS y
        FROM events
    ), g AS (
        SELECT user_id, event_type, count(*)::BIGINT AS n,
               sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
               sum(x * x)::BIGINT AS sxx, sum(x * y)::BIGINT AS sxy
        FROM d GROUP BY user_id, event_type
    )
    SELECT user_id, event_type, n, sx, sy, sxx, sxy,
           (n * sxy - sx * sy) * 1000000
               // nullif(n * sxx - sx * sx, 0) AS slope_ppm
    FROM g
"""


# --- Deterministic A/B experiment readout --------------------------------------
AB_EXPERIMENT = "exp1"  # salt: assignment is per-experiment, not global
AB_CONVERT_VALUE = 150.0  # conversion = a purchase above this (high-value)


def q_ab_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B experiment readout: every user is assigned to
    control/treatment by hashing an experiment-salted id (first 4 hex
    chars of md5, the holdout_split idiom — content-stable across runs,
    engines, and cluster sizes, and independent across experiments
    because of the salt; no RNG), the per-user conversion flag is
    whether the user ever purchased, and the single output row carries
    both arms' user counts, converted counts, integer-permille conversion
    rates, and their difference (the uplift readout an experimentation
    platform prints).

    Scale shape: one per-user groupBy (map-side combined max of a 0/1
    flag), then a 1-row conditional-sum aggregate — assignment is a pure
    projection so the whole readout costs exactly the sessionize shuffle.
    Permille arithmetic is integer div; uplift subtracts the two permille
    values so no negative-division semantics are involved.

    Output: n_control, conv_control, permille_control, n_treatment,
    conv_treatment, permille_treatment, uplift_permille."""
    from . import load

    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            (
                (F.col("event_type") == "purchase")
                & (F.col("value") > AB_CONVERT_VALUE)
            ).cast("long")
        ).alias("converted")
    )
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(AB_EXPERIMENT + ":"),
                    F.col("user_id").cast("string"),
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    d = per_user.select((bucket % 2 == 1).alias("t"), "converted")
    return (
        d.agg(
            F.sum(F.when(~F.col("t"), 1).otherwise(0))
            .cast("long")
            .alias("n_control"),
            F.sum(F.when(~F.col("t"), F.col("converted")).otherwise(0))
            .cast("long")
            .alias("conv_control"),
            F.sum(F.when(F.col("t"), 1).otherwise(0))
            .cast("long")
            .alias("n_treatment"),
            F.sum(F.when(F.col("t"), F.col("converted")).otherwise(0))
            .cast("long")
            .alias("conv_treatment"),
        )
        .select(
            "n_control",
            "conv_control",
            F.expr("conv_control * 1000 div nullif(n_control, 0)").alias(
                "permille_control"
            ),
            "n_treatment",
            "conv_treatment",
            F.expr("conv_treatment * 1000 div nullif(n_treatment, 0)").alias(
                "permille_treatment"
            ),
            F.expr(
                "conv_treatment * 1000 div nullif(n_treatment, 0)"
                " - conv_control * 1000 div nullif(n_control, 0)"
            ).alias("uplift_permille"),
        )
    )


QUERIES["ab_uplift"] = q_ab_uplift

ORACLES["ab_uplift"] = f"""
    WITH per_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase'
                             AND value > {AB_CONVERT_VALUE}
                        THEN 1 ELSE 0 END) AS converted,
               ('0x' || substring(
                    md5('{AB_EXPERIMENT}:' || user_id::VARCHAR), 1, 4)
               )::BIGINT % 2 = 1 AS t
        FROM events GROUP BY user_id
    ), a AS (
        SELECT (count(*) FILTER (WHERE NOT t))::BIGINT AS n_control,
               (coalesce(sum(converted) FILTER (WHERE NOT t), 0))::BIGINT
                   AS conv_control,
               (count(*) FILTER (WHERE t))::BIGINT AS n_treatment,
               (coalesce(sum(converted) FILTER (WHERE t), 0))::BIGINT
                   AS conv_treatment
        FROM per_user
    )
    SELECT n_control, conv_control,
           conv_control * 1000 // nullif(n_control, 0) AS permille_control,
           n_treatment, conv_treatment,
           conv_treatment * 1000 // nullif(n_treatment, 0) AS permille_treatment,
           conv_treatment * 1000 // nullif(n_treatment, 0)
               - conv_control * 1000 // nullif(n_control, 0) AS uplift_permille
    FROM a
"""


# --- CUSUM change-point detection ----------------------------------------------
# The injected drift the detector must find (the lateness_audit pattern:
# the driver corpus is stationary by construction, so the monitored signal
# gets a deterministic level shift, mirrored in the oracle).
CUSUM_SHIFT_TYPE = "error"
CUSUM_SHIFT_DAY = 18
CUSUM_SHIFT_ADD = 40


def cusum_fold(daily: DataFrame) -> DataFrame:
    """The CUSUM recurrence over a (event_type, day, x) daily frame — the
    single definition shared by q_cusum_changepoint (batch, injected
    shift) and streaming.cusum_stream (the monitor over the maintained
    rollup store). One flat HOF aggregate with a struct accumulator over
    a calendar-bounded per-type array."""
    arr = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("day", "x"))).alias("days")
    )
    with_base = arr.withColumn(
        "base",
        F.expr("aggregate(slice(days, 1, 7), 0L, (a, d) -> a + d.x) div 7"),
    )
    fold = F.expr(
        "aggregate(days,"
        " struct(cast(0 as long) as s, cast(0 as long) as mx,"
        "        cast(null as long) as alarm),"
        " (acc, d) -> struct("
        "   greatest(0L, acc.s + d.x - base - base div 20) as s,"
        "   greatest(acc.mx,"
        "            greatest(0L, acc.s + d.x - base - base div 20)) as mx,"
        "   coalesce(acc.alarm,"
        "     case when greatest(0L, acc.s + d.x - base - base div 20)"
        "               > base then d.day end) as alarm))"
    )
    return with_base.select(
        "event_type",
        F.size("days").cast("long").alias("n_days"),
        "base",
        fold["mx"].alias("max_cusum"),
        # -1 sentinel, not NULL: a nullable int column round-trips through
        # the oracle gate's pandas frame as float64 (the asof precedent)
        F.coalesce(fold["alarm"], F.lit(-1)).cast("long").alias("alarm_day"),
        fold["alarm"].isNotNull().cast("long").alias("alarmed"),
    )


def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection (Page 1954) over the daily event-count
    series per event type — the monitor that catches a persistent small
    level shift the 3x rate_spike rule never sees: S_i = max(0, S_{i-1} +
    x_i - baseline - k) with allowance k = baseline/20 and alarm threshold
    h = one full baseline day; the first day S crosses h is the change point. The
    baseline is the first 7 days' mean (integer div — causal, no future
    data). The driver corpus is stationary, so a deterministic +40/day
    shift is injected into the 'error' series from day 18 (the
    lateness_audit synthesis pattern) — exactly one series must alarm.

    Scale shape: daily counts are one map-side-combined groupBy; the
    sequential recurrence folds over a per-type array bounded by the
    CALENDAR (30 rows/month regardless of corpus size — the rate_spike
    argument), via one flat HOF aggregate with a struct accumulator (no
    nested HOFs, per the cdc_chunk_dedup lesson). The oracle replays the
    fold as a recursive CTE keyed on row_number, so day gaps cannot
    desynchronize the two engines. Output: event_type, n_days, base,
    max_cusum, alarm_day, alarmed."""
    from . import load

    ev = load(spark, sf_dir, "events")
    day = F.datediff(
        F.col("ts").cast("date"), F.lit(TREND_EPOCH).cast("date")
    ).cast("long")
    daily = (
        ev.groupBy("event_type", day.alias("day"))
        .agg(F.count(F.lit(1)).alias("raw"))
        .select(
            "event_type",
            "day",
            (
                F.col("raw")
                + F.when(
                    (F.col("event_type") == CUSUM_SHIFT_TYPE)
                    & (F.col("day") >= CUSUM_SHIFT_DAY),
                    CUSUM_SHIFT_ADD,
                ).otherwise(0)
            ).alias("x"),
        )
    )
    return cusum_fold(daily)


QUERIES["cusum_changepoint"] = q_cusum_changepoint

ORACLES["cusum_changepoint"] = f"""
    WITH RECURSIVE d0 AS (
        SELECT event_type,
               date_diff('day', DATE '{TREND_EPOCH}', ts::DATE)::BIGINT
                   AS day
        FROM events
    ), daily AS (
        SELECT event_type, day,
               count(*)::BIGINT
               + CASE WHEN event_type = '{CUSUM_SHIFT_TYPE}'
                       AND day >= {CUSUM_SHIFT_DAY}
                      THEN {CUSUM_SHIFT_ADD} ELSE 0 END AS x
        FROM d0 GROUP BY 1, 2
    ), seq AS (
        SELECT event_type, day, x,
               row_number() OVER (PARTITION BY event_type ORDER BY day)
                   AS rn,
               count(*) OVER (PARTITION BY event_type) AS n_days
        FROM daily
    ), base AS (
        SELECT event_type,
               ((sum(x) FILTER (WHERE rn <= 7))::BIGINT) // 7 AS base
        FROM seq GROUP BY event_type
    ), c AS (
        SELECT b.event_type, 0::BIGINT AS rn, 0::BIGINT AS s,
               0::BIGINT AS mx, NULL::BIGINT AS alarm
        FROM base b
        UNION ALL
        SELECT c.event_type, c.rn + 1,
               greatest(0, c.s + q.x - b.base - b.base // 20),
               greatest(c.mx,
                        greatest(0, c.s + q.x - b.base - b.base // 20)),
               coalesce(c.alarm,
                   CASE WHEN greatest(0, c.s + q.x - b.base - b.base // 20)
                             > b.base
                        THEN q.day END)
        FROM c
        JOIN seq q ON q.event_type = c.event_type AND q.rn = c.rn + 1
        JOIN base b ON b.event_type = c.event_type
    )
    SELECT c.event_type, q.n_days, b.base, c.mx AS max_cusum,
           coalesce(c.alarm, -1)::BIGINT AS alarm_day,
           (c.alarm IS NOT NULL)::BIGINT AS alarmed
    FROM c
    JOIN base b ON b.event_type = c.event_type
    JOIN (SELECT DISTINCT event_type, n_days FROM seq) q
      ON q.event_type = c.event_type
    WHERE c.rn = q.n_days
"""


# --- Dispersion (Fano) index -------------------------------------------------------
def q_dispersion_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano dispersion index of the per-type daily count series —
    variance-to-mean in integer permille: a Poisson arrival stream sits
    near 1000; far above means bursty traffic (bot storms, batch
    replays), far below means rate-limited/shaped flow. Together with
    cusum_changepoint (level shifts) and rate_spike_detect (spikes) this
    completes the arrival-process monitoring triple — three different
    questions over the same tiny rollup state.

    All arithmetic from sufficient statistics (the groupwise_trend
    pattern): fano_permille = (n*Σx² - (Σx)²) * 1000 div ((n-1) * Σx),
    exact integers end to end, nullif-guarded for degenerate series
    (n < 2 or an all-zero series). Daily counts are one map-side-combined
    groupBy; the moments are a second tiny aggregate over the
    calendar-bounded rollup. Output: event_type, n_days, sum_x, sum_xx,
    fano_permille."""
    from . import load

    day = F.datediff(
        F.col("ts").cast("date"), F.lit(TREND_EPOCH).cast("date")
    ).cast("long")
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", day.alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    return (
        daily.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("x").alias("sum_x"),
            F.sum(F.col("x") * F.col("x")).alias("sum_xx"),
        )
        .select(
            "event_type",
            "n_days",
            "sum_x",
            "sum_xx",
            F.expr(
                "(n_days * sum_xx - sum_x * sum_x) * 1000"
                " div nullif((n_days - 1) * sum_x, 0)"
            ).alias("fano_permille"),
        )
    )


QUERIES["dispersion_index"] = q_dispersion_index

ORACLES["dispersion_index"] = f"""
    WITH daily AS (
        SELECT event_type,
               date_diff('day', DATE '{TREND_EPOCH}', ts::DATE) AS day,
               count(*)::BIGINT AS x
        FROM events GROUP BY 1, 2
    ), g AS (
        SELECT event_type, count(*)::BIGINT AS n_days,
               sum(x)::BIGINT AS sum_x,
               sum(x * x)::BIGINT AS sum_xx
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days, sum_x, sum_xx,
           (n_days * sum_xx - sum_x * sum_x) * 1000
               // nullif((n_days - 1) * sum_x, 0) AS fano_permille
    FROM g
"""


# --- Seasonally-adjusted anomaly ranking ----------------------------------------------
ANOMALY_TOP_K = 3


def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly ranking: each (type, day) cell's
    deviation from its SAME-WEEKDAY mean in scale-free integer permille
    (|x*n - sum| * 1000 div sum over the type's same-dow cells — cross-
    multiplied, no float mean), top ANOMALY_TOP_K days per type. Weekday
    conditioning is what stops every Monday from paging (the
    seasonality_profile argument applied to alerting). The same
    deterministic incident cusum_changepoint injects (+CUSUM_SHIFT_ADD
    on the CUSUM_SHIFT_TYPE series from CUSUM_SHIFT_DAY) must surface as
    that type's top cells — three monitors, one injected truth: CUSUM
    sees the persistent shift, dispersion_index the raised variance,
    this op the worst single cells.

    Scale shape: daily cells are one map-side-combined groupBy; dow
    means come from a second tiny aggregate joined back on (type, dow);
    the per-type rank windows over a calendar-bounded frame (<=31 rows
    per type). TREND_EPOCH is a Monday, so dow = day % 7 with 0 =
    Monday. Output: event_type, day, dow, x, dev_permille, rk."""
    from pyspark.sql import Window
    from . import load

    day = F.datediff(
        F.col("ts").cast("date"), F.lit(TREND_EPOCH).cast("date")
    ).cast("long")
    daily = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", day.alias("day"))
        .agg(F.count(F.lit(1)).alias("raw"))
        .select(
            "event_type",
            "day",
            (F.col("day") % 7).alias("dow"),
            (
                F.col("raw")
                + F.when(
                    (F.col("event_type") == CUSUM_SHIFT_TYPE)
                    & (F.col("day") >= CUSUM_SHIFT_DAY),
                    CUSUM_SHIFT_ADD,
                ).otherwise(0)
            ).alias("x"),
        )
    )
    dowm = daily.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_d"), F.sum("x").alias("sum_d")
    )
    dev = F.expr("abs(x * n_d - sum_d) * 1000 div sum_d")
    scored = daily.join(dowm, ["event_type", "dow"]).select(
        "event_type", "day", "dow", "x", dev.alias("dev_permille")
    )
    order = (F.desc("dev_permille"), F.asc("day"))
    return top_k(scored, ANOMALY_TOP_K, order, by=["event_type"])


QUERIES["seasonal_anomaly"] = q_seasonal_anomaly

ORACLES["seasonal_anomaly"] = f"""
    WITH d0 AS (
        SELECT event_type,
               date_diff('day', DATE '{TREND_EPOCH}', ts::DATE)::BIGINT
                   AS day
        FROM events
    ), daily AS (
        SELECT event_type, day, day % 7 AS dow,
               count(*)::BIGINT
               + CASE WHEN event_type = '{CUSUM_SHIFT_TYPE}'
                       AND day >= {CUSUM_SHIFT_DAY}
                      THEN {CUSUM_SHIFT_ADD} ELSE 0 END AS x
        FROM d0 GROUP BY 1, 2
    ), dowm AS (
        SELECT event_type, dow, count(*)::BIGINT AS n_d,
               sum(x)::BIGINT AS sum_d
        FROM daily GROUP BY 1, 2
    ), scored AS (
        SELECT d.event_type, d.day, d.dow, d.x,
               abs(d.x * n_d - sum_d) * 1000 // sum_d AS dev_permille
        FROM daily d JOIN dowm m
          ON d.event_type = m.event_type AND d.dow = m.dow
    )
    SELECT * FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY dev_permille DESC, day)::BIGINT AS rk
        FROM scored
    ) WHERE rk <= {ANOMALY_TOP_K}
"""


# --- Recency-decayed leaderboard -----------------------------------------------------
DECAY_HALF_LIFE_DAYS = 7
DECAY_TOP_K = 10


def q_decayed_leaderboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted engagement leaderboard with EXACT integer decay:
    an event aged a half-lives contributes 1024 >> a (fixed-point
    halving per DECAY_HALF_LIFE_DAYS, shift clamped at 20) — the
    exponential-decay scoreboard every "trending" surface runs, computed
    without a single float so both engines agree bit-for-bit (a real
    exp(-age/tau) would drift in the 15th decimal and break the hash
    gate; power-of-two half-life decay is the deterministic twin).

    Scale shape: age comes from a 1-row broadcast horizon; the score is
    one map-side-combined groupBy (weights are per-row expressions);
    the top-K is :func:`top_k`. Output: rk, user_id, score, n_events."""
    from . import load

    day = F.datediff(
        F.col("ts").cast("date"), F.lit(TREND_EPOCH).cast("date")
    ).cast("long")
    ev = load(spark, sf_dir, "events").select(
        "user_id", day.alias("day")
    )
    horizon = ev.agg(F.max("day").alias("h"))
    w_expr = F.expr(
        f"shiftright(1024, cast(least((h - day) div {DECAY_HALF_LIFE_DAYS},"
        f" 20) as int))"
    )
    scores = (
        ev.crossJoin(F.broadcast(horizon))
        .select("user_id", w_expr.alias("w"))
        .groupBy("user_id")
        .agg(
            F.sum("w").alias("score"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    order = (F.desc("score"), F.asc("user_id"))
    return top_k(scores, DECAY_TOP_K, order).select(
        "rk", "user_id", "score", "n_events"
    )


QUERIES["decayed_leaderboard"] = q_decayed_leaderboard

ORACLES["decayed_leaderboard"] = f"""
    WITH d AS (
        SELECT user_id,
               date_diff('day', DATE '{TREND_EPOCH}', ts::DATE)::BIGINT
                   AS day
        FROM events
    ), h AS (
        SELECT max(day) AS h FROM d
    ), scores AS (
        SELECT user_id,
               sum(1024 >> least((h.h - day) // {DECAY_HALF_LIFE_DAYS},
                                 20))::BIGINT AS score,
               count(*)::BIGINT AS n_events
        FROM d, h GROUP BY user_id
    )
    SELECT row_number() OVER (ORDER BY score DESC, user_id)::BIGINT AS rk,
           user_id, score, n_events
    FROM scores
    QUALIFY rk <= {DECAY_TOP_K}
"""


# --- Inter-annotator agreement (round 4) -------------------------------------------
KAPPA_CHARS = 800
KAPPA_WORDS = 130


def q_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic document labelers (a
    char-length gate and a word-count gate) — the dataset-QA statistic
    for "do two quality raters agree beyond chance". All-integer: kappa
    = (po - pe) / (1 - pe) cleared to one permille division,
    kappa_permille = 1000*(N*agree - pe_num) div (N^2 - pe_num) with
    pe_num = a1*b1 + a0*b0. One aggregate pass over the scan — the same
    plan at any corpus size.

    Output: n, n_a1, n_b1, n_agree, po_permille, kappa_permille."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    a = (F.length("text") >= KAPPA_CHARS).cast("long")
    b = (
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
        >= KAPPA_WORDS
    ).cast("long")
    agg = docs.select(a.alias("a"), b.alias("b")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").alias("n_a1"),
        F.sum("b").alias("n_b1"),
        F.sum((F.col("a") == F.col("b")).cast("long")).alias("n_agree"),
    )
    return agg.select(
        "n",
        "n_a1",
        "n_b1",
        "n_agree",
        F.expr("n_agree * 1000 div nullif(n, 0)").alias("po_permille"),
        F.expr(
            "coalesce((n * n_agree - (n_a1 * n_b1 + (n - n_a1) * (n - n_b1)))"
            " * 1000 div nullif(n * n - (n_a1 * n_b1 + (n - n_a1)"
            " * (n - n_b1)), 0), -9999)"
        ).alias("kappa_permille"),
    )


QUERIES["kappa_agreement"] = q_kappa_agreement

ORACLES["kappa_agreement"] = f"""
    WITH l AS (
        SELECT (length(text) >= {KAPPA_CHARS})::BIGINT AS a,
               (len(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x <> '')) >= {KAPPA_WORDS})::BIGINT AS b
        FROM documents
    ), s AS (
        SELECT count(*)::BIGINT AS n,
               sum(a)::BIGINT AS n_a1,
               sum(b)::BIGINT AS n_b1,
               sum((a = b)::BIGINT)::BIGINT AS n_agree
        FROM l
    )
    SELECT n, n_a1, n_b1, n_agree,
           (n_agree * 1000 // nullif(n, 0))::BIGINT AS po_permille,
           coalesce((n * n_agree - (n_a1 * n_b1 + (n - n_a1) * (n - n_b1)))
               * 1000 // nullif(n * n - (n_a1 * n_b1
                   + (n - n_a1) * (n - n_b1)), 0), -9999)::BIGINT
               AS kappa_permille
    FROM s
"""
