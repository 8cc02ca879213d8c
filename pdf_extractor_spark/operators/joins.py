"""Join/merge operators: the spatial structure-x-OCR join (J4/X10/A7), the
cross-page table-merge boundary sessionization (J1 decision precompute + W8),
the full order-dependent J1 fold via ``applyInPandas``, and the base64
payload source with quarantine (S2/X5).

Inputs are deterministic derivations of the driver parquet tables (cells from
``part``, words from ``lineitem``, table streams from ``orders``) so every
query is oracle-checkable; the derivations use integer arithmetic only, so
Spark and DuckDB agree bit-for-bit.

Reference parity targets (file:line in /root/reference):
- J4 spatial join:  scripts/merge_structure_ocr.py:203-265
- X10 bbox overlap: scripts/merge_structure_ocr.py:32-47
- A7 fill metrics:  scripts/merge_structure_ocr.py:259-263
- J1 merge fold:    src/services/azure_di/table_merger.py:102-186
- J3 continuity:    src/services/azure_di/table_validator.py:19-147
- W8 session ids:   table_merger.py:176-179 (boundary = new-table decision)
- S2 base64 source: src/services/pdf_input_handler.py:67-106
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.expressions import floordiv_duck, floordiv_sql, top_k

N_PAGES = 20
WORD_W, WORD_H = 4, 3
CELL_W, CELL_H = 25, 18
MIN_OVERLAP = 0.5 * WORD_W * WORD_H  # strictly >50% of word area, per the reference
BALANCE_TOLERANCE = 0.01


def _cells(spark, sf_dir):
    """Synthetic layout cells: one per part (bounded), laid out on N_PAGES."""
    from . import load

    return (
        load(spark, sf_dir, "part")
        .where(F.col("p_partkey") < 400)
        .select(
            F.col("p_partkey").alias("cell_id"),
            (F.col("p_partkey") % N_PAGES).alias("page"),
            ((F.col("p_partkey") * 7) % 80).alias("cx1"),
            ((F.col("p_partkey") * 13) % 80).alias("cy1"),
        )
        .withColumn("cx2", F.col("cx1") + CELL_W)
        .withColumn("cy2", F.col("cy1") + CELL_H)
    )


def _words(spark, sf_dir):
    """Synthetic OCR words: one per order's first lineitem."""
    from . import load

    return (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_linenumber") == 1)
        .select(
            F.col("l_orderkey").alias("word_id"),
            (F.col("l_orderkey") % N_PAGES).alias("page"),
            ((F.col("l_partkey") * 3) % 96).alias("wx1"),
            ((F.col("l_suppkey") * 5) % 96).alias("wy1"),
            F.col("l_returnflag").alias("wtext"),
        )
        .withColumn("wx2", F.col("wx1") + WORD_W)
        .withColumn("wy2", F.col("wy1") + WORD_H)
    )


def q_spatial_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: map words into cells where rectangle overlap is strictly >50% of
    the word area. Equi-join on page bounds the candidate set (never a cross join);
    the overlap predicate (X10) is a pure expression. Word texts concatenate
    in reading order (top-to-bottom, left-to-right — W7); n_words is the A7
    fill metric."""
    cells, words = _cells(spark, sf_dir), _words(spark, sf_dir)
    overlap_w = F.greatest(
        F.lit(0), F.least("cx2", "wx2") - F.greatest("cx1", "wx1")
    )
    overlap_h = F.greatest(
        F.lit(0), F.least("cy2", "wy2") - F.greatest("cy1", "wy1")
    )
    matched = cells.join(words, on="page").where(
        # strict >: the reference requires overlap_ratio > 0.5, so a word at
        # exactly half coverage is dropped (merge_structure_ocr.py:203-265)
        overlap_w * overlap_h > F.lit(MIN_OVERLAP)
    )
    ordered = F.sort_array(
        F.collect_list(F.struct("wy1", "wx1", "wtext", "word_id"))
    )
    return matched.groupBy("cell_id", "page").agg(
        F.count("*").alias("n_words"),
        F.array_join(
            F.transform(ordered, lambda s: s["wtext"]), " "
        ).alias("content"),
    )


def _table_stream(spark, sf_dir):
    """Synthetic per-document table stream: orders grouped into documents,
    order priority as the header signature, total price as the trailing
    balance."""
    from . import load

    return load(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 100).alias("doc"),
        F.col("o_orderkey").alias("page"),
        F.col("o_orderpriority").alias("header_sig"),
        F.col("o_totalprice").alias("balance"),
    )


def q_table_merge_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 boundary decision precomputed per-pair with lag(), then W8 session
    ids via a running sum — the SQL-expressible core of the cross-page table
    merge: continue when headers match (J2) or the balance is continuous
    within tolerance / <50% relative change (J3); else a new merged table
    starts."""
    tables = _table_stream(spark, sf_dir)
    w = Window.partitionBy("doc").orderBy("page")
    prev_sig = F.lag("header_sig").over(w)
    prev_bal = F.lag("balance").over(w)
    is_new = (
        F.when(prev_sig.isNull(), 1)
        .when(F.col("header_sig") == prev_sig, 0)
        .when(F.abs(F.col("balance") - prev_bal) <= BALANCE_TOLERANCE, 0)
        .when(
            (prev_bal != 0)
            & (F.abs(F.col("balance") - prev_bal) / F.abs(prev_bal) < 0.5),
            0,
        )
        .otherwise(1)
    )
    sessions = tables.withColumn("is_new", is_new).withColumn(
        "merge_id",
        F.sum("is_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return sessions.groupBy("doc", "merge_id").agg(
        F.count("*").alias("n_tables"),
        F.min("page").alias("start_page"),
        F.max("page").alias("end_page"),
        F.min("header_sig").alias("header_sig"),
    )


def q_table_merge_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 proper: the order-dependent merge fold (headers inherit across
    headerless continuations, so the decision depends on the merged-so-far
    table — not expressible as a window). Runs the pure kernel per document
    group via ``applyInPandas``; value-checked against a recursive-CTE DuckDB
    replay (oracle below), semantics also pinned by tests/test_kernels_tables.py."""
    import pandas as pd

    from ..kernels.table_merge import merge_tables_across_pages

    tables = _table_stream(spark, sf_dir).withColumn(
        # every 3rd table in a document arrives headerless (continuation)
        "has_header",
        F.pmod(F.col("page"), F.lit(3)) != 0,
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("page")
        by_page = {
            int(r.page): [{
                "headers": [str(r.header_sig), "Amount"],
                "has_header": bool(r.has_header),
                "rows": [[str(r.header_sig), f"{r.balance:.2f}"]],
            }]
            for r in pdf.itertuples()
        }
        merged = merge_tables_across_pages(by_page)
        return pd.DataFrame([
            {
                "doc": int(pdf["doc"].iloc[0]),
                "merge_idx": i,
                "start_page": m.start_page,
                "end_page": m.end_page,
                "n_rows": len(m.data_rows),
            }
            for i, m in enumerate(merged)
        ])

    schema = ("doc long, merge_idx int, start_page long, end_page long, "
              "n_rows int")
    return tables.groupBy("doc").applyInPandas(fold, schema=schema)


def q_base64_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/X5: payload-in-row base64 source. Encode, decode, magic-check
    (``%PDF`` prefix), and flag quarantine rows — all built-in JVM functions
    (base64/unbase64), no UDF."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    payload = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.lit("%PDF-1.4 "), F.col("text"))
    ).otherwise(F.col("text"))
    enc = F.base64(F.encode(payload, "UTF-8"))
    dec = F.decode(F.unbase64(enc), "UTF-8")
    return docs.select(
        "doc_id",
        (F.substring(dec, 1, 4) == "%PDF").alias("is_pdf"),
        F.length(dec).alias("n_decoded_chars"),
        (dec == payload).alias("roundtrip_ok"),
    )


RANGE_WINDOW_SEC = 300  # "clicks in the 5 minutes before each error"


def q_range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range join via bucket binning: for each ``error`` event, count
    the same user's ``click`` events in the preceding RANGE_WINDOW_SEC.

    Scale shape: the range predicate alone would force a per-user
    sort-merge with full cross-filtering inside each user (quadratic in a
    hot user's events). Binning floor(epoch/W) turns it into an EQUI-join
    on (user_id, bucket): the probe (error) side explodes to its two
    covering buckets, the build side keys on its own bucket, and the exact
    timestamp predicate filters the equi-matched candidates — per-task
    work is bounded by events-per-(user, 5-min-bucket), not events-per-user.
    A click's single bucket equals at most one of the error's two covering
    buckets, so no double counting."""
    from . import load

    ev = load(spark, sf_dir, "events")
    b = (F.unix_timestamp("ts") / RANGE_WINDOW_SEC).cast("long")
    errors = ev.where(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        F.col("ts").alias("e_ts"),
        F.explode(F.array(b - 1, b)).alias("bucket"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id"),
        F.col("ts").alias("c_ts"),
        b.alias("bucket"),
    )
    matched = errors.join(clicks, ["user_id", "bucket"]).where(
        (
            F.col("c_ts")
            >= F.col("e_ts") - F.expr(f"INTERVAL {RANGE_WINDOW_SEC} SECONDS")
        )
        & (F.col("c_ts") < F.col("e_ts"))
    )
    counts = matched.groupBy("event_id").agg(
        F.count("*").alias("n_recent_clicks")
    )
    base = ev.where(F.col("event_type") == "error").select("event_id")
    return base.join(counts, "event_id", "left").select(
        "event_id",
        F.coalesce("n_recent_clicks", F.lit(0)).alias("n_recent_clicks"),
    )



SKEW_SALT = 8


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    row_key: str,
    salt: int = SKEW_SALT,
) -> DataFrame:
    """Explicit skew-salted equi-join: the big side adds a deterministic
    salt from its own row identity (``row_key``, never RNG — replays and
    retries land identically), the small side replicates ``salt`` ways,
    and the join runs on (key, salt) — a single hot key's rows spread
    across ``salt`` reduce partitions instead of one straggler task.
    Result-equality with the plain join is the oracle's claim.

    ``row_key`` is REQUIRED and must vary within a key group (a row id,
    never the join key itself): salting by ``key`` would hash every row
    of the hot key to the same salt value — the exact single-partition
    straggler this operator exists to defuse, plus ``salt``-way small-side
    replication as pure overhead.

    This is the MANUAL form for engines/paths without AQE skew handling
    (or for the build side of a shuffle join AQE won't split, e.g. under
    a required output partitioning); with AQE's skew-join active the
    plain join is usually preferable — this operator documents and tests
    the mechanism itself. Cost: small side x salt replication (bounded:
    it is the SMALL side by contract)."""
    if row_key == key:
        raise ValueError(
            "salted_join row_key must differ from the join key: salting by "
            "the key itself sends the whole hot key to one salt partition"
        )
    big_s = big.withColumn(
        "_salt",
        F.pmod(F.xxhash64(F.col(row_key)), F.lit(salt)).cast("int"),
    )
    small_s = small.withColumn(
        "_salt",
        F.explode(
            F.sequence(F.lit(0).cast("int"), F.lit(salt - 1).cast("int"))
        ),
    )
    return big_s.join(small_s, [key, "_salt"]).drop("_salt")


def q_salted_join_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events joined to a per-user dimension (first signup week) through
    the salted join; the oracle is the PLAIN join — proving salting
    changes the physical distribution, never the result."""
    from . import load

    ev = load(spark, sf_dir, "events")
    dim = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(
            F.min(
                F.expr(
                    floordiv_sql(
                        "datediff(to_date(cast(ts as timestamp_ntz)),"
                        " date'2024-01-01')",
                        7,
                    )
                ).cast("long")
            ).alias("signup_wk")
        )
    )
    out = salted_join(
        ev.select("event_id", "user_id", "event_type"),
        dim,
        key="user_id",
        row_key="event_id",
    )
    return out.select("event_id", "user_id", "event_type", "signup_wk")

_DD_TS = "date_diff('day', DATE '2024-01-01', ts::DATE)"

ORACLES = {
    "salted_join_skew": f"""
        WITH dim AS (
            SELECT user_id,
                   min({floordiv_duck(_DD_TS, 7)})::BIGINT AS signup_wk
            FROM events WHERE event_type = 'signup' GROUP BY 1
        )
        SELECT e.event_id, e.user_id, e.event_type, d.signup_wk
        FROM events e JOIN dim d USING (user_id)
    """,
    "range_join_binned": f"""
        SELECT e.event_id,
               count(c.user_id) AS n_recent_clicks
        FROM events e
        LEFT JOIN events c
          ON c.event_type = 'click'
         AND c.user_id = e.user_id
         AND c.ts >= e.ts - INTERVAL {RANGE_WINDOW_SEC} SECONDS
         AND c.ts < e.ts
        WHERE e.event_type = 'error'
        GROUP BY 1
    """,
    "spatial_join": f"""
        WITH cells AS (
            SELECT p_partkey AS cell_id,
                   p_partkey % {N_PAGES} AS page,
                   (p_partkey * 7) % 80 AS cx1,
                   (p_partkey * 13) % 80 AS cy1,
                   (p_partkey * 7) % 80 + {CELL_W} AS cx2,
                   (p_partkey * 13) % 80 + {CELL_H} AS cy2
            FROM part WHERE p_partkey < 400
        ), words AS (
            SELECT l_orderkey AS word_id,
                   l_orderkey % {N_PAGES} AS page,
                   (l_partkey * 3) % 96 AS wx1,
                   (l_suppkey * 5) % 96 AS wy1,
                   (l_partkey * 3) % 96 + {WORD_W} AS wx2,
                   (l_suppkey * 5) % 96 + {WORD_H} AS wy2,
                   l_returnflag AS wtext
            FROM lineitem WHERE l_linenumber = 1
        )
        SELECT c.cell_id, c.page,
               count(*) AS n_words,
               string_agg(w.wtext, ' '
                          ORDER BY w.wy1, w.wx1, w.wtext, w.word_id) AS content
        FROM cells c JOIN words w ON c.page = w.page
        WHERE greatest(0, least(c.cx2, w.wx2) - greatest(c.cx1, w.wx1))
            * greatest(0, least(c.cy2, w.wy2) - greatest(c.cy1, w.wy1))
            > {MIN_OVERLAP}
        GROUP BY c.cell_id, c.page
    """,
    "table_merge_sessions": f"""
        WITH t AS (
            SELECT o_custkey % 100 AS doc, o_orderkey AS page,
                   o_orderpriority AS header_sig, o_totalprice AS balance
            FROM orders
        ), flagged AS (
            SELECT doc, page, header_sig,
                   CASE
                     WHEN lag(header_sig) OVER w IS NULL THEN 1
                     WHEN header_sig = lag(header_sig) OVER w THEN 0
                     WHEN abs(balance - lag(balance) OVER w)
                          <= {BALANCE_TOLERANCE} THEN 0
                     WHEN lag(balance) OVER w <> 0
                          AND abs(balance - lag(balance) OVER w)
                              / abs(lag(balance) OVER w) < 0.5 THEN 0
                     ELSE 1
                   END AS is_new
            FROM t
            WINDOW w AS (PARTITION BY doc ORDER BY page)
        ), sessions AS (
            -- ::BIGINT: DuckDB's windowed integer sum is HUGEINT -> pandas
            -- float64, which fails the driver's exact hash vs Spark's long
            SELECT doc, page, header_sig,
                   sum(is_new) OVER (PARTITION BY doc ORDER BY page
                                     ROWS UNBOUNDED PRECEDING)::BIGINT AS merge_id
            FROM flagged
        )
        SELECT doc, merge_id, count(*) AS n_tables,
               min(page) AS start_page, max(page) AS end_page,
               min(header_sig) AS header_sig
        FROM sessions GROUP BY doc, merge_id
    """,
    # J1 fold replay: the merge decision depends on the merged-so-far group's
    # header (headerless continuations inherit it), so the oracle replays the
    # fold with a recursive CTE stepping rn -> rn+1 per doc. Decision order
    # mirrors kernels/table_merge.merge_tables_across_pages exactly:
    # (2) header matches GROUP header -> +1 row; (3) headerless -> +2 rows
    # (the would-be header row becomes data); (4) balance continuity
    # (|diff| <= tol, else rel change < 0.5; balances are always > 0 so the
    # zero-start / position-overlap branches are unreachable) -> +1 row;
    # else a new group starts.
    "table_merge_fold": f"""
        WITH RECURSIVE t AS (
            SELECT o_custkey % 100 AS doc, o_orderkey AS page,
                   o_orderpriority AS header_sig, o_totalprice AS balance,
                   (o_orderkey % 3) <> 0 AS has_header,
                   row_number() OVER (PARTITION BY o_custkey % 100
                                      ORDER BY o_orderkey) AS rn
            FROM orders
        ), fold AS (
            SELECT doc, rn, page, header_sig, balance, has_header,
                   1::BIGINT AS merge_id, header_sig AS grp_header, 1 AS n_add
            FROM t WHERE rn = 1
            UNION ALL
            SELECT t.doc, t.rn, t.page, t.header_sig, t.balance, t.has_header,
                   CASE WHEN lower(trim(t.header_sig)) = lower(trim(f.grp_header))
                             OR NOT t.has_header
                             OR abs(t.balance - f.balance) <= {BALANCE_TOLERANCE}
                             OR abs(t.balance - f.balance) / abs(f.balance) < 0.5
                        THEN f.merge_id ELSE f.merge_id + 1 END,
                   CASE WHEN lower(trim(t.header_sig)) = lower(trim(f.grp_header))
                             OR NOT t.has_header
                             OR abs(t.balance - f.balance) <= {BALANCE_TOLERANCE}
                             OR abs(t.balance - f.balance) / abs(f.balance) < 0.5
                        THEN f.grp_header ELSE t.header_sig END,
                   CASE WHEN lower(trim(t.header_sig)) = lower(trim(f.grp_header))
                        THEN 1
                        WHEN NOT t.has_header THEN 2
                        ELSE 1 END
            FROM fold f JOIN t ON t.doc = f.doc AND t.rn = f.rn + 1
        )
        SELECT doc, (merge_id - 1)::INT AS merge_idx,
               min(page) AS start_page, max(page) AS end_page,
               sum(n_add)::INT AS n_rows
        FROM fold GROUP BY doc, merge_id
    """,
    "base64_roundtrip": """
        WITH p AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0 THEN '%PDF-1.4 ' || text
                        ELSE text END AS payload
            FROM documents
        ), rt AS (
            SELECT doc_id, payload,
                   decode(from_base64(to_base64(encode(payload)))) AS dec
            FROM p
        )
        SELECT doc_id,
               substring(dec, 1, 4) = '%PDF' AS is_pdf,
               length(dec) AS n_decoded_chars,
               dec = payload AS roundtrip_ok
        FROM rt
    """,
}

QUERIES = {
    "salted_join_skew": q_salted_join_skew,
    "spatial_join": q_spatial_join,
    "table_merge_sessions": q_table_merge_sessions,
    "table_merge_fold": q_table_merge_fold,
    "base64_roundtrip": q_base64_roundtrip,
    "range_join_binned": q_range_join_binned,
}


# --- Interval-overlap self-join ----------------------------------------------
# Bin width for the interval-overlap join (1h of microseconds) and the
# pathological-user guard: a (user, hour-bin) group holds that user's
# actions CONCURRENT within one wall-clock hour — physically small, but a
# runaway bot could flood one bin, so the same DF-cut the dedup buckets use
# applies (never binds on the driver corpora: max observed occupancy is 5).
OVERLAP_BIN_US = 3_600_000_000
MAX_OVERLAP_BIN_EVENTS = 64


def q_interval_overlap_join(
    spark: SparkSession, sf_dir: str, observation=None
) -> DataFrame:
    """Interval-interval overlap self-join — concurrent-action detection:
    each event is an interval [start, start + duration) (duration = the
    event's cents read as seconds); emit every same-user pair of events
    whose intervals overlap, with the overlap length. The genomics /
    ad-tech overlap-join shape, and the session-integrity audit a
    transcript pipeline runs to find interleaved tool calls.

    Scale shape: a raw overlap predicate is a per-user cross filter
    (quadratic in a hot user's events). Instead each interval explodes to
    the hour bins it covers, bins group by (user_id, bin) with collect_list
    state bounded by per-user-per-hour concurrency (DF-cut at
    MAX_OVERLAP_BIN_EVENTS, observable drops), and pairs generate IN-bucket
    via the shared _bucket_pairs helper — no self-join, so the interval
    subtree is computed once, and the corpus is scanned once. A pair
    overlapping across many shared bins is emitted exactly once: only the
    bin containing the later start claims it (both intervals necessarily
    cover that instant). Zero-length intervals are dropped up front (an
    empty interval overlaps nothing).

    Output: user_id, id_lo, id_hi (event ids, lo < hi), ov_us."""
    from . import load
    from .dedup import _bucket_pairs, _capped_buckets
    from ..functions.expressions import floordiv_sql

    ev = load(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    iv = ev.select(
        "user_id",
        "event_id",
        F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00',"
            " cast(ts as timestamp_ntz))"
        ).alias("s"),
        cents.alias("cents"),
    ).where(F.col("cents") > 0).select(
        "user_id",
        "event_id",
        "s",
        (F.col("s") + F.col("cents") * 1_000_000).alias("e"),
    )
    binned = iv.select(
        "user_id",
        F.explode(
            F.sequence(
                F.expr(floordiv_sql("s", OVERLAP_BIN_US)),
                F.expr(floordiv_sql("e - 1", OVERLAP_BIN_US)),
            )
        ).alias("bin"),
        F.struct("event_id", "s", "e").alias("item"),
    )
    buckets = _capped_buckets(
        binned.groupBy("user_id", "bin").agg(
            F.sort_array(F.collect_list("item")).alias("ids")
        ),
        observation,
        cap=MAX_OVERLAP_BIN_EVENTS,
    )
    pairs = buckets.select(
        "user_id", "bin", F.explode(_bucket_pairs(F.col("ids"))).alias("p")
    )
    a, b = F.col("p.a"), F.col("p.b")
    later_start = F.greatest(a["s"], b["s"])
    return (
        pairs.where((a["s"] < b["e"]) & (b["s"] < a["e"]))
        .where(
            F.col("bin")
            == F.expr(floordiv_sql("greatest(p.a.s, p.b.s)", OVERLAP_BIN_US))
        )
        .select(
            "user_id",
            a["event_id"].alias("id_lo"),
            b["event_id"].alias("id_hi"),
            (F.least(a["e"], b["e"]) - later_start)
            .cast("long")
            .alias("ov_us"),
        )
    )


QUERIES["interval_overlap_join"] = q_interval_overlap_join


# --- Join-key skew profiler ---------------------------------------------------
SKEW_TOP_K = 20


def q_join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profile — the pre-join diagnostic every big shuffle
    join should run first: per-key row counts on the fact side
    (events.user_id), the global total and distinct-key count, and the
    top-K heavy hitters with their permille share of all rows and their
    ratio to the mean key frequency. The output is exactly what decides
    the join strategy: xmean_permille >> 1000 on the head keys means the
    hash shuffle will funnel those keys into single reducers — salt them
    (salted_join_skew) or let AQE split them; a flat profile means a plain
    shuffle join is fine.

    Scale shape: one map-side-combined groupBy produces the per-key
    counts (one row per distinct key crosses the shuffle); the global
    scalars are a 1-row aggregate OVER the counts frame (never a second
    corpus scan) cross-joined back as a broadcast; the top-K rank is
    :func:`top_k` — at 10^12 rows the distinct-key count is O(billions) and
    a single global ORDER BY would be the bottleneck this very profiler
    exists to detect.

    Overflow: cnt <= 10^12 so cnt * 1000 <= 10^15 fits BIGINT with 3
    decimal orders to spare; the mean ratio divides by mean_cnt =
    total_rows div n_keys (>= 1) instead of multiplying by n_keys, so no
    term ever exceeds 10^15. Integer division truncates toward zero
    identically in Spark `div` and DuckDB `//` (both operands positive).

    Output: rk, user_id, cnt, share_permille, xmean_permille."""
    from . import load

    counts = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.agg(
        F.sum("cnt").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    order = (F.desc("cnt"), F.asc("user_id"))
    return (
        top_k(counts, SKEW_TOP_K, order)
        .crossJoin(F.broadcast(totals))
        .select(
            "rk",
            "user_id",
            "cnt",
            F.expr("cnt * 1000 div total_rows").alias("share_permille"),
            F.expr("cnt * 1000 div (total_rows div n_keys)").alias(
                "xmean_permille"
            ),
        )
    )


QUERIES["join_key_skew_profile"] = q_join_key_skew_profile

ORACLES["join_key_skew_profile"] = f"""
    WITH counts AS (
        SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY user_id
    ), totals AS (
        SELECT sum(cnt)::BIGINT AS total_rows, count(*)::BIGINT AS n_keys
        FROM counts
    ), ranked AS (
        SELECT user_id, cnt,
               row_number() OVER (ORDER BY cnt DESC, user_id) AS rk
        FROM counts
    )
    SELECT rk::BIGINT AS rk, user_id, cnt,
           (cnt * 1000) // total_rows AS share_permille,
           (cnt * 1000) // (total_rows // n_keys) AS xmean_permille
    FROM ranked, totals
    WHERE rk <= {SKEW_TOP_K}
"""

ORACLES["interval_overlap_join"] = """
    WITH iv AS (
        SELECT user_id, event_id, epoch_us(ts) AS s,
               epoch_us(ts) + round(value * 100)::BIGINT * 1000000 AS e
        FROM events
        WHERE round(value * 100)::BIGINT > 0
    )
    SELECT a.user_id,
           a.event_id AS id_lo,
           b.event_id AS id_hi,
           (least(a.e, b.e) - greatest(a.s, b.s))::BIGINT AS ov_us
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND a.s < b.e AND b.s < a.e
"""


# --- Join-cardinality estimator ------------------------------------------------
def q_join_cardinality_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation from key histograms — the planner
    arithmetic made explicit: for the lineitem |X| orders equi-join, the
    exact output size is sum over shared keys of cnt_l * cnt_o, computable
    from the two per-key count frames WITHOUT executing the join. Emits
    the estimate alongside the key-overlap counts and the largest
    single-key contribution (the skew bomb join_key_skew_profile ranks) —
    at 10^12 rows you run THIS (or its sketch form) before committing to
    a shuffle join; the companion skew profile decides how to shuffle.

    Scale shape: two map-side-combined groupBys (one row per distinct key
    each) and one equi-join of the count frames — the fact tables are
    scanned once each and never joined row-to-row. The same frames feed a
    CMS/HLL sketch at the extreme scale; exact is one hash-groupBy here.

    Overflow: per-key products are cnt_l * cnt_o <= 10^6 * 10^6 at
    pathological skew; the SUM is cast decimal(38,0) before aggregation
    (the pricing_summary idiom) so the estimate survives any skew.

    Output: n_keys_left, n_keys_right, n_keys_both, est_rows,
    max_key_rows."""
    from . import load

    lc = (
        load(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt_l"))
    )
    oc = (
        load(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt_o"))
    )
    both = lc.join(oc, "k")
    prod = (
        F.col("cnt_l").cast("decimal(38,0)")
        * F.col("cnt_o").cast("decimal(38,0)")
    )
    totals = both.agg(
        F.count(F.lit(1)).alias("n_keys_both"),
        F.sum(prod).cast("decimal(38,0)").alias("est_rows"),
        F.max(prod).cast("decimal(38,0)").alias("max_key_rows"),
    )
    nl = lc.agg(F.count(F.lit(1)).alias("n_keys_left"))
    nr = oc.agg(F.count(F.lit(1)).alias("n_keys_right"))
    return (
        nl.crossJoin(F.broadcast(nr))
        .crossJoin(F.broadcast(totals))
        .select(
            "n_keys_left",
            "n_keys_right",
            "n_keys_both",
            # string-cast the wide decimals (the pricing_summary idiom:
            # DECIMAL(38,0) reaches pandas as float on the oracle side)
            F.col("est_rows").cast("string").alias("est_rows"),
            F.col("max_key_rows").cast("string").alias("max_key_rows"),
        )
    )


QUERIES["join_cardinality_estimate"] = q_join_cardinality_estimate

ORACLES["join_cardinality_estimate"] = """
    WITH lc AS (
        SELECT l_orderkey AS k, count(*)::BIGINT AS cnt_l
        FROM lineitem GROUP BY 1
    ), oc AS (
        SELECT o_orderkey AS k, count(*)::BIGINT AS cnt_o
        FROM orders GROUP BY 1
    ), both_ AS (
        SELECT count(*)::BIGINT AS n_keys_both,
               sum(cnt_l::DECIMAL(38,0) * cnt_o::DECIMAL(38,0))
                   ::DECIMAL(38,0) AS est_rows,
               max(cnt_l::DECIMAL(38,0) * cnt_o::DECIMAL(38,0))
                   ::DECIMAL(38,0) AS max_key_rows
        FROM lc JOIN oc USING (k)
    )
    SELECT (SELECT count(*)::BIGINT FROM lc) AS n_keys_left,
           (SELECT count(*)::BIGINT FROM oc) AS n_keys_right,
           n_keys_both, est_rows::VARCHAR AS est_rows,
           max_key_rows::VARCHAR AS max_key_rows
    FROM both_
"""


# --- Cogrouped reconciliation (cogroup + applyInPandas) --------------------------
RECON_SCHEMA = (
    "key bigint, n_events bigint, n_orders bigint, n_matched bigint,"
    " sum_absdiff_cents bigint"
)


def _recon_inputs(spark, sf_dir):
    """Shared inputs for the two reconcile forms: purchase events and
    order records, both as (key, cents)."""
    from . import load

    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("key"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
    )
    od = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    return ev, od


def q_cogroup_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stream per-key reconciliation, ALL-JVM: purchase events and
    order records are each ranked within key (``row_number`` over the
    cents value), rank-matched with one FULL OUTER equi-join on
    ``(key, rank)``, and reduced by a single hash aggregate — which
    bookings have no matching order, and how far apart the matched
    amounts are. Keys present on either side emit a row (the join's
    unmatched-side NULLs carry the empty-side semantics).

    Scale shape: two keyed shuffles (the per-key rank windows — both
    PARTITIONED, never a global window), one shuffle-free join on the
    same key prefix, one map-side-combined aggregate. Everything is
    whole-stage-codegen JVM SQL: at 10^9 keys this is three exchanges and
    zero Python round-trips, where a per-key cogroup kernel would pay
    10^9 interpreter invocations for the same arithmetic (that kernel
    survives as a pinned-equal test twin — ``cogroup_reconcile_kernel``,
    tests/test_cogroup_twin.py — so the cogroup API surface stays
    covered). Rank-matching equal values is order-insensitive (|a-b| is
    identical among ties), so no tiebreak column is needed.

    Output: key, n_events, n_orders, n_matched, sum_absdiff_cents."""
    ev, od = _recon_inputs(spark, sf_dir)
    w = Window.partitionBy("key").orderBy("c")
    e = ev.withColumn("rn", F.row_number().over(w))
    o = od.withColumn("rn", F.row_number().over(w))
    j = e.alias("e").join(
        o.alias("o"),
        (F.col("e.key") == F.col("o.key")) & (F.col("e.rn") == F.col("o.rn")),
        "full_outer",
    )
    return (
        j.groupBy(F.coalesce("e.key", "o.key").alias("key"))
        .agg(
            F.count("e.c").alias("n_events"),
            F.count("o.c").alias("n_orders"),
            F.count(
                F.when(F.col("e.c").isNotNull() & F.col("o.c").isNotNull(), 1)
            ).alias("n_matched"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("e.c").isNotNull() & F.col("o.c").isNotNull(),
                        F.abs(F.col("e.c") - F.col("o.c")),
                    )
                ),
                F.lit(0),
            ).alias("sum_absdiff_cents"),
        )
    )


def cogroup_reconcile_kernel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COGROUP form of q_cogroup_reconcile — the one Pandas-UDF
    surface the rest of the suite doesn't exercise
    (``df.groupby(k).cogroup(other.groupby(k)).applyInPandas``). NOT the
    registered/benched query: applyInPandas over a cogroup invokes the
    Python kernel once per key, which at production key counts is an
    interpreter round-trip per key for arithmetic the JVM expresses
    directly. Kept as API coverage, pinned equal to the JVM rank-match
    form by tests/test_cogroup_twin.py."""
    import numpy as np
    import pandas as pd

    ev, od = _recon_inputs(spark, sf_dir)

    def recon(key, epdf: pd.DataFrame, opdf: pd.DataFrame) -> pd.DataFrame:
        a = np.sort(epdf["c"].to_numpy(dtype=np.int64))
        b = np.sort(opdf["c"].to_numpy(dtype=np.int64))
        n = min(a.size, b.size)
        sad = int(np.abs(a[:n] - b[:n]).sum()) if n else 0
        return pd.DataFrame(
            [(int(key[0]), int(a.size), int(b.size), int(n), sad)],
            columns=[
                "key", "n_events", "n_orders", "n_matched",
                "sum_absdiff_cents",
            ],
        )

    return (
        ev.groupby("key")
        .cogroup(od.groupby("key"))
        .applyInPandas(recon, schema=RECON_SCHEMA)
    )


QUERIES["cogroup_reconcile"] = q_cogroup_reconcile

ORACLES["cogroup_reconcile"] = """
    WITH e AS (
        SELECT user_id AS key, round(value * 100)::BIGINT AS c,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY round(value * 100)::BIGINT
               ) AS rn
        FROM events WHERE event_type = 'purchase'
    ), o AS (
        SELECT o_custkey AS key, round(o_totalprice * 100)::BIGINT AS c,
               row_number() OVER (
                   PARTITION BY o_custkey
                   ORDER BY round(o_totalprice * 100)::BIGINT
               ) AS rn
        FROM orders
    ), ec AS (
        SELECT key, count(*)::BIGINT AS n_events FROM e GROUP BY key
    ), oc AS (
        SELECT key, count(*)::BIGINT AS n_orders FROM o GROUP BY key
    ), m AS (
        SELECT e.key, count(*)::BIGINT AS n_matched,
               sum(abs(e.c - o.c))::BIGINT AS sad
        FROM e JOIN o ON e.key = o.key AND e.rn = o.rn
        GROUP BY e.key
    )
    SELECT coalesce(ec.key, oc.key) AS key,
           coalesce(n_events, 0)::BIGINT AS n_events,
           coalesce(n_orders, 0)::BIGINT AS n_orders,
           coalesce(n_matched, 0)::BIGINT AS n_matched,
           coalesce(sad, 0)::BIGINT AS sum_absdiff_cents
    FROM ec FULL OUTER JOIN oc ON ec.key = oc.key
    LEFT JOIN m ON m.key = coalesce(ec.key, oc.key)
"""


# --- Record linkage (Fellegi-Sunter-lite) ---------------------------------------
LINK_MATCH_MIN = 40  # score thresholds: match >= 40, possible 0..39
LINK_BLOCK_CENTS = 100_000


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / record linkage, Fellegi-Sunter style: a dirty
    copy of the customer table is synthesized deterministically (every
    3rd name corrupted, every 5th balance off by 7 cents, every 7th
    segment lost), candidate pairs come from BLOCKING on (nation,
    balance-bucket) — never a full cross join — and each pair scores the
    sum of field agreement/disagreement weights (name +40/-20, cents
    +15/-5, segment +10/-10), classified match / possible / nonmatch.
    Because ground truth is known (the copy shares the key), the output
    reports per class how many pairs are truly the same entity — the
    precision readout a real linkage pipeline estimates with clerical
    review, exact here. Blocking loss is REAL: a 7-cent perturbation can
    hop the balance bucket, and such true pairs are simply absent — the
    recall cost every blocking scheme pays.

    Scale shape: one equi-join on the compound block key (block sizes
    bounded by nation x bucket granularity); scoring is a pure
    expression; the rollup a 3-row aggregate. The classic ER layout —
    candidates via blocks, never O(n^2). Output: link_class, n_pairs,
    n_true_same, true_permille."""
    from . import load

    cust = load(spark, sf_dir, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    base = cust.select(
        F.col("c_custkey").alias("b_key"),
        F.col("c_name").alias("b_name"),
        F.col("c_nationkey").alias("b_nat"),
        cents.alias("b_cents"),
        F.col("c_mktsegment").alias("b_seg"),
    )
    dirty = cust.select(
        F.col("c_custkey").alias("d_key"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.regexp_replace("c_name", "#", "-"),
        ).otherwise(F.col("c_name")).alias("d_name"),
        F.col("c_nationkey").alias("d_nat"),
        (
            cents
            + F.when(F.col("c_custkey") % 5 == 0, 7).otherwise(0)
        ).alias("d_cents"),
        F.when(F.col("c_custkey") % 7 == 0, F.lit("UNKNOWN"))
        .otherwise(F.col("c_mktsegment"))
        .alias("d_seg"),
    )
    pairs = base.join(
        dirty,
        (F.col("b_nat") == F.col("d_nat"))
        & (
            F.expr(f"b_cents div {LINK_BLOCK_CENTS}")
            == F.expr(f"d_cents div {LINK_BLOCK_CENTS}")
        ),
    )
    score = (
        F.when(F.col("b_name") == F.col("d_name"), 40).otherwise(-20)
        + F.when(F.col("b_cents") == F.col("d_cents"), 15).otherwise(-5)
        + F.when(F.col("b_seg") == F.col("d_seg"), 10).otherwise(-10)
    )
    cls = (
        F.when(F.col("score") >= LINK_MATCH_MIN, "match")
        .when(F.col("score") >= 0, "possible")
        .otherwise("nonmatch")
    )
    return (
        pairs.select(
            score.alias("score"),
            (F.col("b_key") == F.col("d_key")).cast("long").alias("same"),
        )
        .select(cls.alias("link_class"), "same")
        .groupBy("link_class")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("same").alias("n_true_same"),
        )
        .withColumn(
            "true_permille", F.expr("n_true_same * 1000 div n_pairs")
        )
    )


QUERIES["record_linkage"] = q_record_linkage

ORACLES["record_linkage"] = f"""
    WITH base AS (
        SELECT c_custkey AS b_key, c_name AS b_name,
               c_nationkey AS b_nat,
               round(c_acctbal * 100)::BIGINT AS b_cents,
               c_mktsegment AS b_seg
        FROM customer
    ), dirty AS (
        SELECT c_custkey AS d_key,
               CASE WHEN c_custkey % 3 = 0
                    THEN replace(c_name, '#', '-') ELSE c_name END AS d_name,
               c_nationkey AS d_nat,
               round(c_acctbal * 100)::BIGINT
                   + CASE WHEN c_custkey % 5 = 0 THEN 7 ELSE 0 END
                   AS d_cents,
               CASE WHEN c_custkey % 7 = 0 THEN 'UNKNOWN'
                    ELSE c_mktsegment END AS d_seg
        FROM customer
    ), pairs AS (
        SELECT (CASE WHEN b_name = d_name THEN 40 ELSE -20 END
                + CASE WHEN b_cents = d_cents THEN 15 ELSE -5 END
                + CASE WHEN b_seg = d_seg THEN 10 ELSE -10 END) AS score,
               (b_key = d_key)::BIGINT AS same
        FROM base JOIN dirty
          ON b_nat = d_nat
         AND b_cents // {LINK_BLOCK_CENTS} = d_cents // {LINK_BLOCK_CENTS}
    )
    SELECT CASE WHEN score >= {LINK_MATCH_MIN} THEN 'match'
                WHEN score >= 0 THEN 'possible'
                ELSE 'nonmatch' END AS link_class,
           count(*)::BIGINT AS n_pairs,
           sum(same)::BIGINT AS n_true_same,
           sum(same)::BIGINT * 1000 // count(*) AS true_permille
    FROM pairs GROUP BY 1
"""


# --- Adaptive join (runtime strategy selection) ----------------------------------
ADAPTIVE_SHARE_PERMILLE = 50  # hot-key share above this switches to salting


def q_adaptive_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive join-strategy selection — the decision join_key_skew_profile
    feeds, closed into a loop: measure the fact side's hottest-key share
    (one tiny aggregate job, a 1-row collect — the kmeans-style legitimate
    driver decision), then run the SAME logical join as a plain shuffle
    join when the profile is flat or through salted_join when one key
    holds more than ADAPTIVE_SHARE_PERMILLE of the rows. Two fact
    variants run side by side — the raw key (flat) and a synthesized
    hot-key funnel (10% of traffic collapsed onto key 0) — so one output
    shows the decision FLIP while the joined row counts stay exactly what
    the plain join produces (salting changes distribution, never results;
    the oracle recomputes both variants with plain joins and the same
    threshold arithmetic).

    This is the manual twin of AQE's skew-join: AQE splits oversized
    partitions at shuffle time; this op decides BEFORE planning, which is
    what you need when the join feeds a required output partitioning AQE
    refuses to touch. Output: variant, strategy, max_share_permille,
    n_keys, n_joined."""
    from . import load

    ev = load(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    dim = (
        ev.where(F.col("event_type") == "signup")
        .select(F.col("user_id").alias("k"))
        .distinct()
    )
    variants = (
        ("flat", F.col("user_id")),
        (
            "hot",
            F.when(F.col("user_id") % 10 == 0, F.lit(0)).otherwise(
                F.col("user_id")
            ),
        ),
    )
    outs = []
    for name, key_expr in variants:
        fact = ev.select("event_id", key_expr.cast("long").alias("k"))
        counts = fact.groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
        mx, tot, nk = counts.agg(
            F.max("cnt"), F.sum("cnt"), F.count(F.lit(1))
        ).collect()[0]
        share = mx * 1000 // tot
        if share > ADAPTIVE_SHARE_PERMILLE:
            strategy = "salted"
            joined = salted_join(fact, dim, key="k", row_key="event_id")
        else:
            strategy = "plain"
            joined = fact.join(dim, "k")
        outs.append(
            joined.agg(F.count(F.lit(1)).alias("n_joined")).select(
                F.lit(name).alias("variant"),
                F.lit(strategy).alias("strategy"),
                F.lit(int(share)).cast("long").alias("max_share_permille"),
                F.lit(int(nk)).cast("long").alias("n_keys"),
                "n_joined",
            )
        )
    return outs[0].unionByName(outs[1])


QUERIES["adaptive_join"] = q_adaptive_join

ORACLES["adaptive_join"] = f"""
    WITH dim AS (
        SELECT DISTINCT user_id AS k FROM events
        WHERE event_type = 'signup'
    ), facts AS (
        SELECT 'flat' AS variant, event_id, user_id AS k FROM events
        UNION ALL
        SELECT 'hot', event_id,
               CASE WHEN user_id % 10 = 0 THEN 0 ELSE user_id END
        FROM events
    ), counts AS (
        SELECT variant, k, count(*)::BIGINT AS cnt
        FROM facts GROUP BY 1, 2
    ), stats AS (
        SELECT variant,
               max(cnt) * 1000 // sum(cnt)::BIGINT AS max_share_permille,
               count(*)::BIGINT AS n_keys
        FROM counts GROUP BY variant
    ), joined AS (
        SELECT f.variant, count(*)::BIGINT AS n_joined
        FROM facts f JOIN dim ON f.k = dim.k
        GROUP BY f.variant
    )
    SELECT s.variant,
           CASE WHEN max_share_permille > {ADAPTIVE_SHARE_PERMILLE}
                THEN 'salted' ELSE 'plain' END AS strategy,
           max_share_permille, n_keys, n_joined
    FROM stats s JOIN joined j ON s.variant = j.variant
"""
