"""Structured-Streaming adapters around the stateless extraction map.

The per-turn extraction (``plans.pipeline.extract_transcripts``) is a pure
map, so it runs unchanged on a ``readStream`` frame, JVM router included;
the operators here add what a stream needs on top: watermarked dedup and
event-time windows for late turns. They exist to demonstrate the streaming
path — the reference itself has no streaming semantics (SURVEY.md §2.10).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.windows import SESSION_GAP_SECONDS

TURN_WATERMARK = "10 minutes"  # lateness bound of the transcript streams
PROBLEM_WINDOW = "5 minutes"
SESSION_WATERMARK = "1 hour"


def dedup_stream(transcript_stream: DataFrame) -> DataFrame:
    """Streaming exact dedup: drop turns whose normalized text was already
    seen, with state bounded by the event-time watermark
    (``dropDuplicatesWithinWatermark``) — the streaming twin of
    ``operators.dedup.q_dedup_exact``. At 10^12-turn scale unbounded
    dedup state is impossible; the watermark gives the standard bounded
    contract: duplicates arriving within the lateness window are dropped,
    older re-occurrences are a batch-compaction concern."""
    from ..functions.expressions import normalize_for_comparison_expr

    keyed = transcript_stream.withColumn(
        "content_key", F.md5(normalize_for_comparison_expr(F.col("text")))
    )
    return keyed.withWatermark(
        "ts", TURN_WATERMARK
    ).dropDuplicatesWithinWatermark(["content_key"])


def windowed_problem_counts(extracted_stream: DataFrame) -> DataFrame:
    """Event-time windowed problem-rate aggregate with late-data watermark —
    the streaming analog of the validation report."""
    return (
        extracted_stream.withWatermark("ts", TURN_WATERMARK)
        .groupBy(F.window("ts", PROBLEM_WINDOW), "kind")
        .agg(
            F.count("*").alias("turns"),
            F.sum(F.size("problems")).alias("problems"),
        )
    )


def session_spend_stream(event_stream: DataFrame) -> DataFrame:
    """Streaming SESSION windows: the exact transform of
    ``windows.q_session_window_agg`` behind ``readStream`` — dynamic-gap
    sessions per user, closed and emitted once the watermark passes the
    session end. State per in-flight session is O(1) (count + sum), the
    merge rule is Spark's own (strictly-greater gap splits), and the
    batch twin is oracle-checked, so the streaming results inherit the
    parity pinned there."""
    # watermarks require TIMESTAMP (not NTZ); the cast interprets the
    # naive value in the session timezone and the output strings below
    # render the same wall-clock either way
    tz_stream = event_stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        tz_stream.withWatermark("ts", SESSION_WATERMARK)
        .groupBy(
            F.session_window("ts", f"{SESSION_GAP_SECONDS} seconds").alias("w"),
            "user_id",
        )
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
