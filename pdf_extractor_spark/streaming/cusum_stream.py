"""Streaming CUSUM monitor: the change-point detector over the MAINTAINED
rollup store instead of the raw history.

The batch form (operators.aggregates.q_cusum_changepoint) folds daily
counts computed from a full corpus scan; at ingest time nobody rescans
10^12 events per micro-batch. This twin composes two certified pieces:
rollup_stream's foreachBatch merge keeps the hourly partial store current
(exactly-once via _SUCCESS-gated snapshot versions), and the monitor reads
O(calendar) state — committed partials, rolled to days, through the SAME
``cusum_fold`` the oracle-gated batch query uses. Alarm parity between the
two paths is therefore definitional, not coincidental.

Deployment shape: the merge runs inside the stream (per batch, O(batch)
work); the monitor is a cheap scheduled read — a pager rule, not a job.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expressions import floordiv_sql
from ..operators.aggregates import cusum_fold
from ..plans import fsio

_OUT_SCHEMA = (
    "event_type string, n_days long, base long, max_cusum long,"
    " alarm_day long, alarmed long"
)


def cusum_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """CUSUM verdicts from the latest committed rollup snapshot: daily
    counts derive from the hourly partials (epoch-hour floordiv 24 —
    the day origin differs from the batch query's calendar epoch, which
    shifts labels, never fold semantics), then the shared fold. An empty
    store yields an empty frame, not an error — the monitor must be
    schedulable from minute zero."""
    stored, _ = fsio.read_latest(spark, store_path, "v=")
    if stored is None:
        return spark.createDataFrame([], _OUT_SCHEMA)
    daily = (
        stored.select(
            "event_type",
            F.expr(floordiv_sql("hour_b", 24)).alias("day"),
            "n",
        )
        .groupBy("event_type", "day")
        .agg(F.sum("n").alias("x"))
    )
    return cusum_fold(daily)
