"""Streaming continuous aggregate: the foreachBatch composition of
``operators.aggregates.merge_partials`` — each micro-batch's hourly
partials MERGE-upsert into a persisted partial table, so at any moment the
daily rollup read from the store equals a one-shot rollup of everything
seen so far (the invariant ``q_rollup_incremental``'s oracle proves for
one increment; the stream applies it per batch, forever).

This is the lakehouse "materialized view maintenance" loop: per batch
O(batch) aggregation + a merge keyed on the touched (event_type, hour)
cells — history is never recomputed. Late/out-of-order events are the
NORMAL case here (a cell absorbs updates whenever its hours resurface),
which is exactly why rollup state must be mergeable rather than final.

Exactly-once: the store is an fsio versioned store published as
``v=<batch_id>``, so a crash mid-write leaves the previous snapshot
serving and a replayed batch (same id) sees the store already at its
version and skips. This is the local-parquet stand-in for a MERGE INTO on
a transactional table (Iceberg/Delta) — the snapshot chain IS the
transaction log; the cell-keyed merge plan is identical either way.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expressions import floordiv_sql
from ..operators.aggregates import _hourly_partials, _with_ep, merge_partials
from ..plans import fsio

_SCHEMA = "event_type string, hour_b long, n long, s long, mn long, mx long"


def merge_batch(batch: DataFrame, batch_id: int, store_path: str) -> None:
    """foreachBatch body: aggregate this batch to hourly partials, merge
    into the stored cells, publish the result as snapshot ``v=batch_id``."""
    spark = batch.sparkSession
    stored, last_id = fsio.read_latest(spark, store_path, "v=")
    if batch_id <= last_id:
        return  # replay after commit — already merged
    part = _hourly_partials(_with_ep(batch))
    merged = part if stored is None else merge_partials(stored, part)
    fsio.publish(merged, store_path, "v=", batch_id)


def rollup_sink(stream: DataFrame, store_path: str):
    """writeStream wiring for an events-shaped stream (event_id, ts,
    user_id, event_type, value); caller starts with its checkpoint dir."""

    def _fn(batch: DataFrame, batch_id: int) -> None:
        merge_batch(
            batch.select("event_id", "ts", "event_type", "value"),
            batch_id,
            store_path,
        )

    return stream.writeStream.foreachBatch(_fn)


def daily_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The read side: daily rollup from the maintained partials — the
    same second-level aggregation as q_rollup_two_level. Reads the
    latest committed snapshot; an empty store yields an empty frame."""
    stored, _ = fsio.read_latest(spark, store_path, "v=")
    if stored is None:
        stored = spark.createDataFrame([], _SCHEMA)
    return (
        stored
        .groupBy("event_type", F.expr(floordiv_sql("hour_b", 24)).alias("day_b"))
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s").alias("sum_cents"),
            F.min("mn").alias("min_cents"),
            F.max("mx").alias("max_cents"),
            F.count("*").alias("n_hours_active"),
        )
    )
