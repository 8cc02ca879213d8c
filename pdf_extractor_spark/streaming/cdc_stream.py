"""Streaming CDC maintenance: the foreachBatch composition of the
warehouse snapshot-diff classification — a keyed upsert/tombstone stream
maintains a latest-state snapshot table AND emits each micro-batch's change
rows (insert / update / delete), i.e. the CDC read of a streamed MERGE INTO.

Input rows are (doc_id, text, seq): text = the new content (upsert), text
IS NULL = tombstone (delete); ``seq`` breaks ties when one batch carries
several writes to the same key (last writer wins — the within-batch window
is keyed on doc_id, so its state is one key's writes, never the corpus).

Per batch the work is O(batch ∪ touched keys): one within-batch
last-writer window, one full-outer key-equi join against the stored state,
a pure-expression classification, and two parquet publishes. History is
never recomputed.

Exactly-once: the state is an fsio versioned store published as
``v=<batch_id>``, and the change log appends ``chg=<batch_id>`` dirs.
Changes are written BEFORE the state publishes: a crash between the two leaves the
change dir present but the state at the previous version, so the replayed
batch (same input, same stored state — both deterministic) rewrites an
identical change set in place and then publishes the state. A replay after
the state committed is a no-op.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans import fsio

_STATE_SCHEMA = "doc_id long, digest string"


def apply_batch(batch: DataFrame, batch_id: int, store_path: str) -> None:
    """foreachBatch body: classify this batch's writes against the stored
    state, append the change rows, publish the new state snapshot."""
    spark = batch.sparkSession
    stored, last_id = fsio.read_latest(spark, store_path, "v=")
    if batch_id <= last_id:
        return  # replay after commit — state and changes already published
    if stored is None:
        stored = spark.createDataFrame([], _STATE_SCHEMA)

    w = Window.partitionBy("doc_id").orderBy(F.desc("seq"))
    latest = (
        batch.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "doc_id",
            F.md5("text").alias("new_digest"),
            F.col("text").isNull().alias("tomb"),
        )
    )
    j = stored.withColumnRenamed("digest", "old_digest").join(
        latest, "doc_id", "full_outer"
    )
    change = (
        F.when(
            ~F.coalesce("tomb", F.lit(True))
            & F.col("old_digest").isNull(),
            F.lit("insert"),
        )
        .when(
            ~F.coalesce("tomb", F.lit(True))
            & (F.col("old_digest") != F.col("new_digest")),
            F.lit("update"),
        )
        .when(
            F.coalesce("tomb", F.lit(False))
            & F.col("old_digest").isNotNull(),
            F.lit("delete"),
        )
    )
    classified = j.withColumn("change", change).localCheckpoint(eager=True)

    changes = classified.where(F.col("change").isNotNull()).select(
        "doc_id", "change", "old_digest", "new_digest"
    )
    changes.write.mode("overwrite").parquet(f"{store_path}/chg={batch_id}")

    # next state: tombstoned keys drop; upserts take the new digest;
    # untouched stored keys carry forward
    new_state = (
        classified.where(
            ~F.coalesce("tomb", F.lit(False))
            & (F.col("new_digest").isNotNull() | F.col("old_digest").isNotNull())
        )
        .select(
            "doc_id",
            F.coalesce("new_digest", "old_digest").alias("digest"),
        )
    )
    fsio.publish(new_state, store_path, "v=", batch_id)


def cdc_sink(stream: DataFrame, store_path: str):
    """writeStream wiring for a (doc_id, text, seq) upsert/tombstone
    stream; caller starts with its checkpoint dir."""

    def _fn(batch: DataFrame, batch_id: int) -> None:
        apply_batch(batch.select("doc_id", "text", "seq"), batch_id, store_path)

    return stream.writeStream.foreachBatch(_fn)


def state_from_store(spark: SparkSession, store_path: str) -> DataFrame:
    """The read side: the latest committed state (doc_id, digest)."""
    stored, _ = fsio.read_latest(spark, store_path, "v=")
    return (
        spark.createDataFrame([], _STATE_SCHEMA) if stored is None else stored
    )


def changes_log(spark: SparkSession, store_path: str) -> DataFrame:
    """All committed change rows, stamped with their batch id."""
    vs = fsio.committed_versions(spark, store_path, "chg=")
    out = None
    for v in vs:
        part = spark.read.parquet(f"{store_path}/chg={v}").withColumn(
            "batch_id", F.lit(v).cast("long")
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        out = spark.createDataFrame(
            [],
            "doc_id long, change string, old_digest string, "
            "new_digest string, batch_id long",
        )
    return out
