"""Streaming sequence packing: the foreachBatch composition of
``operators.packing.token_packing_incremental``.

Each micro-batch packs against the corpus token high-water mark persisted
in a 1-row parquet artifact and advances it — so the concatenation of all
micro-batch outputs is byte-identical to one-shot packing of the full
stream (the invariant the batch oracle proves). This is the production
continuous-ingest shape: per batch O(batch) compute, one tiny HWM
read/write, no repacking of history; a partial final sequence keeps
filling across batch boundaries exactly as it does across daily appends.

A genuinely global token axis is order-defined, so batches must be
packed in arrival order — foreachBatch gives exactly that (batch_id is
totally ordered, one at a time). Exactly-once: the HWM write carries the
batch_id; a replayed batch (same id) is packed against the SAME stored
mark it used the first time, so retries are idempotent (the
dedup_incremental two-phase lesson applied to packing).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expressions import token_count_expr
from ..operators.packing import token_packing_incremental
from ..plans import fsio


def _read_hwm(spark: SparkSession, path: str):
    """(hwm, last_batch_id) from the latest committed ``b=<id>`` mark,
    (0, -1) on first start."""
    mark, b = fsio.read_latest(spark, path, "b=")
    if mark is None:
        return 0, -1
    return int(mark.first()["hwm"]), b


def pack_batch(
    batch: DataFrame, batch_id: int, hwm_path: str, out_path: str
) -> None:
    """The foreachBatch body: pack this batch against the stored mark,
    append its rows, advance the mark. Replays (same batch_id) re-read
    the same mark, so the output layout is stable under retries."""
    spark = batch.sparkSession
    hwm, last_id = _read_hwm(spark, hwm_path)
    if batch_id <= last_id:
        return  # already fully committed — a replay after both writes
    packed = token_packing_incremental(batch, hwm).localCheckpoint(
        eager=True
    )
    batch_tokens = (
        packed.agg(F.coalesce(F.sum("n_tokens"), F.lit(0)).alias("t"))
        .first()["t"]
    )
    # two-phase, batch-keyed: the output is an OVERWRITE of this batch's
    # own partition (never an append), so a crash between the two writes
    # replays into the identical layout (same stored mark -> same rows)
    # instead of duplicating; then the mark advances.
    packed.write.mode("overwrite").parquet(
        f"{out_path}/batch_id={batch_id}"
    )
    mark = spark.createDataFrame(
        [(hwm + int(batch_tokens), batch_id)], "hwm long, batch_id long"
    ).coalesce(1)
    fsio.publish(mark, hwm_path, "b=", batch_id)


def packing_sink(stream: DataFrame, hwm_path: str, out_path: str):
    """writeStream wiring: stream must carry (doc_id, text); returns the
    DataStreamWriter (caller starts it with its own checkpoint dir)."""

    def _fn(batch: DataFrame, batch_id: int) -> None:
        pack_batch(
            batch.select(
                "doc_id", "text"
            ),
            batch_id,
            hwm_path,
            out_path,
        )

    return stream.writeStream.foreachBatch(_fn)


def token_count_of(df: DataFrame) -> int:
    """Exact token total of a frame (test/verification helper, same
    tokenizer as the packer)."""
    return int(
        df.agg(
            F.coalesce(
                F.sum(token_count_expr(F.col("text")).cast("long")), F.lit(0)
            )
        ).first()[0]
    )
