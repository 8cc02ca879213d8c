"""Streaming incremental packing: micro-batch outputs must concatenate to
exactly the one-shot packing of the full stream, and replays of a batch
must not duplicate or shift the layout."""
import pyspark.sql.functions as F

from pdf_extractor_spark.operators.packing import token_packing
from pdf_extractor_spark.streaming.packing_stream import (
    pack_batch,
    packing_sink,
)

DOC_SCHEMA = "doc_id long, text string"


def _docs(spark, lo, hi):
    rows = [(i, f"tok {'x ' * (i % 9)}") for i in range(lo, hi)]
    return spark.createDataFrame(rows, DOC_SCHEMA)


def test_stream_equals_one_shot(spark, tmp_path):
    src = str(tmp_path / "src")
    hwm = str(tmp_path / "hwm")
    out = str(tmp_path / "out")
    # two files -> two micro-batches, in doc order
    _docs(spark, 0, 30).coalesce(1).write.mode("overwrite").parquet(src)
    _docs(spark, 30, 50).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        packing_sink(stream, hwm, out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: r
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: r
        for r in token_packing(_docs(spark, 0, 50)).collect()
    }
    assert set(got) == set(want)
    for i, w in want.items():
        for f in ("n_tokens", "global_start", "seq_id", "seq_offset", "n_seqs"):
            assert got[i][f] == w[f], (i, f)


def test_replayed_batch_is_idempotent(spark, tmp_path):
    hwm = str(tmp_path / "hwm")
    out = str(tmp_path / "out")
    b0 = _docs(spark, 0, 10)
    b1 = _docs(spark, 10, 20)
    pack_batch(b0, 0, hwm, out)
    pack_batch(b1, 1, hwm, out)
    before = sorted(
        (r["doc_id"], r["global_start"])
        for r in spark.read.parquet(out).collect()
    )
    # replay both batches (post-commit replays must be no-ops)
    pack_batch(b0, 0, hwm, out)
    pack_batch(b1, 1, hwm, out)
    after = sorted(
        (r["doc_id"], r["global_start"])
        for r in spark.read.parquet(out).collect()
    )
    assert after == before
    # a crash BETWEEN the output write and the mark write leaves batch 0's
    # mark as the latest committed one: simulate by deleting batch 1's mark
    # snapshot, then replaying batch 1 — it must repack against batch 0's
    # mark into the identical layout and re-publish its mark
    from pdf_extractor_spark.plans import fsio
    from pdf_extractor_spark.streaming.packing_stream import (
        _read_hwm,
        token_count_of,
    )

    mark0 = spark.createDataFrame(
        [(token_count_of(b0), 0)], "hwm long, batch_id long"
    )
    fsio.publish(mark0, hwm, "b=", 0)  # restore b0's mark...
    fsio.delete(spark, f"{hwm}/b=1")  # ...and erase b1's, as if never written
    assert _read_hwm(spark, hwm) == (token_count_of(b0), 0)
    pack_batch(b1, 1, hwm, out)
    again = sorted(
        (r["doc_id"], r["global_start"])
        for r in spark.read.parquet(out).collect()
    )
    assert again == before
    assert _read_hwm(spark, hwm) == (
        token_count_of(b0) + token_count_of(b1),
        1,
    )


def test_crashed_mark_write_is_invisible(spark, tmp_path):
    """A mark write that died mid-flight (directory exists, no _SUCCESS)
    must not be read as the latest mark — the previous committed mark keeps
    serving, and the batch's replay self-cleans the debris."""
    import os

    from pdf_extractor_spark.streaming.packing_stream import (
        _read_hwm,
        token_count_of,
    )

    hwm = str(tmp_path / "hwm")
    out = str(tmp_path / "out")
    b0 = _docs(spark, 0, 10)
    b1 = _docs(spark, 10, 20)
    pack_batch(b0, 0, hwm, out)
    t0 = token_count_of(b0)
    assert _read_hwm(spark, hwm) == (t0, 0)

    # debris of a crashed mark write for batch 1: no _SUCCESS marker
    os.makedirs(os.path.join(hwm, "b=1", "_temporary"))
    assert _read_hwm(spark, hwm) == (t0, 0)  # still batch 0's mark

    pack_batch(b1, 1, hwm, out)  # replay commits over the debris
    assert _read_hwm(spark, hwm) == (t0 + token_count_of(b1), 1)
