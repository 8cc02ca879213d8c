"""Structured Streaming end-to-end: the stateless extraction map and the
watermarked windowed aggregate must run under micro-batch execution
(availableNow trigger) and agree with the batch pipeline on the same rows."""
import os

import pytest

from pdf_extractor_spark.plans.pipeline import extract_transcripts
from pdf_extractor_spark.sources.transcripts import TRANSCRIPT_SCHEMA, transcripts_df
from pdf_extractor_spark.streaming.micro_batch import windowed_problem_counts

N_CONVS = 10
SEED = 42


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stream") / "transcripts")
    transcripts_df(spark, N_CONVS, SEED).write.parquet(path)
    return path


def test_extract_stream_matches_batch(spark, corpus_dir, tmp_path):
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(corpus_dir)
    q = (
        extract_transcripts(stream)
        .writeStream.format("memory")
        .queryName("extracted_stream")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt1"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT kind, count(*) AS n FROM extracted_stream GROUP BY kind"
    ).collect()
    batch = spark.read.parquet(corpus_dir)
    expected = {
        r["kind"]: r["count"]
        for r in extract_transcripts(batch).groupBy("kind").count().collect()
    }
    assert {r["kind"]: r["n"] for r in got} == expected
    assert expected.get("pdf", 0) > 0  # payloads actually streamed
    # same rows as the batch map, event time carried through
    cols = ["conv_id", "turn_idx", "ts", "extracted_text"]
    streamed = spark.sql(f"SELECT {', '.join(cols)} FROM extracted_stream")
    assert sorted(map(tuple, streamed.collect())) == sorted(
        map(tuple, extract_transcripts(batch).select(*cols).collect())
    )


def test_windowed_aggregate_with_watermark(spark, corpus_dir, tmp_path):
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(corpus_dir)
    agg = windowed_problem_counts(extract_transcripts(stream))
    q = (
        agg.writeStream.format("memory")
        .queryName("windowed_problems")
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM windowed_problems").collect()
    assert len(rows) > 0
    total_turns = sum(r["turns"] for r in rows)
    assert total_turns == spark.read.parquet(corpus_dir).count()


def test_dedup_stream_drops_in_window_duplicates(spark, tmp_path):
    """Streaming exact dedup: duplicate content inside the watermark window
    is dropped; distinct content survives."""
    import datetime as dt

    from pdf_extractor_spark.streaming.micro_batch import dedup_stream

    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        ("c1", 0, "user", "hello world", None, t0),
        ("c1", 1, "assistant", "HELLO,  world!", None,
         t0 + dt.timedelta(minutes=1)),  # same normalized content -> dup
        ("c2", 0, "user", "something else entirely", None,
         t0 + dt.timedelta(minutes=2)),
        ("c2", 1, "user", "hello world", None,
         t0 + dt.timedelta(minutes=3)),  # dup again
    ]
    src = os.path.join(str(tmp_path), "src")
    spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).write.parquet(src)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    q = (
        dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_stream_t")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt_dd"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT conv_id, turn_idx FROM dedup_stream_t ORDER BY conv_id, turn_idx"
    ).collect()
    kept = {(r["conv_id"], r["turn_idx"]) for r in got}
    assert ("c2", 0) in kept
    # exactly one of the three same-content turns survives
    same = {("c1", 0), ("c1", 1), ("c2", 1)}
    assert len(kept & same) == 1
    assert len(kept) == 2


def test_session_window_stream_matches_batch(spark, tmp_path):
    """Streaming session windows (session_window + watermark) over the
    events fixture must equal the oracle-checked batch operator — the
    'runs unchanged under Structured Streaming' claim, executed."""
    from pdf_extractor_spark.operators.windows import q_session_window_agg
    from pdf_extractor_spark.streaming.micro_batch import session_spend_stream

    # stage the fixture into a DIRECTORY (readStream refuses a bare file)
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    sf = str(tmp_path / "sf")
    src.write.mode("overwrite").parquet(f"{sf}/events.parquet")
    stream = spark.readStream.schema(src.schema).parquet(f"{sf}/events.parquet")
    q = (
        session_spend_stream(stream)
        .writeStream.format("memory")
        .queryName("session_spend")
        .outputMode("complete")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt_sw"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM session_spend").collect()))
    want = sorted(map(tuple, q_session_window_agg(spark, sf).collect()))
    assert got == want
