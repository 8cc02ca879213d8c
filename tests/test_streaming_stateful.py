"""Custom stateful streaming operator: per-conversation assembly state must
survive across micro-batches (maxFilesPerTrigger=1 forces multiple batches)
and the final snapshot per conversation must equal the batch assembly."""
import os

import pytest

from pdf_extractor_spark.plans.pipeline import assemble_conversations, extract_transcripts
from pdf_extractor_spark.sources.transcripts import TRANSCRIPT_SCHEMA, transcripts_df
from pdf_extractor_spark.streaming.stateful import assemble_stream

N_CONVS = 8
SEED = 42


@pytest.fixture(scope="module")
def corpus_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("stateful") / "transcripts")
    # several files -> several micro-batches with maxFilesPerTrigger=1
    transcripts_df(spark, N_CONVS, SEED).repartition(4).write.parquet(path)
    return path


def test_stateful_assembly_matches_batch(spark, corpus_dir, tmp_path):
    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(corpus_dir)
    )
    q = (
        assemble_stream(extract_transcripts(stream))
        .writeStream.format("memory")
        .queryName("assembled_snapshots")
        .outputMode("update")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    # state crossed batch boundaries: snapshots grew over multiple updates
    snaps = spark.sql(
        "SELECT conv_id, count(*) AS n_snapshots FROM assembled_snapshots "
        "GROUP BY conv_id"
    ).collect()
    assert max(r["n_snapshots"] for r in snaps) > 1

    # last snapshot per conv == batch assembly, byte-for-byte
    final = {
        r["conv_id"]: r
        for r in spark.sql(
            """
            SELECT conv_id, n_turns, conversation_markdown FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY conv_id ORDER BY n_turns DESC) AS rk
                FROM assembled_snapshots
            ) WHERE rk = 1
            """
        ).collect()
    }
    batch = {
        r["conv_id"]: r
        for r in assemble_conversations(
            extract_transcripts(spark.read.parquet(corpus_dir))
        ).collect()
    }
    assert set(final) == set(batch)
    for cid in batch:
        assert final[cid]["n_turns"] == batch[cid]["n_turns"], cid
        assert (
            final[cid]["conversation_markdown"]
            == batch[cid]["conversation_markdown"]
        ), cid
