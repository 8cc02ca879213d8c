"""Long-document skew: one conversation far larger than every other must
assemble correctly (stable ordering, byte-exact combine) and its turns must
spread across many tasks in the map stage — the scan-native-splits skew
story from plans/pipeline.py."""
import datetime as dt

from pyspark.sql import functions as F

from pdf_extractor_spark.kernels.segment import combine_markdown_sections, extract_turn
from pdf_extractor_spark.plans.pipeline import assemble_conversations, extract_transcripts

GIANT_TURNS = 1200
SMALL_CONVS = 30


def _rows():
    import random

    from pdf_extractor_spark.sources.transcripts import make_pdf_payload

    base = dt.datetime(2025, 1, 1)
    rows = []
    rng = random.Random("skew:42")
    for i in range(GIANT_TURNS):
        text = (f"turn {i} " + make_pdf_payload(rng)) if i % 17 == 0 else f"turn {i}"
        rows.append(("conv_giant", i, "assistant", text, None, base))
    for c in range(SMALL_CONVS):
        rows.append((f"conv_{c:04d}", 0, "user", f"hello {c}", None, base))
    return rows


def test_giant_conversation_assembles_byte_exact(spark):
    df = spark.createDataFrame(
        _rows(),
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    ).repartition(16)  # giant conv's turns scattered across tasks
    extracted = extract_transcripts(df)
    assembled = {
        r["conv_id"]: r for r in assemble_conversations(extracted).collect()
    }
    assert assembled["conv_giant"]["n_turns"] == GIANT_TURNS

    golden_sections = [
        extract_turn(text)["extracted_text"]
        for (_, _, _, text, _, _) in sorted(
            (r for r in _rows() if r[0] == "conv_giant"), key=lambda r: r[1]
        )
    ]
    assert (
        assembled["conv_giant"]["conversation_markdown"]
        == combine_markdown_sections(golden_sections)
    )
    assert len(assembled) == SMALL_CONVS + 1


def test_mega_conversation_assembles(spark):
    """A 10^5-turn conversation assembles through the one-shuffle path:
    every turn, in turn order, in one combined row."""
    n = 100_000
    df = spark.range(n).select(
        F.lit("conv_mega").alias("conv_id"),
        F.col("id").cast("int").alias("turn_idx"),
        F.lit("assistant").alias("role"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.lit(dt.datetime(2025, 1, 1)).alias("ts"),
    )
    extracted = extract_transcripts(df)
    row = assemble_conversations(extracted).collect()[0]
    assert row["n_turns"] == n
    md = row["conversation_markdown"]
    assert md.startswith("t0") and md.endswith(f"t{n - 1}")
    # stable ordering spot-check mid-conversation
    assert "t1023\n\n---\n\nt1024" in md


def test_map_stage_has_no_preshuffle(spark):
    df = spark.createDataFrame(
        _rows()[:50],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    plan = extract_transcripts(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
