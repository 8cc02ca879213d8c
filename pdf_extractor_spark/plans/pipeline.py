"""The flagship extraction pipeline: transcripts -> per-turn extraction ->
per-conversation assembly + validation rollup.

Spark-first layout of the reference's EP2 lifecycle (SURVEY.md §3):
    read -> JVM-side payload routing (F2 CASE) -> Arrow kernel UDF for the
    ~5% payload-bearing turns ONLY -> per-turn result table
    -> window-ordered per-conversation assembly (byte-exact combine, pure
       expressions) -> validation report aggregate (A3/A4)

Scale notes (10^12 turns):
- **Python touches only payload rows.** The router predicate (pdf-prefix /
  html-head detection, mirroring kernels.segment.detect_payload_kind) runs
  JVM-side; plain turns' text is nulled out before the Arrow boundary, so the
  Arrow UDF transfers ~nothing for the ~95% of rows whose extraction is the
  identity and hands back a null struct for each. ``coalesce`` replaces
  those nulls with the plain result, one struct of built-in expressions.
- **No pre-shuffle.** The per-turn map runs on scan-native partitions:
  parquet/Iceberg splits are byte-balanced (``files.maxPartitionBytes``),
  which defuses long-document skew better than a row-hash repartition —
  a row-count-balanced salt would co-locate many heavy payload rows. A
  caller whose source has no splittable layout (one file per giant
  conversation) repartitions its own input first.
- The only shuffle is the final per-conversation regroup; AQE coalesces its
  output partitions and splits skewed groups' sort spills. Its coalescing
  floor is 64 KB (session.get_spark), so a small regroup still comes out
  as about one partition per core, not one 1 MB partition: the curate
  stages that map over this output stay parallel.
- Per-turn results can be written (and resumed) independently of assembly,
  so the expensive stage is checkpointed before the shuffle (plans.manifest).
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import (
    VALIDATION_COST_PER_1K_TOKENS,
    VALIDATION_TOKENS_PER_PAGE,
)
from ..functions.expressions import combine_sections_expr, sql_literal
from ..functions.udfs import EXTRACTION_TYPE, extract_turn_udf
from ..kernels.segment import PDF_PAYLOAD_PREFIX


def _kind_expr() -> F.Column:
    """JVM replica of kernels.segment.detect_payload_kind — same precedence:
    layout prefix anywhere, else pdf prefix anywhere, else html open marker
    + closing tag anywhere (case-insensitive), else plain. SQL text: one
    py4j call, where the Column tree costs several per node."""
    from ..kernels.layout import LAYOUT_PAYLOAD_PREFIX
    from ..kernels.segment import HTML_CLOSE, HTML_MARKERS

    has_open = " OR ".join(
        f"contains(lower(text), {sql_literal(m)})" for m in HTML_MARKERS
    )
    return F.expr(
        "CASE WHEN text IS NULL OR text = '' THEN 'plain'"
        f" WHEN contains(text, {sql_literal(LAYOUT_PAYLOAD_PREFIX)}) THEN 'layout'"
        f" WHEN contains(text, {sql_literal(PDF_PAYLOAD_PREFIX)}) THEN 'pdf'"
        f" WHEN ({has_open}) AND contains(lower(text), {sql_literal(HTML_CLOSE)})"
        " THEN 'html' ELSE 'plain' END"
    )


def _plain_result_sql() -> str:
    """A plain turn's result, built JVM-side (the twin of the kernel's plain
    branch): the text is its own single page, spanned whole; no problems."""
    has_text = "(text IS NOT NULL AND text != '')"
    return (
        f"CAST(struct('plain', CAST({has_text} AS INT), coalesce(text, ''),"
        f" CASE WHEN {has_text} THEN array(struct(0, length(text)))"
        " ELSE array() END, array(), array(), array(), true)"
        f" AS {EXTRACTION_TYPE.simpleString()})"
    )


def extract_transcripts(transcripts: DataFrame) -> DataFrame:
    """Per-turn extraction map. Returns one row per input turn: every input
    column except ``text`` (conv_id, turn_idx, role, tool, ts, ... pass
    through), then

    kind, n_pages, extracted_text, spans, problems, sections,
    repaired_pages, valid, n_chars

    The router, the plain result and the field select are SQL text, one
    py4j call each; only the UDF call is a Column, staged as ``_u`` in its
    own projection so that the field select can name it."""
    df = transcripts.withColumn("kind", _kind_expr())
    # Null input for plain rows: the Arrow transfer carries only payload rows'
    # text, and the UDF's null result falls through to the plain struct.
    payload_text = F.expr("CASE WHEN kind != 'plain' THEN text END")
    x = f"coalesce(_u, {_plain_result_sql()})"
    fields = [f.name for f in EXTRACTION_TYPE.fields if f.name != "kind"]
    result = df.withColumn("_u", extract_turn_udf(payload_text)).selectExpr(
        *[f"`{c}`" for c in df.columns if c != "text"],
        *[f"({x}).{f} AS {f}" for f in fields],
    )
    return result.withColumn("n_chars", F.expr("length(extracted_text)"))


def assemble_conversations(extracted: DataFrame) -> DataFrame:
    """Per-conversation regroup with stable turn ordering — pure built-ins:
    ONE shuffle keyed on conv_id, ``sort_array(collect_list(struct(turn_idx,
    extracted_text)))``, then the A1 combine expression (byte-parity with
    kernels.segment.combine_markdown_sections is pinned by
    tests/test_pipeline_golden.py). Each text byte crosses the wire once and
    AQE splits skewed groups' sort spills; a 10^5-turn mega-conversation is
    pinned by tests/test_skew.py (SCALE.md has the timings up to 5*10^6)."""
    base = extracted.selectExpr(
        "conv_id", "turn_idx", "extracted_text", "n_pages",
        "CAST(size(problems) > 0 AS INT) AS has_problem",
        "size(repaired_pages) AS n_repaired",
    )
    agg = base.groupBy("conv_id").agg(
        F.expr("CAST(count(*) AS INT) AS n_turns"),
        F.expr(
            "sort_array(collect_list(struct(turn_idx, extracted_text))) "
            "AS ordered"
        ),
        F.expr("sum(n_pages) AS total_pages"),
        F.expr("CAST(sum(has_problem) AS INT) AS problem_turns"),
        F.expr("CAST(sum(n_repaired) AS INT) AS repaired_pages"),
    )
    texts = F.expr("transform(ordered, s -> s.extracted_text)")
    return agg.select(
        "conv_id",
        "n_turns",
        combine_sections_expr(texts).alias("conversation_markdown"),
        "total_pages",
        "problem_turns",
        "repaired_pages",
    )


def validation_report(extracted: DataFrame) -> DataFrame:
    """A3/A4: per-conversation validation rollup with the reference's cost
    model (pages_validated * 500 tokens * $0.01/1k) and priority-max overall
    status (problems_fixed > warnings > passed). Pure built-in aggregates."""
    per_turn_status = extracted.withColumn(
        "status",
        F.when(F.size("repaired_pages") > 0, F.lit("problems_fixed"))
        .when(F.size("problems") > 0, F.lit("warnings"))
        .otherwise(F.lit("passed")),
    )
    agg = per_turn_status.groupBy("conv_id").agg(
        F.count("*").alias("total_turns"),
        F.sum("n_pages").alias("total_pages"),
        F.sum(F.size("problems")).alias("total_problems"),
        F.sort_array(
            F.collect_list(F.when(F.size("problems") > 0, F.col("turn_idx")))
        ).alias("problem_turns"),
        F.sum((F.col("status") == "problems_fixed").cast("int")).alias("n_fixed"),
        F.sum((F.col("status") == "warnings").cast("int")).alias("n_warnings"),
        F.sum((F.col("status") == "passed").cast("int")).alias("n_passed"),
    )
    cost_per_page = VALIDATION_TOKENS_PER_PAGE * VALIDATION_COST_PER_1K_TOKENS / 1000.0
    # A4 breakdown map (reference default_handler.py:199-238): status -> count,
    # only statuses actually seen — mirrors the reference's dict semantics.
    breakdown = F.map_from_entries(
        F.filter(
            F.array(
                F.struct(F.lit("problems_fixed").alias("k"), F.col("n_fixed").alias("v")),
                F.struct(F.lit("warnings").alias("k"), F.col("n_warnings").alias("v")),
                F.struct(F.lit("passed").alias("k"), F.col("n_passed").alias("v")),
            ),
            lambda s: s["v"] > 0,
        )
    )
    return agg.select(
        "*",
        F.when(F.col("n_fixed") > 0, F.lit("problems_fixed"))
        .when(F.col("n_warnings") > 0, F.lit("warnings"))
        .otherwise(F.lit("passed"))
        .alias("overall_status"),
        breakdown.alias("status_breakdown"),
        (F.col("total_pages") * F.lit(cost_per_page)).alias("estimated_cost"),
    )


def tool_usage(transcripts: DataFrame) -> DataFrame:
    """Per-conversation tool-call rollup over the raw transcript columns the
    input contract carries (`role`/`tool`/`ts`): tool-turn count, the
    deterministic sorted set of tools used, and the conversation's
    event-time span. One keyed aggregation; collect_list drops the null
    tool of non-tool turns for free."""
    return transcripts.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.sum((F.col("role") == "tool").cast("int")).alias("n_tool_turns"),
        F.array_join(
            F.array_distinct(F.sort_array(F.collect_list("tool"))), ","
        ).alias("tools_used"),
        # difference of fractional epoch seconds, truncated ONCE — per-
        # endpoint unix_timestamp() truncation would be off by a second on
        # sub-second timestamps
        (F.max("ts").cast("double") - F.min("ts").cast("double"))
        .cast("long")
        .alias("span_seconds"),
    )


def run_pipeline(transcripts: DataFrame) -> DataFrame:
    """Full job: extraction map -> assembly. Returns the assembled
    conversations DataFrame (lazy; caller writes or collects)."""
    return assemble_conversations(extract_transcripts(transcripts))
