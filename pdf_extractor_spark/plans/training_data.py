"""End-to-end training-data pipeline: transcripts in, training-ready
corpus out.

Composes the engine's stages the way a real data-curation job would:

    extract (payload-routed Arrow kernel)
      -> assemble per-conversation markdown
      -> Gopher-style quality gate (exact integer rules)
      -> C4 line-level boilerplate removal (corpus-wide hot lines)
      -> Gopher repetition gate (top n-gram / dup 5-gram coverage)
      -> span-level benchmark decontamination (optional eval-suite input)
      -> PII redaction (email / IPv4 / card placeholders)
      -> exact dedup (md5 of normalized text, keep min conv_id)
      -> deterministic holdout split (content-stable md5 buckets)

Shuffle budget: the assembly regroup, the dedup groupBy, plus the
boilerplate stage's digest-keyed frequency count + per-conv regroup, the
repetition stage's conv-keyed gram rollup, and (with a benchmark) the
decontamination stage's broadcast shingle join + contaminated-rows-only
regroup — every one keyed and AQE-managed; nothing quadratic or globally
sorted. Each stage is individually oracle-checked via its `queries()`
twin; this module pins that they compose (tests/test_training_data.py +
the /verify drive)."""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.expressions import (
    nonblank_lines_sql,
    normalize_for_comparison_sql,
    split_words_sql,
)
from ..operators.dedup import (
    _positional_shingles_col,
    decontaminate_spans,
    paragraph_dedup,
)
from ..operators.text_analysis import repetition_filters, word_stats_exprs
from ..operators.text_ops import holdout_split_expr, pii_redact_expr
from .pipeline import assemble_conversations, extract_transcripts

# Gopher gates, cross-multiplied integer form. The STATS come from the
# oracle-gated word_stats_exprs; the THRESHOLDS deliberately deviate from
# q_gopher_quality's document rules: higher word floor (conversations are
# longer than single documents), mean-word-length ceiling 12 not 10
# (markdown headers/separators inflate it), and no bullet rule (assembled
# conversations legitimately contain table/list markup).
MIN_WORDS = 20
MAX_WORDS = 1_000_000
QUALITY_KEEP_SQL = (
    f"n_words >= {MIN_WORDS} AND n_words <= {MAX_WORDS}"
    " AND sum_chars >= 3 * n_words AND sum_chars <= 12 * n_words"
    " AND 5 * n_alpha_words >= 4 * n_words"
)


def curate(
    transcripts: DataFrame, benchmark: DataFrame | None = None
) -> DataFrame:
    """Transcripts -> one row per kept conversation:
    (conv_id, split, text, n_words, n_turns, total_pages,
    n_boiler_lines, n_decon_words).

    ``benchmark``, when given, is the held-out eval suite as a frame with
    a ``text`` column; every word of a conversation covered by a
    benchmark-overlapping 3-shingle is scrubbed (span-level — the clean
    99% of a long conversation survives), with the removed-word count
    reported per conversation. Without it the stage is skipped and
    n_decon_words is 0.

    NOTE: calling this EAGERLY materializes the intermediate stages (see
    ``iter_curate_stages``); the returned frame is the lazy final stage
    reading the last materialization."""
    for _name, out in iter_curate_stages(transcripts, benchmark):
        pass
    return out


def iter_curate_stages(
    transcripts: DataFrame,
    benchmark: DataFrame | None = None,
):
    """``curate`` as a generator of (stage_name, frame) — the last frame
    IS curate's output.

    Every intermediate stage output is materialized with an eager
    localCheckpoint at yield time (the lsh_score_pipeline pattern): the
    quality/boilerplate/repetition gates each consume their input TWICE
    (signal-frame build + join-back), and without a materialization each
    side would re-evaluate the whole extract->assemble subtree per the
    self-join recompute rule — measured at ~4x the extraction cost on the
    bench corpus. Materializing also makes per-stage timing honest:
    advancing the generator + one action on the yielded frame costs
    exactly that stage's work, so bench.py's stage wall times sum to the
    end-to-end total instead of the old cumulative-prefix subtraction.

    The text splits are computed ONCE and ride the checkpoints: the
    quality stage stores the non-blank LINE array (the C4 passage unit —
    post-quality text is exactly those lines joined by newline, so raw
    text is not carried twice); the boilerplate stage stores the cleaned
    text plus its whitespace word split ``ws``, which feeds both the
    recomputed n_words and the repetition gate's gram build (no re-split
    per gate). The quality stage splits the markdown into words once too:
    it checkpoints the SCORED frame and yields the gate as a filter over
    that checkpoint, since a filter ahead of the checkpoint had each word
    statistic's split substituted into it (12 splits per conversation in
    the optimized plan, 2 now). The final stage is yielded lazy for the
    consumer to sink.

    Every stage is a per-conversation map or a shuffle whose output AQE
    coalesces; the session's 64 KB coalescing floor (session.get_spark)
    keeps a small corpus at about one partition per core through every
    stage, so the CPU-dense row work (HOF gram sorts, word stats, PII
    regexes) runs on all cores. At Spark's 1 MB floor, a corpus whose
    assembly shuffle was a few MB ran every stage as one task.

    Every projection and predicate on this path is SQL text (one
    ``selectExpr`` / ``F.expr`` parse per projection); only the extraction
    UDF call is a Column. pyspark 4 records the call site of every ``F.*``
    call at several py4j round trips each, so the same stages built from
    Column trees took about 6,900 round trips per run of this generator,
    near a second of driver time on a 3 s corpus, before any row moved;
    as SQL text they take about 1,300 (perfbench curate, seed 1)."""
    assembled = assemble_conversations(
        extract_transcripts(transcripts)
    ).localCheckpoint(eager=True)
    yield ("extract_assemble", assembled)

    # the same word statistics the oracle-gated q_gopher_quality uses; the
    # non-blank line split (the C4 passage unit) is materialized here so
    # the boilerplate stage never re-splits — and since clean text is
    # exactly (kept lines joined "\n"), the raw markdown is NOT carried
    # forward at all. The word split ``ws`` is staged in its own
    # projection, so the three statistics share one split per row; the
    # scored frame is materialized BEFORE the gate filters it, because
    # pushdown would substitute the statistics' alias trees (each with its
    # own split) into the predicate.
    scored = (
        assembled.selectExpr(
            "conv_id",
            "n_turns",
            "total_pages",
            f"{nonblank_lines_sql('conversation_markdown')} AS lines",
            f"{split_words_sql('conversation_markdown')} AS ws",
        )
        .selectExpr(
            "conv_id", "n_turns", "total_pages", "lines",
            *word_stats_exprs("ws"),
        )
        .localCheckpoint(eager=True)
    )
    kept = scored.where(QUALITY_KEEP_SQL)
    yield ("quality_gate", kept)

    # C4 line rule verbatim on the assembled markdown (real newlines here):
    # any non-blank line occurring >= 3 times corpus-wide — page headers,
    # repeated banners — is boilerplate and is removed from every
    # conversation. n_words is recomputed on the cleaned text so the
    # output's stats describe what ships; its word split ``ws`` is stored
    # for the repetition gate.
    boiler = paragraph_dedup(
        kept.selectExpr("conv_id AS doc_id", "lines"),
        passages=F.col("lines"),
        joiner="\n",
    ).selectExpr(
        "doc_id AS conv_id", "clean_text AS text", "n_removed AS n_boiler_lines"
    )
    cleaned = (
        kept.drop("lines", "n_words")
        .join(boiler, "conv_id")
        .withColumn("ws", F.expr(split_words_sql("text")))
        .withColumn("n_words", F.expr("size(ws)"))
        .localCheckpoint(eager=True)
    )
    yield ("boilerplate_c4", cleaned)

    # Gopher repetition gate on the cleaned text: conversations dominated
    # by one repeated n-gram are dropped entirely (semi-join on the
    # oracle-gated signal frame's keep bit, fed the stored word split).
    # The signal frame MUST materialize before the keep filter: pushing
    # the predicate through the operator's staged projections substitutes
    # the sorted-gram alias trees into the condition, where zip_with
    # lambdas then re-evaluate the captured sort per ELEMENT — measured as
    # a >40x blowup (8 s -> stuck) on the bench corpus. The frame is 8
    # small columns per conversation, so the checkpoint is cheap.
    rep_sig = repetition_filters(
        cleaned.selectExpr("conv_id AS doc_id", "ws"),
        words=F.col("ws"),
    ).localCheckpoint(eager=True)
    rep_keep = rep_sig.where("keep").selectExpr("doc_id AS conv_id")
    gated = (
        cleaned.drop("ws").join(rep_keep, "conv_id", "left_semi")
        .localCheckpoint(eager=True)
    )
    yield ("repetition_gate", gated)

    # span-level benchmark decontamination (eval-overlap scrubbing): only
    # when an eval suite is supplied; n_words is recomputed on the
    # scrubbed text so the shipped stats stay truthful.
    if benchmark is not None:
        corpus_sh = gated.select(
            F.col("conv_id").alias("doc_id"),
            F.posexplode(_positional_shingles_col()).alias("start", "sh"),
        )
        bench_sh = (
            benchmark.select(
                F.explode(_positional_shingles_col()).alias("sh")
            ).distinct()
        )
        base = gated.selectExpr(
            "conv_id AS doc_id", f"{split_words_sql('text')} AS ws"
        )
        scrubbed = decontaminate_spans(corpus_sh, bench_sh, base).select(
            F.col("doc_id").alias("conv_id"),
            F.col("clean_text"),
            F.col("n_removed").alias("n_decon_words"),
            (F.col("n_words") - F.col("n_removed")).alias("n_kept_words"),
        )
        gated = (
            gated.drop("text", "n_words")
            .join(scrubbed, "conv_id")
            .withColumnRenamed("clean_text", "text")
            .withColumnRenamed("n_kept_words", "n_words")
            .localCheckpoint(eager=True)
        )
        yield ("decontaminate", gated)
    else:
        gated = gated.withColumn("n_decon_words", F.lit(0).cast("long"))

    redacted = gated.withColumn("text", pii_redact_expr(F.col("text")))

    # exact dedup on normalized content: keep the lowest conv_id per key
    deduped = (
        redacted.withColumn(
            "content_key", F.expr(f"md5({normalize_for_comparison_sql('text')})")
        )
        .withColumn(
            "rk",
            F.expr(
                "row_number() OVER (PARTITION BY content_key ORDER BY conv_id)"
            ),
        )
        .where("rk = 1")
        .drop("rk", "content_key", "sum_chars", "n_alpha_words")
    )

    split = holdout_split_expr(F.col("conv_id"))
    final = deduped.select(
        "conv_id", split.alias("split"), "text", "n_words", "n_turns",
        "total_pages", "n_boiler_lines", "n_decon_words",
    )
    yield ("redact_dedup_split", final)


def curate_packed(
    transcripts: DataFrame,
    benchmark: DataFrame | None = None,
    seq_tokens: int | None = None,
    epoch: int = 0,
) -> DataFrame:
    """The last mile: transcripts -> curated TRAIN split -> fixed-length
    packed training sequences -> deterministic epoch read order. This is
    the artifact a data loader consumes; everything upstream (extraction,
    gates, dedup, split) is the oracle-gated ``curate``.

    Scale notes: packing rides the two-level distributed prefix sum and
    the epoch order rides the hex-prefix two-level rank — no stage sorts
    or ranks globally in one task; the curate output is materialized once
    (localCheckpoint) because the manifest and the shuffle would otherwise
    each re-evaluate the whole extract->gate subtree.

    Output per sequence: seq_id, n_docs, n_tokens, first_doc, last_doc,
    pos (0-based position in the epoch's read order)."""
    from ..operators.packing import (
        SEQ_TOKENS,
        sequence_manifest,
        sequence_shuffle,
    )

    st = seq_tokens or SEQ_TOKENS
    # packing needs a numeric, totally ordered doc axis; conv ids are the
    # generator's 'conv_%08d' strings, so the digit suffix is exact and
    # collision-free (an arbitrary-id corpus would ship its own int key)
    train = (
        curate(transcripts, benchmark)
        .where(F.col("split") == "train")
        .select(
            F.regexp_extract("conv_id", r"(\d+)", 1)
            .cast("long")
            .alias("doc_id"),
            "text",
        )
        .localCheckpoint(eager=True)
    )
    manifest = sequence_manifest(train, st)
    order = sequence_shuffle(manifest.select("seq_id"), epoch)
    return manifest.join(order.select("seq_id", "pos"), "seq_id")
