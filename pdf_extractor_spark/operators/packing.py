"""Training-sequence packing: GPT-style concat-and-chunk. Documents are laid
end-to-end in deterministic doc_id order on a global token axis, which is cut
every SEQ_TOKENS tokens into training sequences; each document reports where
it lands (sequence id, offset) and how many sequence boundaries it spans.

No reference counterpart (the reference stops at extraction); this is the
training-data extension that turns a curated corpus into fixed-length model
inputs.

Scale design — the global token offset is a DISTRIBUTED PREFIX SUM, not a
global window: a single ``Window.orderBy(doc_id)`` running sum would funnel
the whole corpus through one task. Instead docs are bucketed by
``doc_id div PACK_BUCKET`` (deterministic, data-independent ranges, unlike
sampled range partitioning); each bucket computes its local exclusive
prefix in a bounded window (<= PACK_BUCKET rows per task), bucket totals are
rolled up into exclusive bucket offsets in one tiny cumulative pass (one row
per bucket — corpus/PACK_BUCKET rows, e.g. 10^5 at 10^10 docs with a 10^5
bucket: single-task-safe BECAUSE it is bounded, and itself bucketable into a
third level if ever not), and the global start is offset + local prefix.
The classic two-level scan from the PRAM literature, in DataFrame form.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.expressions import token_count_expr

SEQ_TOKENS = 512
PACK_BUCKET = 64


def _with_seq_cols(df: DataFrame, seq_tokens: int) -> DataFrame:
    """Derive (seq_id, seq_offset, n_seqs) from (global_start, n_tokens) —
    the ONE copy of the sequence-boundary arithmetic, shared by one-shot
    and incremental packing so a fix to an edge (e.g. the n_tokens == 0
    zero-span rule) cannot silently miss one of them. The token axis is
    non-negative by construction, so truncating DIV is safe here."""
    return (
        df.withColumn(
            "seq_id", F.expr(f"global_start DIV {seq_tokens}").cast("long")
        )
        .withColumn(
            "seq_offset", (F.col("global_start") % seq_tokens).cast("long")
        )
        .withColumn(
            "n_seqs",
            F.when(F.col("n_tokens") == 0, F.lit(0).cast("long")).otherwise(
                F.expr(
                    f"(global_start + n_tokens - 1) DIV {seq_tokens}"
                ).cast("long")
                - F.col("seq_id")
                + 1
            ),
        )
    )


def token_packing(
    docs: DataFrame, seq_tokens: int = SEQ_TOKENS
) -> DataFrame:
    """Per document: its token count, global start offset on the packed
    token axis, the training sequence it starts in, its offset within that
    sequence, and the number of sequences it spans.

    Output: doc_id, n_tokens, global_start, seq_id, seq_offset, n_seqs.
    All-integer arithmetic; empty docs (0 tokens) span 0 sequences."""
    # The explicit isnotnull matches the filter the join infers on its own
    # side; without it the two bucket-keyed Exchange subtrees canonicalize
    # differently and ReuseExchange cannot dedup them (verified on the
    # executed plan).
    counted = docs.select(
        "doc_id",
        token_count_expr(F.col("text")).cast("long").alias("n_tokens"),
        (F.col("doc_id") / PACK_BUCKET).cast("long").alias("bucket"),
    ).where(F.col("bucket").isNotNull())
    w_local = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = counted.withColumn(
        "local_start", F.coalesce(F.sum("n_tokens").over(w_local), F.lit(0))
    )
    w_bucket = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # Bucket totals are derived from the SAME windowed frame (last row's
    # local_start + n_tokens = the bucket's token sum), not from a second
    # groupBy over the raw counts: both consumers then share one scan and
    # one bucket-keyed Exchange (ReuseExchange dedups the subtree), and the
    # rollup itself needs no further shuffle because the frame is already
    # hash-partitioned by bucket.
    offsets = (
        local.groupBy("bucket")
        .agg(
            F.max(F.col("local_start") + F.col("n_tokens")).alias(
                "bucket_tokens"
            )
        )
        .withColumn(
            "bucket_start",
            F.coalesce(F.sum("bucket_tokens").over(w_bucket), F.lit(0)),
        )
        .select("bucket", "bucket_start")
    )
    start = F.col("bucket_start") + F.col("local_start")
    return _with_seq_cols(
        local.join(F.broadcast(offsets), "bucket").select(
            "doc_id", "n_tokens", start.alias("global_start")
        ),
        seq_tokens,
    )


def q_token_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import load

    return token_packing(load(spark, sf_dir, "documents"))


def sequence_manifest(
    docs: DataFrame, seq_tokens: int = SEQ_TOKENS
) -> DataFrame:
    """The emit side of packing: each document explodes into one segment
    per training sequence it touches, and segments roll up into the
    per-sequence manifest a data loader would read — how many documents
    compose the sequence, how many of its token slots are filled (always
    seq_tokens except the final sequence), and the contributing doc-id
    range.

    Scale shape: the explode adds ~(n_docs + total_tokens/seq_tokens)
    rows; the rollup is one hash groupBy keyed on seq_id, whose
    cardinality is total_tokens/seq_tokens — uniform by construction (no
    hot keys: a sequence holds at most seq_tokens tokens).

    Output: seq_id, n_docs, n_tokens, first_doc, last_doc."""
    packed = token_packing(docs, seq_tokens).where(F.col("n_tokens") > 0)
    seg = packed.select(
        "doc_id",
        "global_start",
        "n_tokens",
        F.explode(
            F.sequence(
                F.col("seq_id"), F.col("seq_id") + F.col("n_seqs") - 1
            )
        ).alias("seq"),
    )
    doc_end = F.col("global_start") + F.col("n_tokens")
    toks = F.least(
        (F.col("seq") + 1) * seq_tokens, doc_end
    ) - F.greatest(F.col("seq") * seq_tokens, F.col("global_start"))
    return (
        seg.withColumn("toks", toks)
        .groupBy(F.col("seq").alias("seq_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


def q_sequence_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import load

    return sequence_manifest(load(spark, sf_dir, "documents"))


def loss_mask_spans(
    docs: DataFrame, trainable: F.Column, seq_tokens: int = SEQ_TOKENS
) -> DataFrame:
    """Loss-mask spans for the packed corpus: per training sequence, the
    merged [span_start, span_end) token ranges that are trainable vs
    masked, where ``trainable`` is a boolean expression over the docs
    frame (mask a license-restricted domain, a non-assistant role, a
    synthetic-data source — the doc stays in context, its tokens just
    don't take loss). This is the artifact a data loader consumes next to
    sequence_manifest.

    Scale shape: doc segments come from the same bounded explode as
    sequence_manifest; the flag join is doc_id-equi-keyed; the
    adjacent-same-flag merge is gaps-and-islands (lag + running sum) under
    a window partitioned by seq_id — at most seq_tokens segments per
    sequence, so every window is bounded and the key space is uniform by
    construction.

    Output: seq_id, span_start, span_end (exclusive, sequence-local),
    trainable, n_docs (docs merged into the span)."""
    flags = docs.select("doc_id", trainable.alias("trainable"))
    packed = token_packing(docs, seq_tokens).where(F.col("n_tokens") > 0)
    seg = packed.join(flags, "doc_id").select(
        "doc_id",
        "trainable",
        "global_start",
        "n_tokens",
        F.explode(
            F.sequence(
                F.col("seq_id"), F.col("seq_id") + F.col("n_seqs") - 1
            )
        ).alias("seq"),
    )
    doc_end = F.col("global_start") + F.col("n_tokens")
    seg = seg.select(
        "seq",
        "trainable",
        (
            F.greatest(F.col("seq") * seq_tokens, F.col("global_start"))
            - F.col("seq") * seq_tokens
        ).alias("span_start"),
        (
            F.least((F.col("seq") + 1) * seq_tokens, doc_end)
            - F.col("seq") * seq_tokens
        ).alias("span_end"),
    )
    w = Window.partitionBy("seq").orderBy("span_start")
    chg = (
        ~F.lag("trainable").over(w).eqNullSafe(F.col("trainable"))
    ).cast("int")
    runs = seg.withColumn("chg", chg).withColumn(
        "run",
        F.sum("chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        runs.groupBy(F.col("seq").alias("seq_id"), "run", "trainable")
        .agg(
            F.min("span_start").cast("long").alias("span_start"),
            F.max("span_end").cast("long").alias("span_end"),
            F.count("*").alias("n_docs"),
        )
        .select(
            "seq_id", "span_start", "span_end", "trainable", "n_docs"
        )
    )


def token_packing_incremental(
    new_docs: DataFrame,
    base_tokens: int,
    seq_tokens: int = SEQ_TOKENS,
) -> DataFrame:
    """The production daily-append form of packing: a new batch's global
    offsets CONTINUE from the already-packed corpus's token high-water
    mark (``base_tokens``) instead of repacking history — O(new batch)
    compute per increment, the dedup_incremental pattern. The first batch
    is base_tokens=0; each run's new high-water mark is
    max(global_start + n_tokens), stored alongside the output (a 1-row
    artifact, the packing twin of the dedup signature store).

    Same output schema and layout guarantees as token_packing; the last
    sequence of the existing corpus keeps filling if it was partial
    (seq_id/seq_offset land inside it), which is exactly what append-only
    packing must do."""
    packed = token_packing(new_docs, seq_tokens)
    start = F.col("global_start") + F.lit(int(base_tokens))
    return _with_seq_cols(
        packed.withColumn("global_start", start.cast("long")).drop(
            "seq_id", "seq_offset", "n_seqs"
        ),
        seq_tokens,
    )


# The registered query replays the daily-batch shape in one plan: docs
# below the split are "yesterday's corpus" (their token total is the
# stored high-water mark — a 1-row aggregate), docs at/after it are the
# new batch packed incrementally against it.
INCR_SPLIT_DOC = 400


def q_token_packing_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from . import load
    from ..functions.expressions import token_count_expr

    docs = load(spark, sf_dir, "documents")
    base = (
        docs.where(F.col("doc_id") < INCR_SPLIT_DOC)
        .agg(
            F.coalesce(
                F.sum(token_count_expr(F.col("text")).cast("long")),
                F.lit(0),
            ).alias("hwm")
        )
        .first()["hwm"]
    )
    new_batch = docs.where(F.col("doc_id") >= INCR_SPLIT_DOC)
    return token_packing_incremental(new_batch, int(base))


SHUF_BUCKET_HEX = 2  # 16^2 = 256 rank buckets from the key's own prefix


def sequence_shuffle(seqs: DataFrame, epoch: int = 0) -> DataFrame:
    """Deterministic epoch shuffle: the position of every training sequence
    in the given epoch's read order. The shuffle key is content-stable
    (md5 of seq_id:epoch — no RNG, survives repartitioning and reruns),
    and each epoch is an independent permutation, which is exactly what a
    data loader needs to replay any step of any epoch byte-identically.

    Scale shape: a global rank is the same single-task trap as a global
    sort, so the rank is TWO-LEVEL like token_packing's prefix sum — the
    bucket is the KEY'S OWN HEX PREFIX (so bucket order == key order by
    construction), each bucket ranks its own rows in a bounded window
    (uniform ~n/256 rows: md5 prefixes are uniform regardless of data
    skew), bucket counts roll up into exclusive offsets in one tiny
    cumulative pass (256 rows), and pos = bucket offset + local rank.

    Output: seq_id, epoch, pos (0-based position in the epoch's order)."""
    keyed = seqs.select(
        "seq_id",
        F.md5(F.concat_ws(":", F.col("seq_id"), F.lit(epoch))).alias("k"),
    ).withColumn("bucket", F.substring("k", 1, SHUF_BUCKET_HEX))
    w_local = Window.partitionBy("bucket").orderBy("k", "seq_id")
    local = keyed.withColumn(
        "local_pos", F.row_number().over(w_local) - F.lit(1)
    )
    w_bucket = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        local.groupBy("bucket")
        .agg((F.max("local_pos") + 1).alias("bucket_rows"))
        .withColumn(
            "bucket_start",
            F.coalesce(F.sum("bucket_rows").over(w_bucket), F.lit(0)),
        )
        .select("bucket", "bucket_start")
    )
    return (
        local.join(F.broadcast(offsets), "bucket")
        .select(
            "seq_id",
            F.lit(epoch).cast("long").alias("epoch"),
            (F.col("bucket_start") + F.col("local_pos"))
            .cast("long")
            .alias("pos"),
        )
    )


def q_sequence_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import load

    seqs = sequence_manifest(load(spark, sf_dir, "documents")).select(
        "seq_id"
    )
    return sequence_shuffle(seqs, epoch=1)


def q_loss_mask_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable form: documents from source 'src0' play the
    masked domain (kept in context, no loss)."""
    from . import load

    return loss_mask_spans(
        load(spark, sf_dir, "documents"), F.col("source") != F.lit("src0")
    )


QUERIES = {
    "token_packing": q_token_packing,
    "sequence_manifest": q_sequence_manifest,
    "loss_mask_spans": q_loss_mask_spans,
    "sequence_shuffle": q_sequence_shuffle,
    "token_packing_incremental": q_token_packing_incremental,
}

# Oracle: the packing layout is order-defined, so a plain single-window
# cumulative sum over doc_id replays it exactly (DuckDB doesn't need the
# two-level scan — correctness is the same by construction).
ORACLES = {
    "token_packing": f"""
        WITH t AS (
            SELECT doc_id,
                   len(list_filter(
                       string_split(regexp_replace(text,
                           '([A-Za-z]+|\\d+|[^\\sA-Za-z\\d])', '\\1 ', 'g'),
                           ' '),
                       x -> trim(x) <> ''))::BIGINT AS n_tokens
            FROM documents
        ), s AS (
            SELECT doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0)::BIGINT AS global_start
            FROM t
        )
        SELECT doc_id, n_tokens, global_start,
               global_start // {SEQ_TOKENS} AS seq_id,
               (global_start % {SEQ_TOKENS})::BIGINT AS seq_offset,
               CASE WHEN n_tokens = 0 THEN 0
                    ELSE (global_start + n_tokens - 1) // {SEQ_TOKENS}
                         - global_start // {SEQ_TOKENS} + 1
               END::BIGINT AS n_seqs
        FROM s
    """,
}

# Manifest oracle: segments via a correlated LATERAL range over each doc's
# touched sequences, then the same seq-keyed rollup.
ORACLES["sequence_manifest"] = f"""
        WITH t AS (
            SELECT doc_id,
                   len(list_filter(
                       string_split(regexp_replace(text,
                           '([A-Za-z]+|\\d+|[^\\sA-Za-z\\d])', '\\1 ', 'g'),
                           ' '),
                       x -> trim(x) <> ''))::BIGINT AS n_tokens
            FROM documents
        ), s AS (
            SELECT doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0)::BIGINT AS global_start
            FROM t
        ), seg AS (
            SELECT doc_id, q.seq,
                   least((q.seq + 1) * {SEQ_TOKENS},
                         global_start + n_tokens)
                   - greatest(q.seq * {SEQ_TOKENS}, global_start) AS toks
            FROM s, LATERAL (
                SELECT unnest(range(
                    global_start // {SEQ_TOKENS},
                    (global_start + n_tokens - 1) // {SEQ_TOKENS} + 1
                )) AS seq
            ) q
            WHERE n_tokens > 0
        )
        SELECT seq AS seq_id, count(*) AS n_docs,
               sum(toks)::BIGINT AS n_tokens,
               min(doc_id) AS first_doc, max(doc_id) AS last_doc
        FROM seg GROUP BY 1
"""


# Incremental oracle: pack the FULL corpus in one window, then keep only
# the new batch's rows — append-continuation must be indistinguishable
# from having packed everything at once (the defining invariant).
ORACLES["token_packing_incremental"] = f"""
        WITH t AS (
            SELECT doc_id,
                   len(list_filter(
                       string_split(regexp_replace(text,
                           '([A-Za-z]+|\\d+|[^\\sA-Za-z\\d])', '\\1 ', 'g'),
                           ' '),
                       x -> trim(x) <> ''))::BIGINT AS n_tokens
            FROM documents
        ), s AS (
            SELECT doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0)::BIGINT AS global_start
            FROM t
        )
        SELECT doc_id, n_tokens, global_start,
               global_start // {SEQ_TOKENS} AS seq_id,
               (global_start % {SEQ_TOKENS})::BIGINT AS seq_offset,
               CASE WHEN n_tokens = 0 THEN 0
                    ELSE (global_start + n_tokens - 1) // {SEQ_TOKENS}
                         - global_start // {SEQ_TOKENS} + 1
               END::BIGINT AS n_seqs
        FROM s WHERE doc_id >= {INCR_SPLIT_DOC}
"""

# Shuffle oracle: the two-level rank is order-defined, so a plain global
# ROW_NUMBER over the same content-stable key replays it exactly (the
# bucket prefix only changes WHERE the rank is computed, not the order).
ORACLES["sequence_shuffle"] = f"""
        WITH t AS (
            SELECT doc_id,
                   len(list_filter(
                       string_split(regexp_replace(text,
                           '([A-Za-z]+|\\d+|[^\\sA-Za-z\\d])', '\\1 ', 'g'),
                           ' '),
                       x -> trim(x) <> ''))::BIGINT AS n_tokens
            FROM documents
        ), s AS (
            SELECT doc_id, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0)::BIGINT AS global_start
            FROM t
        ), seqs AS (
            SELECT DISTINCT q.seq AS seq_id
            FROM s, LATERAL (
                SELECT unnest(range(
                    global_start // {SEQ_TOKENS},
                    (global_start + n_tokens - 1) // {SEQ_TOKENS} + 1
                )) AS seq
            ) q
            WHERE n_tokens > 0
        )
        SELECT seq_id, 1::BIGINT AS epoch,
               (ROW_NUMBER() OVER (
                   ORDER BY md5(seq_id::VARCHAR || ':1'), seq_id
               ) - 1)::BIGINT AS pos
        FROM seqs
"""

# Mask-span oracle: same packing CTE, plus the flag and the
# gaps-and-islands merge (lag + running sum) the Spark side performs.
ORACLES["loss_mask_spans"] = f"""
        WITH t AS (
            SELECT doc_id, source <> 'src0' AS trainable,
                   len(list_filter(
                       string_split(regexp_replace(text,
                           '([A-Za-z]+|\\d+|[^\\sA-Za-z\\d])', '\\1 ', 'g'),
                           ' '),
                       x -> trim(x) <> ''))::BIGINT AS n_tokens
            FROM documents
        ), s AS (
            SELECT doc_id, trainable, n_tokens,
                   coalesce(sum(n_tokens) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0)::BIGINT AS global_start
            FROM t
        ), seg AS (
            SELECT trainable, q.seq,
                   greatest(q.seq * {SEQ_TOKENS}, global_start)
                       - q.seq * {SEQ_TOKENS} AS span_start,
                   least((q.seq + 1) * {SEQ_TOKENS},
                         global_start + n_tokens)
                       - q.seq * {SEQ_TOKENS} AS span_end
            FROM s, LATERAL (
                SELECT unnest(range(
                    global_start // {SEQ_TOKENS},
                    (global_start + n_tokens - 1) // {SEQ_TOKENS} + 1
                )) AS seq
            ) q
            WHERE n_tokens > 0
        ), m AS (
            SELECT seq, trainable, span_start, span_end,
                   CASE WHEN lag(trainable) OVER (
                            PARTITION BY seq ORDER BY span_start)
                        IS DISTINCT FROM trainable THEN 1 ELSE 0 END AS chg
            FROM seg
        ), rr AS (
            SELECT seq, trainable, span_start, span_end,
                   sum(chg) OVER (PARTITION BY seq ORDER BY span_start
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS run
            FROM m
        )
        SELECT seq AS seq_id, span_start::BIGINT AS span_start,
               span_end::BIGINT AS span_end, trainable, n_docs
        FROM (
            SELECT seq, run, trainable,
                   min(span_start) AS span_start,
                   max(span_end) AS span_end,
                   count(*) AS n_docs
            FROM rr GROUP BY seq, run, trainable
        )
"""


# --- Conversation context-window packing (round 4) --------------------------------
CONV_TURNS = 5          # documents grouped into 5-turn conversations
CONV_WINDOW = 96        # context-window token budget


def q_conv_window_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-turn conversations packed into fixed context windows WITHOUT
    splitting a turn — the transcript counterpart of GPT concat-and-chunk:
    a turn that would overflow the current window starts the next one, and
    an oversize turn (> window) is capped to a full window of its own with
    a truncation flag (the SFT context-packing rule, vs token_packing's
    mid-document cuts). Documents adapt to conversations deterministically
    (conv = doc_id DIV 5, turn order = doc_id; ids are non-negative so
    truncating DIV == floor on both engines).

    The greedy fill is a NON-associative per-conversation scan, so it runs
    as one fold over the conversation's own turn array (collect_list +
    F.aggregate — state bounded by turns-per-conversation, never
    corpus-sized; the production bound is the context multiple, tens of
    turns). One keyed shuffle total; the fold itself is a pure expression.

    Output per turn: conv, turn_idx, n_tokens (capped), truncated, win_id
    (0-based within conv), win_offset."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    w = CONV_WINDOW
    turns = docs.select(
        F.expr(f"doc_id DIV {CONV_TURNS}").alias("conv"),
        (F.col("doc_id") % CONV_TURNS).cast("int").alias("turn_idx"),
        F.least(
            token_count_expr(F.col("text")).cast("long"), F.lit(w)
        ).alias("t"),
        (token_count_expr(F.col("text")) > w).alias("trunc"),
    )
    grouped = turns.groupBy("conv").agg(
        F.sort_array(
            F.collect_list(F.struct("turn_idx", "t", "trunc"))
        ).alias("arr")
    )

    def fold(acc, e):
        fits = (acc["fill"] + e["t"]) <= F.lit(w)
        return F.struct(
            F.when(fits, acc["win"]).otherwise(acc["win"] + 1).alias("win"),
            F.when(fits, acc["fill"] + e["t"]).otherwise(e["t"]).alias("fill"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        e["turn_idx"].alias("turn_idx"),
                        e["t"].alias("n"),
                        e["trunc"].alias("trunc"),
                        F.when(fits, acc["win"])
                        .otherwise(acc["win"] + 1)
                        .alias("win"),
                        F.when(fits, acc["fill"])
                        .otherwise(F.lit(0).cast("long"))
                        .alias("off"),
                    )
                ),
            ).alias("out"),
        )

    init = F.expr(
        "named_struct('win', 0L, 'fill', 0L, 'out', "
        "CAST(array() AS array<struct<turn_idx:int,n:bigint,trunc:boolean,"
        "win:bigint,off:bigint>>))"
    )
    packed = grouped.select(
        "conv",
        F.explode(
            F.aggregate(F.col("arr"), init, fold, lambda a: a["out"])
        ).alias("p"),
    )
    return packed.select(
        "conv",
        F.col("p.turn_idx").alias("turn_idx"),
        F.col("p.n").alias("n_tokens"),
        F.col("p.trunc").alias("truncated"),
        F.col("p.win").alias("win_id"),
        F.col("p.off").alias("win_offset"),
    )


QUERIES["conv_window_pack"] = q_conv_window_pack

# Oracle: the greedy fill replayed as a per-conversation recursive CTE
# joined on the turn ordinal (the lateness_audit replay pattern).
ORACLES["conv_window_pack"] = f"""
    WITH turns AS MATERIALIZED (
        SELECT doc_id // {CONV_TURNS} AS conv,
               (doc_id % {CONV_TURNS})::INT AS turn_idx,
               least(len(list_filter(
                   string_split(regexp_replace(text,
                       '([A-Za-z]+|\\d+|[^\\sA-Za-z\\d])', '\\1 ', 'g'),
                       ' '),
                   x -> trim(x) <> ''))::BIGINT, {CONV_WINDOW}) AS t,
               len(list_filter(
                   string_split(regexp_replace(text,
                       '([A-Za-z]+|\\d+|[^\\sA-Za-z\\d])', '\\1 ', 'g'),
                       ' '),
                   x -> trim(x) <> '')) > {CONV_WINDOW} AS trunc,
               row_number() OVER (
                   PARTITION BY doc_id // {CONV_TURNS}
                   ORDER BY doc_id
               ) AS rn
        FROM documents
    ), r AS (
        WITH RECURSIVE rec AS (
            SELECT conv, rn, turn_idx, t, trunc,
                   0::BIGINT AS win, t AS fill, 0::BIGINT AS off
            FROM turns WHERE rn = 1
            UNION ALL
            SELECT n.conv, n.rn, n.turn_idx, n.t, n.trunc,
                   CASE WHEN rec.fill + n.t <= {CONV_WINDOW}
                        THEN rec.win ELSE rec.win + 1 END,
                   CASE WHEN rec.fill + n.t <= {CONV_WINDOW}
                        THEN rec.fill + n.t ELSE n.t END,
                   CASE WHEN rec.fill + n.t <= {CONV_WINDOW}
                        THEN rec.fill ELSE 0::BIGINT END
            FROM rec JOIN turns n
              ON n.conv = rec.conv AND n.rn = rec.rn + 1
        )
        SELECT * FROM rec
    )
    SELECT conv, turn_idx, t AS n_tokens, trunc AS truncated,
           win AS win_id, off AS win_offset
    FROM r
"""


# --- Length-bucketed inference batching (round 4) ---------------------------------
LB_WIDTH = 32    # token-length bucket width
LB_BATCH = 8     # docs per inference batch
LB_MAX_BUCKET = 15


def q_length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed dynamic batching — the inference/scoring-side
    counterpart of training packing: docs bucket by token length
    (width-{LB_WIDTH} buckets, capped), batch within their bucket in
    (length desc, doc_id) order, and each batch reports its PADDING WASTE
    (batch is padded to its longest member) — the metric that justifies
    length bucketing at all. Windows are bucket-partitioned (bounded
    skew: a bucket is a length class, never a single hot key at corpus
    scale — and the rank is per-bucket, not global).

    Output per batch: bucket, batch_id, n_docs, max_tokens, sum_tokens,
    pad_waste, waste_permille."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", token_count_expr(F.col("text")).cast("long").alias("n")
    ).withColumn(
        "bucket",
        F.least(
            F.expr(f"n DIV {LB_WIDTH}"), F.lit(LB_MAX_BUCKET).cast("long")
        ),
    )
    w = Window.partitionBy("bucket").orderBy(F.desc("n"), "doc_id")
    ranked = t.withColumn("rk", F.row_number().over(w)).withColumn(
        "batch_id", F.expr(f"(rk - 1) DIV {LB_BATCH}").cast("long")
    )
    return (
        ranked.groupBy("bucket", "batch_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n").alias("max_tokens"),
            F.sum("n").alias("sum_tokens"),
            (F.count(F.lit(1)) * F.max("n") - F.sum("n")).alias("pad_waste"),
        )
        .withColumn(
            "waste_permille",
            F.expr(
                "coalesce(pad_waste * 1000 div "
                "nullif(n_docs * max_tokens, 0), -1)"
            ),
        )
    )


QUERIES["length_bucket_batches"] = q_length_bucket_batches

ORACLES["length_bucket_batches"] = f"""
    WITH t AS (
        SELECT doc_id,
               len(list_filter(
                   string_split(regexp_replace(text,
                       '([A-Za-z]+|\\d+|[^\\sA-Za-z\\d])', '\\1 ', 'g'),
                       ' '),
                   x -> trim(x) <> ''))::BIGINT AS n
        FROM documents
    ), b AS (
        SELECT doc_id, n,
               least(n // {LB_WIDTH}, {LB_MAX_BUCKET}) AS bucket
        FROM t
    ), r AS (
        SELECT bucket, n,
               (row_number() OVER (PARTITION BY bucket
                                   ORDER BY n DESC, doc_id) - 1)
                   // {LB_BATCH} AS batch_id
        FROM b
    )
    SELECT bucket, batch_id,
           count(*)::BIGINT AS n_docs,
           max(n) AS max_tokens,
           sum(n)::BIGINT AS sum_tokens,
           (count(*) * max(n) - sum(n))::BIGINT AS pad_waste,
           coalesce((count(*) * max(n) - sum(n)) * 1000
               // nullif(count(*) * max(n), 0), -1)::BIGINT AS waste_permille
    FROM r GROUP BY bucket, batch_id
"""


# --- Chat-context truncation (round 4) ----------------------------------------------
CTX_BUDGET = 192


def q_context_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The chat-completion truncation rule: keep the SYSTEM turn (turn 0)
    plus the longest TRAILING run of turns that fits the context budget —
    the policy every serving stack applies when a conversation outgrows
    the window (drop the middle, never the system prompt or the latest
    exchange). Conversations adapt from documents as in conv_window_pack
    (conv = doc_id DIV {CONV_TURNS}).

    Pure window form: a turn i >= 1 keeps iff sys_tokens + (reverse
    cumulative tokens from the tail through i) fits the budget — one
    per-conv window ordered DESC plus a per-conv max for the system turn;
    no fold needed because trailing-run membership is monotone in i.

    Output per turn: conv, turn_idx, n_tokens, kept."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    turns = docs.select(
        F.expr(f"doc_id DIV {CONV_TURNS}").alias("conv"),
        (F.col("doc_id") % CONV_TURNS).cast("int").alias("turn_idx"),
        token_count_expr(F.col("text")).cast("long").alias("t"),
    )
    w_all = Window.partitionBy("conv")
    w_rev = (
        Window.partitionBy("conv")
        .orderBy(F.desc("turn_idx"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sys_t = F.max(F.when(F.col("turn_idx") == 0, F.col("t"))).over(w_all)
    rev = F.sum(F.when(F.col("turn_idx") >= 1, F.col("t")).otherwise(0)).over(
        w_rev
    )
    return turns.select(
        "conv",
        "turn_idx",
        F.col("t").alias("n_tokens"),
        (
            (F.col("turn_idx") == 0)
            | (F.coalesce(sys_t, F.lit(0)) + rev <= CTX_BUDGET)
        ).alias("kept"),
    )


QUERIES["context_truncate"] = q_context_truncate

ORACLES["context_truncate"] = f"""
    WITH turns AS (
        SELECT doc_id // {CONV_TURNS} AS conv,
               (doc_id % {CONV_TURNS})::INT AS turn_idx,
               len(list_filter(
                   string_split(regexp_replace(text,
                       '([A-Za-z]+|\\d+|[^\\sA-Za-z\\d])', '\\1 ', 'g'),
                       ' '),
                   x -> trim(x) <> ''))::BIGINT AS t
        FROM documents
    )
    SELECT conv, turn_idx, t AS n_tokens,
           (turn_idx = 0 OR
            coalesce(max(CASE WHEN turn_idx = 0 THEN t END)
                         OVER (PARTITION BY conv), 0)
            + sum(CASE WHEN turn_idx >= 1 THEN t ELSE 0 END)
                  OVER (PARTITION BY conv ORDER BY turn_idx DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            <= {CTX_BUDGET}) AS kept
    FROM turns
"""
