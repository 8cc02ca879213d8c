"""Scalar text operators over the ``documents`` table: normalizer, workflow
router, sampling predicate, outline filter with fallback, SQL-expressible
detectors, number extraction round-trip.

Reference ops covered: X1/X6/X7 (scalars), F1 (outline filter), F2 (router),
F3 (sampling), F5-F18 subset (detectors), X2 (extract_numbers).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.expressions import (
    jaccard_words_expr,
    levenshtein_similarity_expr,
    normalize_for_comparison_expr,
    page_header_expr,
    sampling_predicate_expr,
    top_k,
    workflow_router_expr,
)
from ..functions.udfs import extract_numbers_udf

SPLIT_VAL_PCT = 10  # % of md5 buckets -> validation
SPLIT_TEST_PCT = 10  # % -> test; remainder -> train


# Router mapping whose patterns actually occur in the documents vocabulary.
DOC_ROUTER_MAPPING = {
    "spark": "text_extraction",
    "query": "azure_document_intelligence",
    "table": "mistral",
}


def _docs(spark, sf_dir):
    from . import load
    return load(spark, sf_dir, "documents")


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1 as a JVM expression — parity with the Python kernel is pinned by
    test_spark_vs_kernel.py."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        normalize_for_comparison_expr(F.col("text")).alias("normalized"),
    )


def q_page_header(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: page-header synthesis from an index column."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        page_header_expr(F.col("doc_id")).alias("header"),
    )


def q_workflow_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2: first-substring-match CASE routing over document text."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        workflow_router_expr(F.col("text"), DOC_ROUTER_MAPPING).alias("workflow"),
    )


def q_sampling_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: every-5th sampling with a deterministic per-source offset
    (len(source) % 5 stands in for the reference's random offset)."""
    docs = _docs(spark, sf_dir)
    offset = F.length("source") % 5
    return docs.where(sampling_predicate_expr(F.col("doc_id"), offset)).select(
        "doc_id", "source"
    )


def q_outline_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1: case-insensitive substring filter with fall-back-to-all-when-no-
    match per group (lang plays the role of the document)."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    matched = F.contains(F.lower("text"), F.lit("join")).cast("int")
    any_match = F.max(matched).over(Window.partitionBy("lang"))
    return (
        docs.withColumn("m", matched)
        .withColumn("any_m", any_match)
        .where((F.col("m") == 1) | (F.col("any_m") == 0))
        .select("doc_id", "lang")
    )


def q_detector_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-expressible subset of the 14 detectors, fully JVM-side."""
    docs = _docs(spark, sf_dir)
    alnum = F.length(F.regexp_replace("text", r"[^\p{L}\p{N}]+", ""))
    return docs.select(
        "doc_id",
        (F.length(F.regexp_replace("text", r"^\s+|\s+$", "")) < 200).alias("very_short"),
        (alnum < 100).alias("low_density"),
        (F.regexp_count("text", F.lit(r"!\[[^\]]*\]\([^\)]+\)")) > 0).alias("has_md_image"),
    )


def q_extract_numbers_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2 through the Arrow UDF: US/EU strings built from lineitem values are
    extracted and must equal the directly-computed normalized forms."""
    from . import load

    li = load(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    text = F.concat(
        F.lit("total 1,234.56 and qty "),
        F.round("l_quantity", 1).cast("string"),
        F.lit(" growth 12.5% eu 1.234,56"),
    )
    return li.select(
        "l_orderkey",
        F.array_join(extract_numbers_udf(text), "|").alias("numbers"),
    )


def q_bidi_display(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4 through the Arrow UDF: Hebrew "word: number" cells (the shape the
    reference's bank-statement tables exercise) built deterministically from
    orders — digits map to Hebrew letters. The oracle derives the UBA display
    form independently of the kernel: for an RTL paragraph of the shape
    ``word: N``, digits keep LTR order, the colon flips to the number's right,
    and the RTL word reverses — ``N || ' :' || reverse(word)``.

    Every 2nd row is a TWO-LINE cell (an English header above the Hebrew
    line): per UAX #9 P1 each line resolves its own base direction, so the
    LTR header stays put while the Hebrew line below still renders RTL —
    the reference's per-paragraph get_display semantics
    (extraction_service.py:50-57)."""
    from . import load
    from ..functions.udfs import fix_bidi_udf

    orders = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 20 == 0)
    # digit->Hebrew-letter map (Spark chr() truncates to latin-1, so translate)
    word = F.translate(
        (F.col("o_orderkey") % 10000).cast("string"), "0123456789", "אבגדהוזחטי"
    )
    heb_line = F.concat(word, F.lit(": "), (F.col("o_orderkey") % 997).cast("string"))
    logical = F.when(
        F.col("o_orderkey") % 40 == 0,
        F.concat(F.lit("Page 1 summary\n"), heb_line),
    ).otherwise(heb_line)
    return orders.select(
        F.col("o_orderkey").alias("order_key"),
        fix_bidi_udf(logical).alias("display"),
    )


def q_parse_number_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7+X3: the CSV bank-statement entry path. Builds a quoted-field CSV
    line per lineitem (₪-prefixed US form, EU "1.234,56" form, parenthesized
    negative, plain integer with currency), parses it back through
    ``from_csv`` (S7), then runs the money parser UDF (X3) on each field.
    The oracle computes the expected values directly from exact integer
    cents, so the whole disambiguation chain is value-checked.

    Reference parity: scripts/classify_debit_credit.py:29-78 (parse) and
    :313-373 (CSV entry)."""
    from . import load
    from ..functions.udfs import parse_number_udf

    li = load(spark, sf_dir, "lineitem").where(F.col("l_linenumber") == 1)
    us = F.format_number(F.col("l_extendedprice"), 2)  # 68,423.46
    eu = F.translate(us, ".,", ",.")                   # 68.423,46
    qty = F.col("l_quantity").cast("long").cast("string")
    quote = lambda c: F.concat(F.lit('"'), c, F.lit('"'))  # noqa: E731
    line = F.concat_ws(
        ",",
        F.col("l_orderkey").cast("string"),
        quote(F.concat(F.lit("₪"), us)),
        quote(eu),
        quote(F.concat(F.lit("($"), us, F.lit(")"))),
        quote(F.concat(F.lit("₪ "), qty)),
    )
    parsed = li.select(
        F.from_csv(
            line, "order_key bigint, us string, eu string, neg string, qty string"
        ).alias("r")
    )
    return parsed.select(
        F.col("r.order_key").alias("order_key"),
        parse_number_udf(F.col("r.us")).alias("v_us"),
        parse_number_udf(F.col("r.eu")).alias("v_eu"),
        parse_number_udf(F.col("r.neg")).alias("v_neg"),
        parse_number_udf(F.col("r.qty")).alias("v_int"),
    )


def q_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X13: adjacent-document similarity via built-in levenshtein on the
    normalized texts."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    a = docs.alias("a")
    b = docs.alias("b")
    joined = a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
    return joined.select(
        F.col("a.doc_id").alias("doc_id"),
        F.round(
            levenshtein_similarity_expr(F.col("a.text"), F.col("b.text")), 6
        ).alias("lev_sim"),
    )


def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X14 core: adjacent-document word-set Jaccard, pure array expressions."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    a = docs.alias("a")
    b = docs.alias("b")
    joined = a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
    return joined.select(
        F.col("a.doc_id").alias("doc_id"),
        F.round(jaccard_words_expr(F.col("a.text"), F.col("b.text")), 6).alias("jaccard"),
    )


ORACLES = {
    "holdout_split": f"""
        WITH b AS (
            SELECT doc_id,
                   ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))::BIGINT
                       % 100 AS bucket
            FROM documents
        )
        SELECT CASE WHEN bucket < {SPLIT_VAL_PCT} THEN 'val'
                    WHEN bucket < {SPLIT_VAL_PCT + SPLIT_TEST_PCT} THEN 'test'
                    ELSE 'train' END AS split,
               count(*) AS n_docs,
               min(doc_id) AS min_doc,
               max(doc_id) AS max_doc
        FROM b GROUP BY 1
    """,
    "pii_redact": """
        WITH s1 AS (
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                       AS n_email,
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '[EMAIL]', 'g') AS t
            FROM documents
        ), s2 AS (
            SELECT doc_id, n_email,
                   len(regexp_extract_all(t,
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
                       AS n_ipv4,
                   regexp_replace(t,
                       '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b',
                       '[IPV4]', 'g') AS t
            FROM s1
        ), s3 AS (
            SELECT doc_id, n_email, n_ipv4,
                   len(regexp_extract_all(t, '\\b\\d{16}\\b')) AS n_card,
                   regexp_replace(t, '\\b\\d{16}\\b', '[CARD]', 'g') AS t
            FROM s2
        )
        SELECT doc_id, t AS redacted, n_email, n_ipv4, n_card FROM s3
    """,
    "normalize_text": """
        SELECT doc_id,
               lower(regexp_replace(text, '[^\\p{L}\\p{N}]+', '', 'g')) AS normalized
        FROM documents
    """,
    "page_header": """
        SELECT doc_id, '# Page ' || (doc_id + 1)::VARCHAR || chr(10) || chr(10) AS header
        FROM documents
    """,
    "workflow_router": """
        SELECT doc_id,
               CASE
                 WHEN contains(lower(trim(text)), 'spark') THEN 'text_extraction'
                 WHEN contains(lower(trim(text)), 'query') THEN 'azure_document_intelligence'
                 WHEN contains(lower(trim(text)), 'table') THEN 'mistral'
                 ELSE 'mistral'
               END AS workflow
        FROM documents
    """,
    "sampling_filter": """
        SELECT doc_id, source
        FROM documents
        WHERE ((doc_id - length(source) % 5) % 5 + 5) % 5 = 0
    """,
    "outline_filter": """
        WITH flagged AS (
            SELECT doc_id, lang,
                   CASE WHEN contains(lower(text), 'join') THEN 1 ELSE 0 END AS m,
                   max(CASE WHEN contains(lower(text), 'join') THEN 1 ELSE 0 END)
                       OVER (PARTITION BY lang) AS any_m
            FROM documents
        )
        SELECT doc_id, lang FROM flagged WHERE m = 1 OR any_m = 0
    """,
    "detector_flags": """
        SELECT doc_id,
               length(regexp_replace(text, '^\\s+|\\s+$', '', 'g')) < 200 AS very_short,
               length(regexp_replace(text, '[^\\p{L}\\p{N}]+', '', 'g')) < 100 AS low_density,
               regexp_matches(text, '!\\[[^\\]]*\\]\\([^\\)]+\\)') AS has_md_image
        FROM documents
    """,
    "extract_numbers_roundtrip": """
        SELECT l_orderkey,
               '1234.56|' || round(l_quantity, 1)::VARCHAR || '|12.5|1234.56' AS numbers
        FROM lineitem WHERE l_linenumber = 1
    """,
    "bidi_display": """
        WITH src AS (
            SELECT o_orderkey AS order_key,
                   (o_orderkey % 10000)::VARCHAR AS ds,
                   (o_orderkey % 997)::VARCHAR AS num
            FROM orders WHERE o_orderkey % 20 = 0
        ), w AS (
            SELECT order_key, num,
                   translate(ds, '0123456789', 'אבגדהוזחטי') AS word
            FROM src
        )
        SELECT order_key,
               CASE WHEN order_key % 40 = 0
                    THEN 'Page 1 summary' || chr(10) || num || ' :' || reverse(word)
                    ELSE num || ' :' || reverse(word)
               END AS display
        FROM w
    """,
    "parse_number_csv": """
        SELECT l_orderkey AS order_key,
               round(l_extendedprice * 100)::BIGINT / 100.0 AS v_us,
               round(l_extendedprice * 100)::BIGINT / 100.0 AS v_eu,
               -(round(l_extendedprice * 100)::BIGINT / 100.0) AS v_neg,
               l_quantity::BIGINT::DOUBLE AS v_int
        FROM lineitem WHERE l_linenumber = 1
    """,
    "levenshtein_pairs": """
        WITH n AS (
            SELECT doc_id,
                   lower(regexp_replace(text, '[^\\p{L}\\p{N}]+', '', 'g')) AS nt
            FROM documents
        )
        SELECT a.doc_id AS doc_id,
               round(CASE
                 WHEN length(a.nt) = 0 AND length(b.nt) = 0 THEN 1.0
                 WHEN length(a.nt) = 0 OR length(b.nt) = 0 THEN 0.0
                 ELSE 1.0 - levenshtein(a.nt, b.nt)::DOUBLE
                            / greatest(length(a.nt), length(b.nt))
               END, 6) AS lev_sim
        FROM n a JOIN n b ON a.doc_id + 1 = b.doc_id
    """,
    "jaccard_pairs": """
        WITH w AS (
            SELECT doc_id,
                   list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                             x -> x <> '')) AS ws
            FROM documents
        )
        SELECT a.doc_id AS doc_id,
               round(CASE
                 WHEN length(list_distinct(list_concat(a.ws, b.ws))) = 0 THEN 1.0
                 ELSE length(list_intersect(a.ws, b.ws))::DOUBLE
                      / length(list_distinct(list_concat(a.ws, b.ws)))
               END, 6) AS jaccard
        FROM w a JOIN w b ON a.doc_id + 1 = b.doc_id
    """,
}


def _mixture_oracle() -> str:
    """Replays mixture_resample's integer arithmetic: DuckDB `//` mirrors
    Spark's DIV; the keep test cross-multiplies in DECIMAL(38,0) on both
    sides so neither engine rounds."""
    values = ", ".join(
        f"('{s}', {w})" for s, w in sorted(MIXTURE_WEIGHTS.items())
    )
    return f"""
        WITH w AS (
            SELECT * FROM (VALUES {values}) AS t(source, weight_pct)
        ), c AS (
            SELECT source, count(*) AS n_available
            FROM documents GROUP BY 1
        ), cw AS (
            SELECT c.source, n_available, weight_pct,
                   n_available * 100 // weight_pct AS cap
            FROM c JOIN w USING (source)
        ), nmin AS (
            SELECT min(cap) AS n_total FROM cw
        ), r AS (
            SELECT cw.source, cw.n_available, cw.weight_pct,
                   n_total * weight_pct // 100 AS n_target
            FROM cw, nmin
        ), k AS (
            SELECT d.source, d.doc_id,
                   ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                       AS bucket
            FROM documents d JOIN w USING (source)
        )
        SELECT r.source, r.weight_pct, r.n_available, r.n_target,
               count(*) AS n_kept,
               min(k.doc_id) AS min_kept,
               max(k.doc_id) AS max_kept
        FROM k JOIN r USING (source)
        WHERE bucket::DECIMAL(38,0) * r.n_available
              < r.n_target::DECIMAL(38,0) * {_BUCKET_SPACE}
        GROUP BY 1, 2, 3, 4
    """


def holdout_split_expr(id_col: F.Column) -> F.Column:
    """'train'/'val'/'test' from md5 buckets of an id column — the single
    definition both q_holdout_split and plans.training_data.curate use."""
    bucket = F.conv(
        F.substring(F.md5(id_col.cast("string")), 1, 4), 16, 10
    ).cast("long") % 100
    return (
        F.when(bucket < SPLIT_VAL_PCT, "val")
        .when(bucket < SPLIT_VAL_PCT + SPLIT_TEST_PCT, "test")
        .otherwise("train")
    )


def q_holdout_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: bucket = the first 4 hex
    chars of md5(doc_id) mod 100 — content-stable (same doc always lands in
    the same split, across runs, engines, and cluster sizes; no RNG, no
    sampleBy). A pure map over the scan; the per-split counts are one
    hash-groupBy. This is the standard holdout recipe for training
    pipelines where splits must survive re-partitioning and backfills."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    split = holdout_split_expr(F.col("doc_id"))
    return docs.select("doc_id", split.alias("split")).groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


# PII patterns shared by the Spark and DuckDB sides: no backreferences, no
# lookaround, ASCII \b — the Java-regex / RE2 common subset, so both engines
# match identical spans.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "card": r"\b\d{16}\b",
}


def _pii_placeholder(kind: str) -> str:
    return f"[{kind.upper()}]"


def pii_redact_expr(col: F.Column) -> F.Column:
    """The full redaction chain (same pattern order as the counting loop) —
    the single definition q_pii_redact and plans.training_data.curate use."""
    for kind, pat in PII_PATTERNS.items():
        col = F.regexp_replace(col, pat, _pii_placeholder(kind))
    return col


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data PII scrub: replace emails / IPv4 addresses / 16-digit
    card numbers with typed placeholders and count each kind — pure JVM
    regexp chain, zero Python, zero shuffle (a map over the scan). The
    counts are progressive: each kind is counted on the text with earlier
    kinds already redacted, exactly as the redaction applies."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    red = F.col("text")
    counts = []
    for kind, pat in PII_PATTERNS.items():
        counts.append(F.regexp_count(red, F.lit(pat)).alias(f"n_{kind}"))
        red = F.regexp_replace(red, pat, _pii_placeholder(kind))
    return docs.select(
        "doc_id", red.alias("redacted"), *counts
    )


# Target mixture over named sources (integer percents, sum 100). Sources
# outside the mixture are dropped; weights are the DoReMi/Pile-style "domain
# weights" a curation run pins before training.
MIXTURE_WEIGHTS = {"src0": 40, "src1": 25, "src2": 20, "src3": 10, "src4": 5}

# Hash-threshold scale: buckets are the first 8 hex chars of md5(doc_id),
# i.e. uniform on [0, 2^32).
_BUCKET_SPACE = 1 << 32


def mixture_resample(
    docs: DataFrame, weights: dict[str, int] | None = None
) -> DataFrame:
    """Deterministic domain-mixture resampling: given integer target weights
    per source (any positive integers; shares of their sum), find the
    largest feasible corpus size N (the binding source caps it:
    N = min_s floor(c_s·W / w_s), W = sum of weights), set per-source targets
    n_s = floor(N·w_s / W) <= c_s, and keep a document iff its stable md5
    bucket clears the source's threshold — the keep test is the exact
    integer cross-multiply bucket·c_s < n_s·2^32 in DECIMAL(38,0), so it
    cannot overflow at 100 TB row counts and replays bit-for-bit in SQL.

    Scale shape: one tiny per-source count aggregate, a 1-row min reduce,
    and a broadcast join of the per-source thresholds back onto the scan —
    the selection itself is a pure map with no global rank (an exact-count
    variant would need a per-source rank, the single-task-sort trap; hash
    thresholding lands within binomial noise of n_s and is the standard
    production recipe because membership is content-stable across runs,
    engines, and cluster sizes).

    Output (per mixture source): weight_pct, n_available, n_target, n_kept,
    min_kept, max_kept."""
    weights = MIXTURE_WEIGHTS if weights is None else weights
    w_total = sum(weights.values())
    spark = docs.sparkSession
    wdf = spark.createDataFrame(
        sorted(weights.items()), "source string, weight_pct int"
    )
    counts = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_available"))
        .join(wdf, "source")
    )
    # materialize the per-source caps ONCE (rows = #sources): the min
    # reduce, the rates frame, and the selection join all read it — without
    # this the full corpus count re-scans per consumer (3 corpus scans
    # instead of 2 at 100 TB)
    caps = counts.withColumn(
        "cap", F.expr(f"n_available * {w_total} DIV weight_pct")
    ).localCheckpoint(eager=True)
    n_total = caps.agg(F.min("cap").alias("n_total"))
    rates = caps.crossJoin(F.broadcast(n_total)).withColumn(
        "n_target", F.expr(f"n_total * weight_pct DIV {w_total}")
    )
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    kept = (
        docs.join(
            F.broadcast(
                rates.select("source", "n_available", "weight_pct", "n_target")
            ),
            "source",
        )
        .withColumn("bucket", bucket)
        .where(
            F.col("bucket").cast("decimal(38,0)") * F.col("n_available")
            < F.col("n_target").cast("decimal(38,0)") * F.lit(_BUCKET_SPACE)
        )
    )
    return kept.groupBy(
        "source", "weight_pct", "n_available", "n_target"
    ).agg(
        F.count("*").alias("n_kept"),
        F.min("doc_id").alias("min_kept"),
        F.max("doc_id").alias("max_kept"),
    )


def q_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import load

    return mixture_resample(load(spark, sf_dir, "documents"))


STRAT_K = 10  # docs kept per source


def stratified_sample(docs: DataFrame, k: int = STRAT_K) -> DataFrame:
    """Exactly-K-per-source deterministic sample: within each source, keep
    the K documents with the smallest md5(doc_id) — a content-stable
    shuffle order, so membership survives re-partitioning, backfills, and
    engine changes (no RNG). The complement to mixture_resample's
    hash-threshold (approximate counts, one pass): this one is exact-count
    at the cost of a rank.

    The rank is :func:`top_k` by source: each map task ships at most K
    rows per source, so a hot source never lands in one task.

    Output: source, doc_id, rk (1..K in md5 order)."""
    base = docs.select(
        "source", "doc_id", F.md5(F.col("doc_id").cast("string")).alias("okey")
    )
    return top_k(base, k, ["okey", "doc_id"], by=["source"]).select(
        "source", "doc_id", "rk"
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import load

    return stratified_sample(load(spark, sf_dir, "documents"))


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixture (τ = 1/2, the Pile / XLM-R
    recipe): target weights proportional to sqrt of each source's count, so
    big sources are down-weighted and small ones up-weighted without any
    hand-tuned dict. Weights are integer isqrt(c_s) — exact in both engines
    (floor of a correctly-rounded IEEE sqrt equals isqrt for counts far
    below 2^50) — and feed the same feasibility/threshold machinery as
    mixture_resample.

    The per-source counts collected to the driver are one row per source
    (like k-means centroids: bounded driver traffic, not data)."""
    import math

    from . import load

    docs = load(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count("*").alias("n")).collect()
    weights = {r["source"]: math.isqrt(r["n"]) for r in counts}
    return mixture_resample(docs, weights)


def _temperature_oracle() -> str:
    return f"""
        WITH c AS (
            SELECT source, count(*) AS n_available
            FROM documents GROUP BY 1
        ), w AS (
            SELECT source, n_available,
                   CAST(floor(sqrt(n_available)) AS INT) AS weight_pct
            FROM c
        ), tot AS (
            -- ::BIGINT: sum(INT) is HUGEINT in DuckDB, which arrives as
            -- float through Arrow and breaks the integer hash
            SELECT sum(weight_pct)::BIGINT AS w_total FROM w
        ), cw AS (
            SELECT source, n_available, weight_pct,
                   n_available * w_total // weight_pct AS cap
            FROM w, tot
        ), nmin AS (
            SELECT min(cap) AS n_total FROM cw
        ), r AS (
            SELECT cw.source, cw.n_available, cw.weight_pct,
                   n_total * weight_pct // w_total AS n_target
            FROM cw, nmin, tot
        ), k AS (
            SELECT d.source, d.doc_id,
                   ('0x' || substring(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
                       AS bucket
            FROM documents d
        )
        SELECT r.source, r.weight_pct, r.n_available, r.n_target,
               count(*) AS n_kept,
               min(k.doc_id) AS min_kept,
               max(k.doc_id) AS max_kept
        FROM k JOIN r USING (source)
        WHERE bucket::DECIMAL(38,0) * r.n_available
              < r.n_target::DECIMAL(38,0) * {_BUCKET_SPACE}
        GROUP BY 1, 2, 3, 4
    """


ORACLES["mixture_resample"] = _mixture_oracle()
ORACLES["temperature_mixture"] = _temperature_oracle()
# top_k is the plain single-window rank, so the oracle spells it the same.
ORACLES["stratified_sample"] = f"""
        SELECT source, doc_id, rk FROM (
            SELECT source, doc_id,
                   row_number() OVER (
                       PARTITION BY source
                       ORDER BY md5(doc_id::VARCHAR), doc_id
                   )::BIGINT AS rk
            FROM documents
        ) WHERE rk <= {STRAT_K}
"""

QUERIES = {
    "stratified_sample": q_stratified_sample,
    "temperature_mixture": q_temperature_mixture,
    "mixture_resample": q_mixture_resample,
    "holdout_split": q_holdout_split,
    "pii_redact": q_pii_redact,
    "normalize_text": q_normalize_text,
    "page_header": q_page_header,
    "workflow_router": q_workflow_router,
    "sampling_filter": q_sampling_filter,
    "outline_filter": q_outline_filter,
    "detector_flags": q_detector_flags,
    "extract_numbers_roundtrip": q_extract_numbers_roundtrip,
    "bidi_display": q_bidi_display,
    "parse_number_csv": q_parse_number_csv,
    "levenshtein_pairs": q_levenshtein_pairs,
    "jaccard_pairs": q_jaccard_pairs,
}


def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training transform (Bavarian et al. 2022,
    "Efficient Training of Language Models to Fill in the Middle"): each
    document splits into (prefix, middle, suffix) at two DETERMINISTIC
    content-derived points (md5-hash arithmetic — no RNG, repartition- and
    backfill-stable, the holdout_split discipline) and is re-serialized in
    PSM or SPM sentinel order, the 50/50 mode mix the paper trains on.
    All three parts are non-empty by construction (a in [1, n-2], b in
    [a+1, n-1]). Docs under 3 tokens pass through untransformable and are
    excluded (the FIM rate in production is < 1.0 anyway).

    Output: doc_id, mode, n_prefix/n_middle/n_suffix, fim_text.

    Scale shape: a pure per-row map over the scan — zero shuffle, zero
    Python; the transform composes with token_packing downstream."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    base = docs.select(
        "doc_id",
        toks.alias("t"),
        F.size(toks).cast("long").alias("n"),
        F.md5("text").alias("h"),
    ).where(F.col("n") >= 3)
    h1 = F.expr("conv(substring(h, 1, 8), 16, 10)").cast("long")
    h2 = F.expr("conv(substring(h, 9, 8), 16, 10)").cast("long")
    h3 = F.expr("conv(substring(h, 17, 8), 16, 10)").cast("long")
    split = base.select(
        "doc_id",
        "t",
        "n",
        (F.lit(1) + h1 % (F.col("n") - 2)).alias("a"),
        h2.alias("h2"),
        F.when(h3 % 2 == 0, F.lit("psm")).otherwise(F.lit("spm")).alias(
            "mode"
        ),
    ).select(
        "doc_id",
        "t",
        "n",
        "a",
        "mode",
        (F.col("a") + 1 + F.col("h2") % (F.col("n") - F.col("a") - 1)).alias(
            "b"
        ),
    )
    pre = F.expr("array_join(slice(t, 1, a), ' ')")
    mid = F.expr("array_join(slice(t, a + 1, b - a), ' ')")
    suf = F.expr("array_join(slice(t, b + 1, n - b), ' ')")
    psm = F.concat(
        F.lit("<PRE> "), pre, F.lit(" <SUF> "), suf, F.lit(" <MID> "), mid
    )
    spm = F.concat(
        F.lit("<SUF> "), suf, F.lit(" <PRE> "), pre, F.lit(" <MID> "), mid
    )
    return split.select(
        "doc_id",
        "mode",
        F.col("a").alias("n_prefix"),
        (F.col("b") - F.col("a")).alias("n_middle"),
        (F.col("n") - F.col("b")).alias("n_suffix"),
        F.when(F.col("mode") == "psm", psm).otherwise(spm).alias("fim_text"),
    )


QUERIES["fim_transform"] = q_fim_transform

ORACLES["fim_transform"] = """
    WITH base AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS t,
               md5(text) AS h
        FROM documents
    ), sized AS (
        SELECT doc_id, t, len(t)::BIGINT AS n,
               ('0x' || substring(h, 1, 8))::BIGINT AS h1,
               ('0x' || substring(h, 9, 8))::BIGINT AS h2,
               ('0x' || substring(h, 17, 8))::BIGINT AS h3
        FROM base WHERE len(t) >= 3
    ), split AS (
        SELECT doc_id, t, n,
               1 + h1 % (n - 2) AS a,
               CASE WHEN h3 % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode,
               h2
        FROM sized
    ), ab AS (
        SELECT doc_id, t, n, a, mode,
               a + 1 + h2 % (n - a - 1) AS b
        FROM split
    ), parts AS (
        SELECT doc_id, mode, a, b, n,
               array_to_string(t[1:a], ' ') AS pre,
               array_to_string(t[a + 1:b], ' ') AS mid,
               array_to_string(t[b + 1:n], ' ') AS suf
        FROM ab
    )
    SELECT doc_id, mode,
           a AS n_prefix,
           (b - a)::BIGINT AS n_middle,
           (n - b)::BIGINT AS n_suffix,
           CASE WHEN mode = 'psm'
                THEN '<PRE> ' || pre || ' <SUF> ' || suf || ' <MID> ' || mid
                ELSE '<SUF> ' || suf || ' <PRE> ' || pre || ' <MID> ' || mid
           END AS fim_text
    FROM parts
"""


# Unicode anomaly classes every scraped-text pipeline audits: invisible
# zero-width characters (dedup/tokenizer poison and a known watermark
# channel), raw control bytes (mojibake/binary bleed), explicit bidi
# override marks (Trojan Source, Boucher & Anderson 2021), and U+FFFD
# replacement chars (decode damage). Patterns are built from the literal
# characters so the Java-regex and RE2 forms are identical char classes.
_ZW = "​‌‍﻿"
_BIDI = "‪‫‬‭‮⁦⁧⁨⁩"
# escape form, not literal bytes: a raw NUL inside a SQL string literal is
# unparseable; \\x escapes mean the same class to Java regex and RE2
_CTRL = "\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F"


def q_unicode_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc unicode anomaly audit over a deterministically tainted
    fixture column (the parse_number_csv convention: the driver corpus is
    clean ASCII, so the query synthesizes the hazard in-plan — every
    doc_id % 7 == 0 doc gets a zero-width space spliced after its first
    character, every doc_id % 11 == 0 doc a trailing RLO override mark,
    and doc_id % 77 == 0 docs get both). Counts per class via the
    length-minus-stripped idiom (pure JVM regexp, one map), plus the
    boolean flag a quarantine filter keys on.

    Scale shape: a pure per-row map — zero shuffle, zero Python."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    tainted = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.substring("text", 1, 1),
            F.lit("​"),
            F.expr("substring(text, 2)"),
        ),
    ).otherwise(F.col("text"))
    tainted = F.when(
        F.col("doc_id") % 11 == 0, F.concat(tainted, F.lit("‮"))
    ).otherwise(tainted)

    def count_cls(col, chars):
        return (
            F.length(col) - F.length(F.regexp_replace(col, f"[{chars}]", ""))
        ).cast("long")

    t = tainted
    out = docs.select(
        "doc_id",
        count_cls(t, _ZW).alias("n_zero_width"),
        count_cls(t, _BIDI).alias("n_bidi_marks"),
        count_cls(t, _CTRL).alias("n_control"),
        count_cls(t, "�").alias("n_replacement"),
    )
    return out.withColumn(
        "is_anomalous",
        (
            F.col("n_zero_width")
            + F.col("n_bidi_marks")
            + F.col("n_control")
            + F.col("n_replacement")
            > 0
        ).cast("long"),
    )


QUERIES["unicode_anomalies"] = q_unicode_anomalies

ORACLES["unicode_anomalies"] = f"""
    WITH tainted AS (
        SELECT doc_id,
               CASE WHEN doc_id % 11 = 0 THEN t2 || '‮' ELSE t2 END
                   AS t
        FROM (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0
                        THEN substring(text, 1, 1) || '​'
                             || substring(text, 2)
                        ELSE text END AS t2
            FROM documents
        )
    )
    SELECT doc_id,
           (length(t) - length(regexp_replace(t, '[{_ZW}]', '', 'g')))::BIGINT
               AS n_zero_width,
           (length(t) - length(regexp_replace(t, '[{_BIDI}]', '', 'g')))::BIGINT
               AS n_bidi_marks,
           (length(t) - length(regexp_replace(t, '[{_CTRL}]', '', 'g')))::BIGINT
               AS n_control,
           (length(t) - length(regexp_replace(t, '[�]', '', 'g')))::BIGINT
               AS n_replacement,
           ((length(t) - length(regexp_replace(t, '[{_ZW}{_BIDI}{_CTRL}�]',
                                               '', 'g'))) > 0)::BIGINT
               AS is_anomalous
    FROM tainted
"""


# Per-source token budget for the selection op: the "data mixing under a
# compute budget" knob — each source may contribute at most this many
# tokens, filled best-quality-first.
SOURCE_TOKEN_BUDGET = 1000


def q_source_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of quality scores — the CCNet
    trick (Wenzek et al. 2020 filter per-language by perplexity QUANTILE,
    not absolute value): a global threshold over-prunes sources whose
    score distribution sits lower. Each doc gets its within-source rank
    percentile (integer permille, ties broken by doc_id) so downstream
    gates compare like with like.

    Scale shape: one window per source (unbounded parallel key) — never a
    global sort."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    n_words = F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    scored = docs.select(
        "doc_id", "source", n_words.cast("long").alias("score")
    )
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    wn = Window.partitionBy("source")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(wn))
        .select(
            "doc_id",
            "source",
            "score",
            F.expr("div(rn * 1000, n)").alias("pct_permille"),
        )
    )


def q_token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-constrained data selection: each source contributes its
    best-quality documents until its token budget fills (greedy by
    (score desc, doc_id) — the deterministic survey-propagation-free form
    of "select the best N tokens per domain" every mixture recipe ends
    with). A document is selected iff the running token total INCLUDING
    it fits the budget; the first over-budget doc and everything after it
    drop (no partial documents).

    Scale shape: one per-source ordered window (running sum) — parallel
    across sources; never a global sort. At 100 TB the budgets come from
    the mixture table (temperature_mixture) and this op consumes its
    output."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    n_words = F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    scored = docs.select(
        "doc_id",
        "source",
        n_words.cast("long").alias("n_tokens"),
        n_words.cast("long").alias("score"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return scored.withColumn("cum_tokens", F.sum("n_tokens").over(w)).select(
        "doc_id",
        "source",
        "n_tokens",
        "cum_tokens",
        (F.col("cum_tokens") <= SOURCE_TOKEN_BUDGET).cast("long").alias(
            "selected"
        ),
    )


QUERIES["source_quantile_norm"] = q_source_quantile_norm
QUERIES["token_budget_select"] = q_token_budget_select

_NW_DUCK = (
    "len(list_filter(regexp_split_to_array(text, '\\s+'), "
    "x -> x <> ''))::BIGINT"
)

ORACLES["source_quantile_norm"] = f"""
    WITH scored AS (
        SELECT doc_id, source, {_NW_DUCK} AS score FROM documents
    ), r AS (
        SELECT doc_id, source, score,
               row_number() OVER (PARTITION BY source
                                  ORDER BY score, doc_id) AS rn,
               count(*) OVER (PARTITION BY source) AS n
        FROM scored
    )
    SELECT doc_id, source, score, (rn * 1000) // n AS pct_permille
    FROM r
"""

ORACLES["token_budget_select"] = f"""
    WITH scored AS (
        SELECT doc_id, source, {_NW_DUCK} AS n_tokens, {_NW_DUCK} AS score
        FROM documents
    ), c AS (
        SELECT doc_id, source, n_tokens,
               sum(n_tokens) OVER (PARTITION BY source
                                   ORDER BY score DESC, doc_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
        FROM scored
    )
    SELECT doc_id, source, n_tokens,
           cum_tokens::BIGINT AS cum_tokens,
           (cum_tokens <= {SOURCE_TOKEN_BUDGET})::BIGINT AS selected
    FROM c
"""


# --- DSIR importance selection ------------------------------------------------
# Data Selection with Importance Resampling (Xie et al., NeurIPS 2023): score
# every raw document by how target-like its hashed n-gram profile is, then
# resample with probability proportional to the (normalized) importance
# weight. The production recipe selects pre-training data that matches a
# small high-quality target corpus (e.g. wiki+books) without training a
# classifier. This build is the exact-integer twin: per-bucket weights are
# smoothed integer count ratios rather than log-probability ratios (the
# real thing sums float log ratios — unreplayable bit-for-bit across
# engines), which preserves the method's ordering behavior on the fixture
# corpus and keeps the whole operator inside the repo's integer-exactness
# rules.

DSIR_BUCKETS = 1024  # hashed-gram feature space (10k-100k in production)
DSIR_SCALE = 1_000_000  # fixed-point scale for the per-bucket count ratio
DSIR_TARGET_MOD = 11  # every 11th doc plays the high-quality target corpus


def dsir_select(docs: DataFrame) -> DataFrame:
    """(doc_id, text) -> (doc_id, is_target, n_grams, importance, avg_w,
    keep): hashed-unigram DSIR selection. Bucket weights are
    w_b = (target_count_b + 1) * SCALE DIV (raw_count_b + 1) — an
    add-one-smoothed target/raw ratio in fixed point; a document's
    importance is the sum of its gram instances' bucket weights, and the
    keep decision resamples proportionally to the per-gram average weight
    via the repo's stable-md5-bucket threshold (cross-multiplied
    DECIMAL(38,0) — overflow-safe, content-stable across runs/engines/
    cluster sizes, no RNG).

    Scale shape: the gram explode is corpus-linear (the same stream every
    MinHash system pays); bucket counts are ONE combined aggregate (ct and
    cr from a single pass, map-side combined) onto a DSIR_BUCKETS-bounded
    frame that broadcasts back onto the gram stream; the doc rollup is a
    doc-keyed hash aggregate; normalization is a 1-row max broadcast. No
    windows, no skew (bucket cardinality is capped by construction), and
    the only corpus-sized shuffle is the doc-keyed rollup."""
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    grams = docs.select(
        "doc_id",
        (F.col("doc_id") % DSIR_TARGET_MOD == 0)
        .cast("long")
        .alias("is_target"),
        F.explode(toks).alias("g"),
    ).withColumn(
        "b",
        F.conv(F.substring(F.md5("g"), 1, 8), 16, 10).cast("long")
        % DSIR_BUCKETS,
    )
    # ct and cr in one pass: target grams are a subset of raw grams, so
    # the target count rides the same aggregate as a conditional sum.
    bw = grams.groupBy("b").agg(
        F.sum("is_target").alias("ct"),
        F.count(F.lit(1)).alias("cr"),
    )
    w = bw.select(
        "b", F.expr(f"(ct + 1) * {DSIR_SCALE} DIV (cr + 1)").alias("w")
    )
    scored = (
        grams.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.max("is_target").alias("is_target"),
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("w").alias("importance"),
        )
        .withColumn("avg_w", F.expr("importance DIV n_grams"))
    )
    mx = scored.agg(F.max("avg_w").alias("max_w"))
    bucket = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    return (
        scored.crossJoin(F.broadcast(mx))
        .withColumn("bucket", bucket)
        .select(
            "doc_id",
            "is_target",
            "n_grams",
            "importance",
            "avg_w",
            (
                F.col("bucket").cast("decimal(38,0)") * F.col("max_w")
                < F.col("avg_w").cast("decimal(38,0)") * F.lit(_BUCKET_SPACE)
            )
            .cast("long")
            .alias("keep"),
        )
    )


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import load

    return dsir_select(load(spark, sf_dir, "documents"))


QUERIES["dsir_select"] = q_dsir_select

ORACLES["dsir_select"] = f"""
    WITH toks AS (
        SELECT doc_id,
               CASE WHEN doc_id % {DSIR_TARGET_MOD} = 0
                    THEN 1 ELSE 0 END AS is_target,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), grams AS (
        SELECT doc_id, is_target,
               ('0x' || substring(md5(u.g), 1, 8))::BIGINT
                   % {DSIR_BUCKETS} AS b
        FROM toks, LATERAL (SELECT unnest(t) AS g) u
    ), bw AS (
        SELECT b,
               ((sum(is_target) + 1) * {DSIR_SCALE}
                   // (count(*) + 1))::BIGINT AS w
        FROM grams GROUP BY b
    ), scored AS (
        SELECT doc_id,
               max(is_target)::BIGINT AS is_target,
               count(*) AS n_grams,
               sum(w)::BIGINT AS importance
        FROM grams JOIN bw USING (b)
        GROUP BY doc_id
    ), sc2 AS (
        SELECT doc_id, is_target, n_grams, importance,
               importance // n_grams AS avg_w
        FROM scored
    ), mx AS (
        SELECT max(avg_w) AS max_w FROM sc2
    )
    SELECT doc_id, is_target, n_grams, importance, avg_w,
           CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                     ::HUGEINT * max_w
                     < avg_w::HUGEINT * {_BUCKET_SPACE}
                THEN 1 ELSE 0 END::BIGINT AS keep
    FROM sc2, mx
"""

# T5-style span corruption (Raffel et al. 2020 §3.1.4; UL2's R-denoiser):
# fixed token windows of SPAN_W, each corrupted with probability 1/SPAN_DEN
# (md5-hash arithmetic, no RNG), masking the first SPAN_L tokens behind a
# numbered sentinel. ~SPAN_L/(SPAN_W*SPAN_DEN) of tokens mask (~9.4%),
# mean span SPAN_L — the paper's regime at deterministic, backfill-stable
# span positions.
SPAN_W = 8
SPAN_L = 3
SPAN_DEN = 4


def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption training transform: every document re-serializes as
    (inputs_text, targets_text) with numbered sentinels <X_k> replacing the
    masked spans in the inputs and introducing them in the targets — the
    denoising objective T5/UL2 pretrains on. Window w of a document is
    corrupted iff md5(md5(text) || ':' || w) % SPAN_DEN == 0: content-
    derived and deterministic (the holdout_split/fim_transform discipline),
    so the same document always produces byte-identical training examples
    across runs, engines, and partitionings.

    Scale shape: a pure per-row map over the scan — zero shuffle, zero
    Python. The serialization is ONE linear fold (``F.aggregate``) over the
    window index sequence with a (inp, tgt, k, masked) struct accumulator:
    per element it slices a bounded SPAN_W window off the materialized
    token array, so per-doc work is O(n_tokens) flat — no nested
    aggregate-inside-lambda (the interpreted-HOF trap measured at ~100x in
    cdc_chunk_dedup). Composes with token_packing downstream."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    base = docs.select(
        "doc_id",
        toks.alias("t"),
        F.size(toks).cast("long").alias("n"),
        F.md5("text").alias("h"),
    ).where(F.col("n") >= 1)
    n_win = F.expr(f"div(n + {SPAN_W - 1}, {SPAN_W})")
    seq = F.sequence(F.lit(0).cast("long"), n_win - 1)

    def step(acc, w):
        win = F.slice(F.col("t"), (w * SPAN_W + 1).cast("int"), SPAN_W)
        corr = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("h"), F.lit(":"), w.cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % SPAN_DEN
            == 0
        )
        masked = F.slice(win, 1, SPAN_L)
        kept = F.slice(win, SPAN_L + 1, SPAN_W)
        sentinel = F.concat(
            F.lit("<X_"), acc.getField("k").cast("string"), F.lit(">")
        )
        piece_inp = F.when(
            corr,
            F.when(
                F.size(kept) > 0,
                F.concat(sentinel, F.lit(" "), F.array_join(kept, " ")),
            ).otherwise(sentinel),
        ).otherwise(F.array_join(win, " "))
        piece_tgt = F.concat(sentinel, F.lit(" "), F.array_join(masked, " "))
        join_inp = F.when(
            acc.getField("inp") == "", piece_inp
        ).otherwise(F.concat(acc.getField("inp"), F.lit(" "), piece_inp))
        join_tgt = F.when(
            ~corr, acc.getField("tgt")
        ).when(
            acc.getField("tgt") == "", piece_tgt
        ).otherwise(F.concat(acc.getField("tgt"), F.lit(" "), piece_tgt))
        return F.struct(
            join_inp.alias("inp"),
            join_tgt.alias("tgt"),
            (acc.getField("k") + corr.cast("long")).alias("k"),
            (acc.getField("masked") + F.when(corr, F.size(masked)).otherwise(0).cast("long")).alias("masked"),
        )

    init = F.struct(
        F.lit("").alias("inp"),
        F.lit("").alias("tgt"),
        F.lit(0).cast("long").alias("k"),
        F.lit(0).cast("long").alias("masked"),
    )
    folded = base.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.aggregate(seq, init, step).alias("acc"),
    )
    return folded.select(
        "doc_id",
        "n_tokens",
        F.col("acc.k").alias("n_spans"),
        F.col("acc.masked").alias("n_masked"),
        F.col("acc.inp").alias("inputs_text"),
        F.col("acc.tgt").alias("targets_text"),
    )


QUERIES["span_corruption"] = q_span_corruption

ORACLES["span_corruption"] = f"""
    WITH base AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS t,
               md5(text) AS h
        FROM documents
    ), sized AS (
        SELECT doc_id, t, h, len(t)::BIGINT AS n
        FROM base WHERE len(t) >= 1
    ), wins AS (
        SELECT doc_id, n, ww.w,
               t[ww.w * {SPAN_W} + 1 : ww.w * {SPAN_W} + {SPAN_W}] AS win,
               (('0x' || substring(md5(h || ':' || ww.w), 1, 8))::BIGINT
                    % {SPAN_DEN} = 0) AS corr
        FROM sized,
             LATERAL (SELECT unnest(range(0, (n + {SPAN_W - 1}) // {SPAN_W}))
                      AS w) ww
    ), numbered AS (
        SELECT doc_id, n, w, win, corr,
               coalesce(sum(corr::BIGINT) OVER (
                   PARTITION BY doc_id ORDER BY w
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS k,
               win[1 : {SPAN_L}] AS masked,
               win[{SPAN_L} + 1 : {SPAN_W}] AS kept
        FROM wins
    ), pieces AS (
        SELECT doc_id, n, w, corr, k,
               CASE WHEN corr THEN
                    CASE WHEN len(kept) > 0
                         THEN '<X_' || k || '> ' || array_to_string(kept, ' ')
                         ELSE '<X_' || k || '>' END
                    ELSE array_to_string(win, ' ') END AS piece_inp,
               CASE WHEN corr
                    THEN '<X_' || k || '> ' || array_to_string(masked, ' ')
                    END AS piece_tgt,
               CASE WHEN corr THEN len(masked)::BIGINT ELSE 0 END AS n_mask
        FROM numbered
    )
    SELECT doc_id,
           any_value(n) AS n_tokens,
           sum(corr::BIGINT)::BIGINT AS n_spans,
           sum(n_mask)::BIGINT AS n_masked,
           string_agg(piece_inp, ' ' ORDER BY w) AS inputs_text,
           coalesce(string_agg(piece_tgt, ' ' ORDER BY w), '')
               AS targets_text
    FROM pieces
    GROUP BY doc_id
"""


# --- Image-aware repair dialect ---------------------------------------------------
def q_image_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The image-specific repair dialect through the Arrow kernel
    (kernels/segment.py:repair_page_image_aware — the local analogue of
    the reference's image-specific validation prompts,
    validation_orchestrator.py:378-387): page bodies are synthesized
    deterministically from the documents table with messy whitespace, a
    blank-run mess, and (for 2/3 of docs) a markdown image ref; the kernel
    must preserve the image line BYTE-EXACT (trailing whitespace
    included), repair the prose around it, and guarantee blank-line
    separation — while the image-free third degenerates to the plain
    repair kernel exactly. The oracle reconstructs the expected repaired
    string independently in SQL.

    Scale shape: one Arrow kernel map over the scan — zero shuffle; at
    production this rides the extraction UDF's existing Arrow boundary.
    Output: doc_id, has_image, body, repaired."""
    from ..functions.udfs import repair_image_aware_udf

    docs = _docs(spark, sf_dir)
    # ascii-sanitized fragment (identical construction in the oracle:
    # strip non-ascii BEFORE lower so both engines' lower() agree)
    frag = F.trim(
        F.lower(
            F.regexp_replace(F.substring("text", 1, 60), "[^A-Za-z0-9 ]+", "")
        )
    )
    did = F.col("doc_id").cast("string")
    header = F.concat(F.lit("L1: "), frag, F.lit("   "))
    img = F.concat(
        F.lit("![chart "), did, F.lit("](figures/fig_"), did, F.lit(".png)  ")
    )
    tail = F.concat(F.lit("end "), frag, F.lit("\t"))
    has_image = (F.col("doc_id") % 3 != 0).alias("has_image")
    body = F.when(
        F.col("doc_id") % 3 != 0,
        F.concat(header, F.lit("\n\n\n\n"), img, F.lit("\n\n\n"), tail),
    ).otherwise(F.concat(header, F.lit("\n\n\n\n"), tail))
    return docs.select(
        "doc_id",
        has_image,
        body.alias("body"),
        repair_image_aware_udf(body).alias("repaired"),
    )


QUERIES["image_repair"] = q_image_repair

ORACLES["image_repair"] = """
    WITH f AS (
        SELECT doc_id,
               trim(lower(regexp_replace(substring(text, 1, 60),
                                         '[^A-Za-z0-9 ]+', '', 'g'))) AS frag
        FROM documents
    ), parts AS (
        SELECT doc_id, frag,
               doc_id % 3 <> 0 AS has_image,
               'L1: ' || frag || '   ' AS header,
               '![chart ' || doc_id::VARCHAR || '](figures/fig_'
                   || doc_id::VARCHAR || '.png)  ' AS img,
               'end ' || frag || chr(9) AS tail,
               rtrim('L1: ' || frag) AS seg1,
               rtrim('end ' || frag || chr(9), ' ' || chr(9)) AS seg2
        FROM f
    )
    SELECT doc_id, has_image,
           CASE WHEN has_image
                THEN header || chr(10)||chr(10)||chr(10)||chr(10) || img
                     || chr(10)||chr(10)||chr(10) || tail
                ELSE header || chr(10)||chr(10)||chr(10)||chr(10) || tail
           END AS body,
           CASE WHEN has_image
                THEN seg1 || chr(10)||chr(10) || img || chr(10)||chr(10) || seg2
                ELSE seg1 || chr(10)||chr(10) || seg2
           END AS repaired
    FROM parts
"""
