"""Markdown-table render/parse, number-frequency cosine similarity, the
similarity dispatcher, and word-frequency maps — all over deterministic
derivations of the driver parquet tables so every query has a DuckDB oracle.

Reference parity targets (file:line in /root/reference):
- X8 render:     src/services/azure_di/table_merger.py:38-92,236-272
- X9 parse:      scripts/classify_debit_credit.py:261-310
- X11 cosine:    src/services/validation/similarity_calculator.py:44-85
- X12 number-frequency similarity: similarity_calculator.py:87-122
- X15 dispatcher (quick-Jaccard early exit): similarity_calculator.py:212-245
- A5 frequency map (Counter): similarity_calculator.py:32-42
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.expressions import (
    jaccard_words_expr,
    levenshtein_similarity_expr,
    top_k,
)

QUICK_SIM_THRESHOLD = 0.95
TOP_WORDS = 3


def _table_rows(spark, sf_dir):
    """Deterministic 2-column table rows: first three lineitems of every
    50th order."""
    from . import load

    li = load(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_orderkey") % 50 == 0) & (F.col("l_linenumber") <= 3)
    ).select(
        F.col("l_orderkey").alias("order_key"),
        "l_linenumber",
        (F.col("l_partkey") % 100).cast("string").alias("c0"),
        F.col("l_returnflag").alias("c1"),
    )


_MD_PREFIX = "**Table from Page 1**\n\n| Qty | Flag |\n| --- | --- |\n"


def _render_md(rows: DataFrame) -> DataFrame:
    """X8 as pure expressions: pad-free 2-col render with caption + synth
    headers + separator, rows in stable l_linenumber order."""
    # (l_linenumber, c0, c1) is the full deterministic sort key — the
    # synthetic lineitem has duplicate line numbers per order.
    ordered = F.sort_array(F.collect_list(F.struct("l_linenumber", "c0", "c1")))
    line = lambda s: F.concat(  # noqa: E731
        F.lit("| "), s["c0"], F.lit(" | "), s["c1"], F.lit(" |")
    )
    return rows.groupBy("order_key").agg(
        F.concat(
            F.lit(_MD_PREFIX),
            F.array_join(F.transform(ordered, line), "\n"),
        ).alias("md")
    )


def q_markdown_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _render_md(_table_rows(spark, sf_dir))


def q_markdown_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X9 round-trip: render to markdown (expressions), parse back through
    the Arrow kernel UDF, explode rows — output must equal the source rows,
    which is exactly what the oracle selects directly from lineitem."""
    from ..functions.udfs import parse_md_rows_udf

    md = _render_md(_table_rows(spark, sf_dir))
    parsed = md.select(
        "order_key",
        F.posexplode(parse_md_rows_udf(F.col("md"))).alias("row_idx", "cells"),
    )
    return parsed.select(
        "order_key",
        "row_idx",
        F.element_at("cells", 1).alias("c0"),
        F.element_at("cells", 2).alias("c1"),
    )


def _num_freq(spark, sf_dir):
    """Number-frequency map per customer: concatenate integer amounts into a
    text, extract numbers back out (the X2 path, JVM regexp), count."""
    from . import load

    orders = load(spark, sf_dir, "orders")
    txts = orders.groupBy(F.col("o_custkey").alias("cust")).agg(
        F.concat_ws(
            " ", F.collect_list((F.col("o_orderkey") % 1000).cast("string"))
        ).alias("txt")
    )
    return (
        txts.select(
            "cust", F.explode(F.regexp_extract_all("txt", F.lit(r"\d+"), 0)).alias("num")
        )
        .groupBy("cust", "num")
        .agg(F.count("*").alias("cnt"))
    )


def q_number_freq_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X11+X12: cosine similarity of number-frequency maps between adjacent
    customers. Frequency maps stay relational (explode -> count); the dot
    product is an equi-join on the number key, never a cross join."""
    freq = _num_freq(spark, sf_dir)
    norms = freq.groupBy("cust").agg(
        F.sqrt(F.sum(F.col("cnt") * F.col("cnt"))).alias("nrm")
    )
    a, b = freq.alias("a"), freq.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.num") == F.col("b.num"))
            & (F.col("b.cust") == F.col("a.cust") + 1),
        )
        .groupBy(F.col("a.cust").alias("cust"))
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("dot"))
    )
    na = norms.select(F.col("cust"), F.col("nrm").alias("na"))
    nb = norms.select((F.col("cust") - 1).alias("cust"), F.col("nrm").alias("nb"))
    return (
        na.join(nb, "cust")
        .join(dots, "cust", "left")
        .select(
            "cust",
            F.round(
                F.coalesce(F.col("dot"), F.lit(0)) / (F.col("na") * F.col("nb")), 6
            ).alias("cosine"),
        )
    )


def q_similarity_dispatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X15: quick word-Jaccard pre-check; >0.95 early-exits, else the
    configured (Levenshtein) method runs. ``when`` short-circuits exactly
    like the reference's early return."""
    from . import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    a, b = docs.alias("a"), docs.alias("b")
    joined = a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
    quick = jaccard_words_expr(F.col("a.text"), F.col("b.text"))
    full = levenshtein_similarity_expr(F.col("a.text"), F.col("b.text"))
    return joined.select(
        F.col("a.doc_id").alias("doc_id"),
        (quick > QUICK_SIM_THRESHOLD).alias("quick_exit"),
        F.round(
            F.when(quick > QUICK_SIM_THRESHOLD, quick).otherwise(full), 6
        ).alias("similarity"),
    )


def q_lattice_stream_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: camelot-style lattice/stream flavor cascade over synthesized
    documents — every 3rd order carries a bordered (pipe) table, every 3rd a
    borderless whitespace-aligned table, the rest prose. The cascade tries
    lattice first and falls back to stream; the oracle predicts the winning
    flavor, shape, and last parsed cell directly from the construction, so
    the fallback decision itself is value-checked.

    Reference parity: scripts/extract_tables_camelot.py:29-38."""
    from . import load
    from ..functions.udfs import table_cascade_udf

    orders = load(spark, sf_dir, "orders").where(F.col("o_orderkey") % 10 < 3)
    k = F.col("o_orderkey")
    v1 = (k % 211).cast("string")
    v2 = (k % 137).cast("string")
    v3 = (k % 97).cast("string")
    lattice_text = F.concat(
        F.lit("| A | B |\n| --- | --- |\n| a | "), v1,
        F.lit(" |\n| b | "), v2, F.lit(" |\n| c | "), v3, F.lit(" |"),
    )
    stream_text = F.concat(
        F.lit("a  "), v1, F.lit("\nb  "), v2, F.lit("\nc  "), v3
    )
    prose = F.concat(F.lit("no table here order "), v1, F.lit(" totals "), v2)
    text = (
        F.when(k % 3 == 0, lattice_text)
        .when(k % 3 == 1, stream_text)
        .otherwise(prose)
    )
    r = table_cascade_udf(text)
    return orders.select(
        k.alias("order_key"),
        r["method"].alias("method"),
        r["n_rows"].alias("n_rows"),
        r["n_cols"].alias("n_cols"),
        r["last_cell"].alias("last_cell"),
    )


def q_frequency_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: word-frequency Counter per language, top-3 by (count desc, word
    asc) — explode + count + window rank, map-side partial aggregation free."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    words = docs.select(
        "lang",
        F.explode(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("word"),
    )
    counts = words.groupBy("lang", "word").agg(F.count("*").alias("cnt"))
    order = (F.desc("cnt"), F.asc("word"))
    return top_k(counts, TOP_WORDS, order, by=["lang"]).select(
        "lang", F.col("rk").cast("int").alias("rank"), "word", "cnt"
    )


_DUCK_MD_ROWS = """
        WITH rows AS (
            SELECT l_orderkey AS order_key, l_linenumber,
                   (l_partkey % 100)::VARCHAR AS c0,
                   l_returnflag AS c1
            FROM lineitem
            WHERE l_orderkey % 50 = 0 AND l_linenumber <= 3
        )
"""

ORACLES = {
    "markdown_render": _DUCK_MD_ROWS + """
        SELECT order_key,
               '**Table from Page 1**' || chr(10) || chr(10)
               || '| Qty | Flag |' || chr(10) || '| --- | --- |' || chr(10)
               || string_agg('| ' || c0 || ' | ' || c1 || ' |', chr(10)
                             ORDER BY l_linenumber, c0, c1) AS md
        FROM rows GROUP BY order_key
    """,
    "markdown_parse": _DUCK_MD_ROWS + """
        SELECT order_key,
               row_number() OVER (PARTITION BY order_key
                                  ORDER BY l_linenumber, c0, c1) - 1 AS row_idx,
               c0, c1
        FROM rows
    """,
    "number_freq_cosine": """
        WITH freq AS (
            SELECT o_custkey AS cust, (o_orderkey % 1000)::VARCHAR AS num,
                   count(*) AS cnt
            FROM orders GROUP BY 1, 2
        ), norms AS (
            SELECT cust, sqrt(sum(cnt * cnt)) AS nrm FROM freq GROUP BY cust
        ), dots AS (
            SELECT a.cust AS cust, sum(a.cnt * b.cnt) AS dot
            FROM freq a JOIN freq b
              ON a.num = b.num AND b.cust = a.cust + 1
            GROUP BY a.cust
        )
        SELECT na.cust AS cust,
               round(coalesce(d.dot, 0) / (na.nrm * nb.nrm), 6) AS cosine
        FROM norms na
        JOIN norms nb ON nb.cust = na.cust + 1
        LEFT JOIN dots d ON d.cust = na.cust
    """,
    "similarity_dispatch": f"""
        WITH w AS (
            SELECT doc_id, text,
                   list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                             x -> x <> '')) AS ws,
                   lower(regexp_replace(text, '[^\\p{{L}}\\p{{N}}]+', '', 'g')) AS nt
            FROM documents
        ), pairs AS (
            SELECT a.doc_id AS doc_id,
                   CASE WHEN len(list_distinct(list_concat(a.ws, b.ws))) = 0 THEN 1.0
                        ELSE len(list_intersect(a.ws, b.ws))::DOUBLE
                             / len(list_distinct(list_concat(a.ws, b.ws)))
                   END AS quick,
                   CASE WHEN length(a.nt) = 0 AND length(b.nt) = 0 THEN 1.0
                        WHEN length(a.nt) = 0 OR length(b.nt) = 0 THEN 0.0
                        ELSE 1.0 - levenshtein(a.nt, b.nt)::DOUBLE
                                   / greatest(length(a.nt), length(b.nt))
                   END AS full_sim
            FROM w a JOIN w b ON a.doc_id + 1 = b.doc_id
        )
        SELECT doc_id,
               quick > {QUICK_SIM_THRESHOLD} AS quick_exit,
               round(CASE WHEN quick > {QUICK_SIM_THRESHOLD} THEN quick
                          ELSE full_sim END, 6) AS similarity
        FROM pairs
    """,
    "lattice_stream_cascade": """
        SELECT o_orderkey AS order_key,
               CASE o_orderkey % 3 WHEN 0 THEN 'lattice'
                                   WHEN 1 THEN 'stream'
                                   ELSE 'none' END AS method,
               (CASE WHEN o_orderkey % 3 = 2 THEN 0 ELSE 3 END)::INT AS n_rows,
               (CASE WHEN o_orderkey % 3 = 2 THEN 0 ELSE 2 END)::INT AS n_cols,
               CASE WHEN o_orderkey % 3 = 2 THEN ''
                    ELSE (o_orderkey % 97)::VARCHAR END AS last_cell
        FROM orders WHERE o_orderkey % 10 < 3
    """,
    "frequency_map": f"""
        WITH words AS (
            SELECT lang, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                            x -> x <> '')) AS word
            FROM documents
        ), counts AS (
            SELECT lang, word, count(*) AS cnt FROM words GROUP BY 1, 2
        ), ranked AS (
            SELECT lang, word, cnt,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY cnt DESC, word ASC) AS rank
            FROM counts
        )
        SELECT lang, rank, word, cnt FROM ranked WHERE rank <= {TOP_WORDS}
    """,
}

QUERIES = {
    "markdown_render": q_markdown_render,
    "markdown_parse": q_markdown_parse,
    "number_freq_cosine": q_number_freq_cosine,
    "similarity_dispatch": q_similarity_dispatch,
    "frequency_map": q_frequency_map,
    "lattice_stream_cascade": q_lattice_stream_cascade,
}
