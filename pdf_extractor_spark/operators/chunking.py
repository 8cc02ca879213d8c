"""Chunking / sectioning / assembly operators — the reference's P-family
(page-range chunking, outline sections) plus the join-shaped assembly ops,
over deterministic derivations of the driver parquet tables.

Reference parity targets (file:line in /root/reference):
- P1 outline-based split:  src/services/pdf_processor.py:29-68,144-221
- P2 outline extraction:   src/services/pdf_processor.py:105-142
- P3 page-count chunking:  src/services/pdf_processor.py:187-207,223-274
- P4 first-4-outline cap:  src/services/pdf_processor.py:56-59
- W1 end-page = next start: src/services/pdf_processor.py:174-181
- X6 page header:          src/core/utils.py:143-161
- X7 safe filename:        src/services/workflows/default_handler.py:176-182
- A2 page sort + concat:   src/models/mistral_models.py:93-107
- J6 content replacement:  src/services/mistral_client.py:237-252
- J9 section assembly:     src/services/workflows/default_handler.py:150-197
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..config import MAX_OUTLINES, MAX_PAGES_PER_CHUNK
from ..functions.expressions import chunk_id_expr, safe_filename_expr, top_k


def q_chunk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3: fixed-size page chunking as a pure projection. Each user's events,
    in stable order, play the pages of one document; chunk_id =
    floor(page_idx / 15) costs no shuffle beyond the ranking window."""
    from . import load

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pages = ev.select(
        "user_id", (F.row_number().over(w) - 1).alias("page_idx")
    )
    chunked = pages.withColumn("chunk_id", chunk_id_expr(F.col("page_idx")))
    return chunked.groupBy("user_id", "chunk_id").agg(
        F.count("*").alias("n_pages"),
        F.min("page_idx").alias("first_page"),
        F.max("page_idx").alias("last_page"),
    )


def q_outline_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1+P2+P4+W1: outline rows (title, start page) per document -> keep the
    first MAX_OUTLINES by page, end_page = next outline's start (lead) else
    the document's max page, and the count of 15-page chunks each section
    spans. Outlines derive from ``part``."""
    from . import load

    outlines = load(spark, sf_dir, "part").select(
        (F.col("p_partkey") % 50).alias("doc"),
        (F.col("p_partkey") % 97).alias("page"),
        F.col("p_name").alias("title"),
    )
    # total_pages must be computed BEFORE the MAX_OUTLINES cap (the reference
    # spans the last kept section to the document end, pdf_processor.py:174-181
    # — not to the last *kept* outline's page).
    ranked = top_k(
        outlines.withColumn("total_pages", F.max("page").over(Window.partitionBy("doc"))),
        MAX_OUTLINES,
        ["page", "title"],
        by=["doc"],
    )
    w2 = Window.partitionBy("doc").orderBy("page", "title")
    sec = ranked.select(
        "doc",
        F.col("rk").cast("int").alias("rk"),
        "title",
        "page",
        F.coalesce(F.lead("page").over(w2), F.col("total_pages")).alias("end_page"),
    )
    chunk_lo = F.floor(F.col("page") / MAX_PAGES_PER_CHUNK)
    chunk_hi = F.greatest(
        chunk_lo, F.floor((F.greatest(F.col("end_page") - 1, F.col("page"))) / MAX_PAGES_PER_CHUNK)
    )
    return sec.withColumn("n_chunks", (chunk_hi - chunk_lo + 1).cast("int"))


def q_safe_filename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X7: section-title -> filesystem-safe name (keep alnum/space/dash/
    underscore, truncate 50, spaces to underscores)."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        safe_filename_expr(F.substring("text", 1, 80)).alias("filename"),
    )


def q_page_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+X6: sort pages by index, prepend '# Page {n}' headers, join with
    blank lines — ordered collect_list + transform, no Python."""
    from . import load

    li = load(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 50 == 0)
    body = F.concat(
        F.lit("row "), (F.col("l_partkey") % 100).cast("string"),
        F.lit(" flag "), F.col("l_returnflag"),
    )
    pages = li.select(
        F.col("l_orderkey").alias("order_key"),
        F.col("l_linenumber").alias("page_no"),
        body.alias("body"),
    )
    ordered = F.sort_array(F.collect_list(F.struct("page_no", "body")))
    render = lambda s: F.concat(  # noqa: E731
        F.lit("# Page "), s["page_no"].cast("string"), F.lit("\n\n"), s["body"]
    )
    return pages.groupBy("order_key").agg(
        F.array_join(F.transform(ordered, render), "\n\n").alias("assembled")
    )


def q_repair_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: after validation, flagged pages' content is replaced by the
    alternative extraction when present — a left join + coalesce, the
    repaired side being a small filtered subset (broadcastable)."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    repairs = docs.where(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.concat(F.lit("REPAIRED: "), F.substring("text", 1, 40)).alias("alt"),
    )
    return (
        docs.join(F.broadcast(repairs), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("alt", "text").alias("final_text"),
            F.col("alt").isNotNull().alias("was_repaired"),
        )
        .select(
            "doc_id",
            F.length("final_text").alias("n_final_chars"),
            "was_repaired",
        )
    )


def q_section_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: sections carry chunk_indices; explode them, join chunk results on
    (doc, chunk_idx), and gather each section's content in chunk order.
    Sections derive from ``nation``, chunk results from ``supplier``."""
    from . import load

    sections = load(spark, sf_dir, "nation").select(
        (F.col("n_nationkey") % 5).alias("doc"),
        F.col("n_nationkey").alias("section_idx"),
        F.array(
            (F.col("n_nationkey") % 3), (F.col("n_nationkey") % 3) + 1
        ).alias("chunk_indices"),
    )
    chunks = load(spark, sf_dir, "supplier").select(
        (F.col("s_suppkey") % 5).alias("doc"),
        (F.col("s_suppkey") % 7).alias("chunk_idx"),
        F.concat(F.lit("c"), F.col("s_suppkey").cast("string")).alias("content"),
        F.col("s_suppkey").alias("ck"),
    )
    exploded = sections.select(
        "doc", "section_idx", F.posexplode("chunk_indices").alias("pos", "chunk_idx")
    )
    joined = exploded.join(chunks, ["doc", "chunk_idx"])
    ordered = F.sort_array(F.collect_list(F.struct("pos", "ck", "content")))
    return joined.groupBy("doc", "section_idx").agg(
        F.array_join(
            F.transform(ordered, lambda s: s["content"]), " "
        ).alias("combined"),
        F.count("*").alias("n_chunks"),
    )


ORACLES = {
    "chunk_split": f"""
        WITH pages AS (
            SELECT user_id,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) - 1 AS page_idx
            FROM events
        )
        SELECT user_id, page_idx // {MAX_PAGES_PER_CHUNK} AS chunk_id,
               count(*) AS n_pages,
               min(page_idx) AS first_page,
               max(page_idx) AS last_page
        FROM pages GROUP BY 1, 2
    """,
    "outline_sections": f"""
        WITH o AS (
            SELECT p_partkey % 50 AS doc, p_partkey % 97 AS page,
                   p_name AS title
            FROM part
        ), ranked AS (
            SELECT doc, page, title,
                   -- document page count, computed BEFORE the outline cap
                   max(page) OVER (PARTITION BY doc) AS total_pages,
                   row_number() OVER (PARTITION BY doc
                                      ORDER BY page, title) AS rk
            FROM o
        ), kept AS (
            SELECT * FROM ranked WHERE rk <= {MAX_OUTLINES}
        ), sec AS (
            SELECT doc, rk, title, page,
                   coalesce(lead(page) OVER (PARTITION BY doc
                                             ORDER BY page, title),
                            total_pages) AS end_page
            FROM kept
        )
        SELECT doc, rk, title, page, end_page,
               (greatest(page // {MAX_PAGES_PER_CHUNK},
                         greatest(end_page - 1, page) // {MAX_PAGES_PER_CHUNK})
                - page // {MAX_PAGES_PER_CHUNK} + 1)::INT AS n_chunks
        FROM sec
    """,
    "safe_filename": """
        SELECT doc_id,
               replace(trim(substring(
                   regexp_replace(substring(text, 1, 80),
                                  '[^0-9A-Za-z _\\-]', '', 'g'),
                   1, 50)), ' ', '_') AS filename
        FROM documents
    """,
    "page_assembly": """
        WITH pages AS (
            SELECT l_orderkey AS order_key, l_linenumber AS page_no,
                   'row ' || (l_partkey % 100)::VARCHAR
                   || ' flag ' || l_returnflag AS body
            FROM lineitem WHERE l_orderkey % 50 = 0
        )
        SELECT order_key,
               string_agg('# Page ' || page_no::VARCHAR || chr(10) || chr(10)
                          || body, chr(10) || chr(10)
                          ORDER BY page_no, body) AS assembled
        FROM pages GROUP BY order_key
    """,
    "repair_coalesce": """
        WITH r AS (
            SELECT doc_id, 'REPAIRED: ' || substring(text, 1, 40) AS alt
            FROM documents WHERE doc_id % 7 = 0
        )
        SELECT d.doc_id,
               length(coalesce(r.alt, d.text)) AS n_final_chars,
               r.alt IS NOT NULL AS was_repaired
        FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
    """,
    "section_assembly": """
        WITH sections AS (
            SELECT n_nationkey % 5 AS doc, n_nationkey AS section_idx,
                   [n_nationkey % 3, n_nationkey % 3 + 1] AS chunk_indices
            FROM nation
        ), exploded AS (
            SELECT doc, section_idx, g.i - 1 AS pos,
                   chunk_indices[g.i] AS chunk_idx
            FROM sections,
                 LATERAL (SELECT unnest(range(1, len(chunk_indices) + 1)) AS i) g
        ), chunks AS (
            SELECT s_suppkey % 5 AS doc, s_suppkey % 7 AS chunk_idx,
                   'c' || s_suppkey::VARCHAR AS content, s_suppkey AS ck
            FROM supplier
        )
        SELECT e.doc, e.section_idx,
               string_agg(c.content, ' ' ORDER BY e.pos, c.ck) AS combined,
               count(*) AS n_chunks
        FROM exploded e JOIN chunks c
          ON e.doc = c.doc AND e.chunk_idx = c.chunk_idx
        GROUP BY e.doc, e.section_idx
    """,
}

QUERIES = {
    "chunk_split": q_chunk_split,
    "outline_sections": q_outline_sections,
    "safe_filename": q_safe_filename,
    "page_assembly": q_page_assembly,
    "repair_coalesce": q_repair_coalesce,
    "section_assembly": q_section_assembly,
}
