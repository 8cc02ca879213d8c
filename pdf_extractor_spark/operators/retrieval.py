"""Full-text retrieval: exact-rational BM25 top-K document ranking.

The search-side consumer of the corpus statistics the curation suite already
builds (token counts, document frequencies, the capped inverted index): given
query terms, rank documents by BM25 and return the global top-K.

Engine-exact scoring: classic BM25 needs ln() for idf and float division —
neither replays bit-for-bit across engines. This operator fixes a RATIONAL
scoring spec that preserves BM25's shape and is exact in both engines:

- idf_r(t)  = (2N - 2df + 1) / (2df + 1)        (the Robertson idf with the
  +-0.5 smoothing, log dropped — monotone in df, exact in integers)
- tf-part   = tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)),  k1=6/5, b=3/4

Clearing denominators (avgdl = T/N with T = corpus tokens, N = docs):

    term_score = (2N-2df+1) * 44*tf*T * SCALE
                 // ((2df+1) * (20*tf*T + 6*T + 18*dl*N))

one fixed-point floor division per (doc, term), summed per doc — every
operand an integer, DECIMAL(38,0) on the Spark side / HUGEINT in DuckDB
(numerator ~ 1e26 at sf1; overflow margin to 1e38 documented). Production
at 100 TB would use float BM25 (ranking tolerates it); the rational form is
what makes the top-K *oracle-checkable*.

Scale shape: tf is one (doc, term) hash-groupBy on the query-filtered
explode (the filter cuts the corpus to rows containing query terms BEFORE
any shuffle); df/T/N are term-keyed/1-row broadcasts; dl rides a doc-keyed
join; the final rank is ``functions.expressions.top_k``.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.expressions import top_k
from .text_analysis import _DUCK_TOKS, _tokens_expr

QUERY_TERMS = ["dup", "query", "window"]  # rare + common: exercises idf
BM25_TOP_K = 10
BM25_SCALE = 10**12

_D38 = "DECIMAL(38,0)"


def bm25_top_k(
    docs: DataFrame,
    terms: list[str],
    k: int = BM25_TOP_K,
) -> DataFrame:
    """Global top-k (rk, doc_id, score, n_terms) by rational BM25."""
    toks = docs.select("doc_id", _tokens_expr().alias("toks"))
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    corpus = dl.agg(
        F.sum("dl").alias("t_tokens"), F.count("*").alias("n_docs")
    )
    hits = toks.select(
        "doc_id", F.explode("toks").alias("term")
    ).where(F.col("term").isin(terms))
    tf = hits.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = tf.groupBy("term").agg(F.count("*").alias("df"))
    score = F.expr(
        f"div(CAST(2*n_docs - 2*df + 1 AS {_D38})"
        f"    * CAST(44 * tf AS {_D38})"
        f"    * CAST(t_tokens AS {_D38})"
        f"    * CAST({BM25_SCALE} AS {_D38}),"
        f"  CAST(2*df + 1 AS {_D38})"
        f"    * (CAST(20 * tf AS {_D38}) * CAST(t_tokens AS {_D38})"
        f"       + CAST(6 AS {_D38}) * CAST(t_tokens AS {_D38})"
        f"       + CAST(18 * dl AS {_D38}) * CAST(n_docs AS {_D38})))"
    )
    scored = (
        tf.join(F.broadcast(df_t), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .withColumn("term_score", score)
        .groupBy("doc_id")
        .agg(
            F.sum("term_score").alias("score"),
            F.count("*").alias("n_terms"),
        )
    )
    return top_k(scored, k, (F.desc("score"), F.asc("doc_id"))).select(
        "rk", "doc_id", "score", "n_terms"
    )


def q_bm25_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import load

    return bm25_top_k(load(spark, sf_dir, "documents"), QUERY_TERMS)


# ---------------------------------------------------------------------------
# Hybrid retrieval: reciprocal-rank fusion (Cormack, Clarke & Buettcher,
# SIGIR 2009) of the lexical BM25 list and a semantic cosine list — the
# standard RAG first-stage combiner. RRF needs only the RANKS, so it is
# integer-exact by construction: contribution = RRF_SCALE // (RRF_K + rank).
# ---------------------------------------------------------------------------

RRF_K = 60          # the canonical RRF dampening constant
RRF_SCALE = 10**6   # fixed-point units for the reciprocal contributions
FUSED_TOP_K = BM25_TOP_K


def _semantic_top_k(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """Cosine top-k of the corpus against the vec_id-0 query embedding
    (doc_id == vec_id in the driver tables): 1-row broadcast query side,
    ranked by :func:`top_k`."""
    from ..functions.expressions import cosine_similarity_expr
    from .similarity_search import _emb

    emb = _emb(spark, sf_dir)
    qv = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.where(F.col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                cosine_similarity_expr(F.col("q_emb"), F.col("embedding")), 4
            ).alias("sim"),
        )
    )
    return top_k(scored, k, (F.desc("sim"), F.asc("doc_id"))).select(
        "rk", "doc_id"
    )


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 lexical top-K and the semantic
    cosine top-K: every doc in either list scores
    sum(RRF_SCALE // (RRF_K + rank)) over the lists it appears in; the
    fused top-FUSED_TOP_K is returned with its system coverage.

    Scale shape: each system bounds its own output to K rows with a
    :func:`top_k` that plans as TakeOrderedAndProject, so the fusion
    operates on <= 2K rows, and its final rank is one more top_k.

    Output: rk, doc_id, rrf_score, n_systems."""
    lex = q_bm25_top_k(spark, sf_dir).select("doc_id", "rk")
    sem = _semantic_top_k(spark, sf_dir, FUSED_TOP_K)
    fused = (
        lex.unionByName(sem.select("doc_id", "rk"))
        .select(
            "doc_id",
            F.expr(f"div({RRF_SCALE}, {RRF_K} + rk)").alias("c"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("rrf_score"),
            F.count(F.lit(1)).alias("n_systems"),
        )
    )
    order = (F.desc("rrf_score"), F.asc("doc_id"))
    return top_k(fused, FUSED_TOP_K, order).select(
        "rk", "doc_id", "rrf_score", "n_systems"
    )


SNIPPET_RADIUS = 30  # chars kept either side of the matched term


def q_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC (keyword-in-context) snippet generation — the display half of
    a search result page: for each BM25 top-K document, the earliest
    occurrence of any query term (ties to query-term order) and the
    +-SNIPPET_RADIUS characters around it. Pure JVM string expressions
    (instr/substring), mirrored in SQL with strpos/substring — both
    1-based, both case-sensitive.

    Scale shape: the top-K list (K rows) broadcasts onto the documents
    scan, so text is fetched for exactly K docs; per-doc work is a
    constant number of substring searches. Inner-join semantics: a top-K
    doc always contains at least one query term (its tokens came from
    this text)."""
    from . import load

    top = q_bm25_top_k(spark, sf_dir).select("rk", "doc_id")
    hits = load(spark, sf_dir, "documents").join(
        F.broadcast(top), "doc_id"
    )
    absent = 1 << 62
    cands = F.array(
        *[
            F.struct(
                F.when(
                    F.instr(F.col("text"), F.lit(t)) > 0,
                    F.instr(F.col("text"), F.lit(t)).cast("long"),
                )
                .otherwise(F.lit(absent))
                .alias("pos"),
                F.lit(i).alias("ord"),
                F.lit(t).alias("term"),
            )
            for i, t in enumerate(QUERY_TERMS)
        ]
    )
    best = hits.withColumn("b", F.array_min(cands)).where(
        F.col("b.pos") < absent
    )
    return best.select(
        "rk",
        "doc_id",
        F.col("b.term").alias("term"),
        F.col("b.pos").alias("pos"),
        F.expr(
            f"substring(text, greatest(b.pos - {SNIPPET_RADIUS}, 1), "
            f"{2 * SNIPPET_RADIUS} + length(b.term))"
        ).alias("snippet"),
    )


_SNIPPET_TERMS_SQL = ", ".join(
    f"('{t}', {i})" for i, t in enumerate(QUERY_TERMS)
)


def _search_snippets_oracle() -> str:
    return f"""
        WITH top AS (
            SELECT rk, doc_id FROM ({ORACLES["bm25_top_k"]})
        ), hits AS (
            SELECT t.rk, t.doc_id, q.term, q.ord, d.text,
                   strpos(d.text, q.term) AS pos
            FROM top t
            JOIN documents d USING (doc_id),
                 (VALUES {_SNIPPET_TERMS_SQL}) q(term, ord)
            WHERE strpos(d.text, q.term) > 0
        ), best AS (
            SELECT rk, doc_id, term, pos, text,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY pos, ord) AS r
            FROM hits
        )
        SELECT rk, doc_id, term, pos::BIGINT AS pos,
               substring(text, greatest(pos - {SNIPPET_RADIUS}, 1),
                         {2 * SNIPPET_RADIUS} + len(term)) AS snippet
        FROM best WHERE r = 1
    """


QUERIES = {
    "bm25_top_k": q_bm25_top_k,
    "rrf_fusion": q_rrf_fusion,
    "search_snippets": q_search_snippets,
}

_TERMS_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)

ORACLES = {
    "bm25_top_k": f"""
        WITH toks AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ), dl AS (
            SELECT doc_id, len(toks) AS dl FROM toks
        ), corpus AS (
            SELECT sum(dl)::BIGINT AS t_tokens, count(*) AS n_docs FROM dl
        ), hits AS (
            SELECT doc_id, unnest(toks) AS term FROM toks
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM hits
            WHERE term IN ({_TERMS_SQL}) GROUP BY doc_id, term
        ), dft AS (
            SELECT term, count(*) AS df FROM tf GROUP BY term
        ), scored AS (
            SELECT doc_id,
                   sum(
                     ((2*n_docs - 2*df + 1)::HUGEINT
                      * (44 * tf)::HUGEINT * t_tokens::HUGEINT
                      * {BM25_SCALE}::HUGEINT)
                     // ((2*df + 1)::HUGEINT
                         * ((20 * tf)::HUGEINT * t_tokens::HUGEINT
                            + 6::HUGEINT * t_tokens::HUGEINT
                            + (18 * dl)::HUGEINT * n_docs::HUGEINT))
                   )::BIGINT AS score,
                   count(*) AS n_terms
            FROM tf JOIN dft USING (term) JOIN dl USING (doc_id), corpus
            GROUP BY doc_id
        )
        SELECT row_number() OVER (ORDER BY score DESC, doc_id) AS rk,
               doc_id, score, n_terms
        FROM scored
        ORDER BY score DESC, doc_id
        LIMIT {BM25_TOP_K}
    """,
}

# DuckDB replay of the fusion: the BM25 oracle nests as a subquery (the
# ann_recall composition pattern), the semantic list re-ranks cosine against
# the vec_id-0 embedding, and the RRF sum uses the same integer floor
# division. _DUCK_SIM (similarity_search) expects aliases q/c.
ORACLES["rrf_fusion"] = None  # filled below after the import


def _rrf_oracle() -> str:
    from .similarity_search import _DUCK_SIM

    return f"""
        WITH lex AS (
            SELECT doc_id, rk AS rank FROM ({ORACLES["bm25_top_k"]})
        ), e AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ), qv AS (
            SELECT emb AS q_emb FROM e WHERE vec_id = 0
        ), sem0 AS (
            SELECT c.vec_id AS doc_id, {_DUCK_SIM}
            FROM e c, qv q WHERE c.vec_id <> 0
        ), sem AS (
            SELECT doc_id, rank FROM (
                SELECT doc_id,
                       row_number() OVER (ORDER BY sim DESC, doc_id) AS rank
                FROM sem0
            ) WHERE rank <= {FUSED_TOP_K}
        ), u AS (
            SELECT doc_id, rank FROM lex
            UNION ALL SELECT doc_id, rank FROM sem
        ), f AS (
            SELECT doc_id,
                   sum({RRF_SCALE}::BIGINT // ({RRF_K} + rank))::BIGINT
                       AS rrf_score,
                   count(*) AS n_systems
            FROM u GROUP BY 1
        )
        SELECT row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rk,
               doc_id, rrf_score, n_systems
        FROM f
        ORDER BY rrf_score DESC, doc_id
        LIMIT {FUSED_TOP_K}
    """


ORACLES["rrf_fusion"] = _rrf_oracle()
ORACLES["search_snippets"] = _search_snippets_oracle()
