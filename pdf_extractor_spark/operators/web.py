"""Web-provenance curation: URL host parsing, registered-domain rollup, and
host-level filtering (domain blocklist + over-representation cap) — the
RefinedWeb/C4-style provenance gate a web-scale corpus runs before content
filters.

The synthetic driver corpus carries no URL column, so a deterministic URL is
synthesized JVM-side from (doc_id, lang) — the same pattern as
operators/multimodal.py wrapping documents into WAV/BMP containers: the
synthesis is the fixture, the OPERATOR work (host extraction, registered-
domain derivation, corpus host statistics, policy join) is real and is what
scales. One in ten docs lands on a hub host so the over-representation rule
has genuine work at test scale.

Scale shape: host frequency is one hash-groupBy keyed on host (hot hosts are
fine — the aggregate carries a count, not rows); the host-stats frame is
bounded by the number of distinct hosts, orders below the corpus, so the
join back is a broadcast; the corpus total is a 1-row broadcast cross join.
The keep decision is a pure map over cross-multiplied integers — no floats,
no windows, no Python.
"""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.expressions import top_k

# Registered domains rejected outright (license/abuse lists in production).
BLOCKED_DOMAINS = ["example.net"]
# A host holding more than 1/OVERREP_DENOM of the corpus is over-represented
# (C4/RefinedWeb cap the contribution of any single site).
OVERREP_DENOM = 20

_TLD = "CASE doc_id % 4 WHEN 0 THEN 'com' WHEN 1 THEN 'org' " \
       "WHEN 2 THEN 'net' ELSE 'io' END"
URL_EXPR = (
    "concat('https://', "
    " CASE WHEN doc_id % 10 = 0 THEN 'hub.example.com' "
    f"      ELSE concat('site', doc_id % 37, '.example.', {_TLD}) END, "
    " '/', lang, '/doc-', doc_id)"
)


def _registered_domain(host: F.Column) -> F.Column:
    """Last two dot-labels (public-suffix lists are a lookup-table refinement
    on the same shape)."""
    return F.when(
        F.size(F.split(host, r"\.")) < 2, host
    ).otherwise(F.substring_index(host, ".", -2))


def url_host_filter(docs_with_url: DataFrame) -> DataFrame:
    """Per document: its parsed host, registered domain, the host's corpus
    doc count, and the keep decision with a reason — 'blocklist' (domain on
    the reject list), 'overrepresented' (host holds > 1/OVERREP_DENOM of
    the corpus), or 'ok'.

    Expects a frame with (doc_id, url); host parsing uses the JVM
    ``parse_url`` expression.

    The host-stats broadcast hint is valid while distinct hosts stay
    orders below the corpus (the usual web shape: ~10^7-10^8 hosts at
    16 bytes/row against 10^10+ docs). Past broadcastable size, drop the
    hint — the join is already host-equi-keyed, so AQE falls back to a
    shuffle hash join with identical semantics; only the hint, not the
    shape, is scale-bound."""
    parsed = docs_with_url.select(
        "doc_id",
        F.expr("parse_url(url, 'HOST')").alias("host"),
    ).withColumn("domain", _registered_domain(F.col("host")))
    host_stats = parsed.groupBy("host").agg(
        F.count("*").alias("host_docs")
    )
    total = parsed.agg(F.count("*").alias("n_total"))
    reason = (
        F.when(F.col("domain").isin(BLOCKED_DOMAINS), F.lit("blocklist"))
        .when(
            F.col("host_docs") * OVERREP_DENOM > F.col("n_total"),
            F.lit("overrepresented"),
        )
        .otherwise(F.lit("ok"))
    )
    return (
        parsed.join(F.broadcast(host_stats), "host")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "host",
            "domain",
            "host_docs",
            reason.alias("reason"),
            (reason == "ok").alias("keep"),
        )
    )


def q_url_host_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(URL_EXPR).alias("url")
    )
    return url_host_filter(docs)


# --- anchor-text aggregation -------------------------------------------------
# Per-target in-link signal: the classic web-scale relevance/quality feature
# (anchor text describes the TARGET better than the target's own boilerplate).
# Out-links are synthesized deterministically (same fixture pattern as
# URL_EXPR above): each doc links to N_OUT_LINKS targets, the anchor being a
# position-picked word of the SOURCE text.

N_OUT_LINKS = 3
ANCHOR_TOP_K = 3


def anchor_text_agg(links: DataFrame) -> DataFrame:
    """Aggregate a link frame (src, src_host, tgt, anchor) into per-target
    in-link stats: in-degree, distinct source hosts, and the top
    ANCHOR_TOP_K anchor terms as "anchor(count)" in rank order.

    Scale shape: both aggregations are hash-groupBys keyed on the target
    (map-side partial counts — a hot target ships counts, not rows); the
    anchor rank window partitions by target over the already-aggregated
    (tgt, anchor) counts, so per-partition state is the target's DISTINCT
    anchor vocabulary, bounded far below its raw in-degree. No collect_set
    of raw anchors ever holds unaggregated rows."""
    deg = links.groupBy("tgt").agg(
        F.count("*").alias("in_degree"),
        F.countDistinct("src_host").alias("n_src_hosts"),
    )
    ac = links.groupBy("tgt", "anchor").agg(F.count("*").alias("cnt"))
    top = (
        top_k(ac, ANCHOR_TOP_K, (F.desc("cnt"), F.asc("anchor")), by=["tgt"])
        .groupBy("tgt")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("rk", "anchor", "cnt"))),
                    lambda s: F.concat(
                        s["anchor"],
                        F.lit("("),
                        s["cnt"].cast("string"),
                        F.lit(")"),
                    ),
                ),
                ",",
            ).alias("top_anchors")
        )
    )
    return deg.join(top, "tgt").select(
        F.col("tgt").alias("doc_id"), "in_degree", "n_src_hosts", "top_anchors"
    )


def q_anchor_text_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import load

    docs = load(spark, sf_dir, "documents")
    n_total = docs.agg(F.count("*").alias("n_docs"))
    ws = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    src = docs.crossJoin(F.broadcast(n_total)).select(
        F.col("doc_id").alias("src"),
        F.expr(f"parse_url({URL_EXPR}, 'HOST')").alias("src_host"),
        ws.alias("ws"),
        "n_docs",
    )
    j = F.col("j")
    links = (
        src.select(
            "src",
            "src_host",
            "ws",
            "n_docs",
            F.explode(
                F.array(*[F.lit(k) for k in range(N_OUT_LINKS)])
            ).alias("j"),
        )
        .select(
            "src",
            "src_host",
            F.pmod(F.col("src") * 7 + j * 13 + 1, F.col("n_docs")).alias("tgt"),
            F.when(
                F.size("ws") > 0,
                F.element_at(
                    "ws",
                    (
                        F.pmod(F.col("src") * 3 + j, F.size("ws")) + 1
                    ).cast("int"),
                ),
            )
            .otherwise(F.lit("link"))
            .alias("anchor"),
        )
        .where(F.col("tgt") != F.col("src"))
    )
    return anchor_text_agg(links)


QUERIES = {
    "url_host_filter": q_url_host_filter,
    "anchor_text_agg": q_anchor_text_agg,
}

ORACLES = {
    "url_host_filter": f"""
        WITH u AS (
            SELECT doc_id,
                   'https://' ||
                   CASE WHEN doc_id % 10 = 0 THEN 'hub.example.com'
                        ELSE 'site' || (doc_id % 37)::VARCHAR ||
                             '.example.' ||
                             CASE doc_id % 4 WHEN 0 THEN 'com'
                                  WHEN 1 THEN 'org' WHEN 2 THEN 'net'
                                  ELSE 'io' END
                   END || '/' || lang || '/doc-' || doc_id::VARCHAR AS url
            FROM documents
        ), p AS (
            SELECT doc_id,
                   regexp_extract(url, '^https?://([^/]+)', 1) AS host
            FROM u
        ), d AS (
            SELECT doc_id, host,
                   CASE WHEN len(string_split(host, '.')) < 2 THEN host
                        ELSE array_to_string(
                            string_split(host, '.')[
                                len(string_split(host, '.')) - 1 :
                            ], '.')
                   END AS domain
            FROM p
        ), hs AS (
            SELECT host, count(*) AS host_docs FROM d GROUP BY host
        ), t AS (SELECT count(*) AS n_total FROM d)
        SELECT doc_id, host, domain, host_docs,
               CASE WHEN domain IN ('example.net') THEN 'blocklist'
                    WHEN host_docs * {OVERREP_DENOM} > n_total
                        THEN 'overrepresented'
                    ELSE 'ok' END AS reason,
               (CASE WHEN domain IN ('example.net') THEN 'blocklist'
                     WHEN host_docs * {OVERREP_DENOM} > n_total
                         THEN 'overrepresented'
                     ELSE 'ok' END) = 'ok' AS keep
        FROM d JOIN hs USING (host), t
    """,
    "anchor_text_agg": f"""
        WITH t AS (SELECT count(*) AS n_docs FROM documents),
        w AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> '') AS ws
            FROM documents
        ), u AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 10 = 0 THEN 'hub.example.com'
                        ELSE 'site' || (doc_id % 37)::VARCHAR ||
                             '.example.' ||
                             CASE doc_id % 4 WHEN 0 THEN 'com'
                                  WHEN 1 THEN 'org' WHEN 2 THEN 'net'
                                  ELSE 'io' END
                   END AS src_host
            FROM documents
        ), l AS (
            SELECT w.doc_id AS src, u.src_host,
                   (w.doc_id * 7 + j.j * 13 + 1) % t.n_docs AS tgt,
                   CASE WHEN len(ws) > 0
                        THEN ws[(1 + (w.doc_id * 3 + j.j) % len(ws))::INT]
                        ELSE 'link' END AS anchor
            FROM w JOIN u ON u.doc_id = w.doc_id, t,
                 LATERAL (SELECT unnest(range({N_OUT_LINKS})) AS j) j
        ), lf AS (
            SELECT * FROM l WHERE tgt <> src
        ), deg AS (
            SELECT tgt, count(*) AS in_degree,
                   count(DISTINCT src_host) AS n_src_hosts
            FROM lf GROUP BY 1
        ), ac AS (
            SELECT tgt, anchor, count(*) AS cnt FROM lf GROUP BY 1, 2
        ), rkd AS (
            SELECT tgt, anchor, cnt,
                   row_number() OVER (PARTITION BY tgt
                                      ORDER BY cnt DESC, anchor) AS rk
            FROM ac
        ), topA AS (
            SELECT tgt,
                   string_agg(anchor || '(' || cnt::VARCHAR || ')', ','
                              ORDER BY rk) AS top_anchors
            FROM rkd WHERE rk <= {ANCHOR_TOP_K} GROUP BY 1
        )
        SELECT d.tgt AS doc_id, d.in_degree, d.n_src_hosts, a.top_anchors
        FROM deg d JOIN topA a ON a.tgt = d.tgt
    """,
}


# --- URL canonicalization ----------------------------------------------------
# The crawl-dedup normalizer: the same resource reached via case variants,
# default ports, tracking parameters, reordered query strings, fragments, or
# trailing slashes must collapse to ONE canonical key before any URL-level
# dedup or frontier scheduling. Fixture URLs are synthesized deterministically
# from doc_id (the URL_EXPR convention) with every hazard injected.

MESSY_URL_EXPR = (
    "concat("
    " CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END, '://',"
    " CASE WHEN doc_id % 2 = 0"
    "      THEN concat('Site', doc_id % 20, '.Example.COM')"
    "      ELSE concat('site', doc_id % 20, '.example.com') END,"
    " CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END,"
    " '/a/doc-', doc_id % 50,"
    " CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,"
    " '?',"
    " CASE WHEN doc_id % 2 = 0 THEN concat('b=2&a=', doc_id % 50)"
    "      ELSE concat('a=', doc_id % 50, '&b=2') END,"
    " CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed' ELSE '' END,"
    " CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END)"
)

_TRACKING_PREFIXES = ("utm_", "fbclid=", "gclid=")


def url_canonicalize(docs_with_url: DataFrame) -> DataFrame:
    """(doc_id, url) -> (doc_id, url, url_canon, n_variants): lowercase
    scheme/host, drop default ports and fragments, strip tracking params,
    sort the surviving query params, trim trailing path slashes, then
    count how many corpus URLs share each canonical form.

    String surgery uses only substring_index/split/sort primitives with
    exact DuckDB twins (split_part/list_sort) — no parse_url, which DuckDB
    lacks. Scale shape: the normalization is a pure per-row map; the
    variant count is one canonical-key hash aggregate (map-side combine)
    joined back equi-keyed — a hot canonical URL ships a count, not its
    rows."""
    nofrag = F.substring_index("url", "#", 1)
    base = F.substring_index(nofrag, "?", 1)
    # Everything after the FIRST '?' — '?' is legal inside a query string,
    # so substring_index(..., '?', -1) (after the LAST one) would silently
    # drop middle segments.
    query = F.when(
        nofrag.contains("?"),
        F.substring(nofrag, F.length(base) + 2, F.lit(1 << 20)),
    ).otherwise(F.lit(""))
    scheme = F.lower(F.substring_index(base, "://", 1))
    rest = F.substring_index(base, "://", -1)
    hostport = F.substring_index(rest, "/", 1)
    # path within rest: everything after the hostport prefix
    path = F.substring(rest, F.length(hostport) + 1, F.lit(1 << 20))
    host = F.lower(F.substring_index(hostport, ":", 1))
    port = F.when(
        hostport.contains(":"), F.substring_index(hostport, ":", -1)
    ).otherwise(F.lit(""))
    keep_port = ~(
        (port == "")
        | ((scheme == "https") & (port == "443"))
        | ((scheme == "http") & (port == "80"))
    )
    norm_path = F.regexp_replace(path, "/+$", "")
    norm_path = F.when(norm_path == "", F.lit("/")).otherwise(norm_path)
    # startswith, not LIKE: '_' is a LIKE single-char wildcard, so
    # "LIKE 'utm_%'" would also strip legitimate params like 'utmost='.
    drop = " OR ".join(
        f"startswith(p, '{pfx}')" for pfx in _TRACKING_PREFIXES
    )
    kept = F.expr(
        "array_join(sort_array(filter(split(q, '&'),"
        f" p -> p <> '' AND NOT ({drop}))), '&')"
    )
    with_parts = docs_with_url.select(
        "doc_id",
        "url",
        scheme.alias("s"),
        host.alias("h"),
        F.when(keep_port, F.concat(F.lit(":"), port)).otherwise(
            F.lit("")
        ).alias("prt"),
        norm_path.alias("p"),
        query.alias("q"),
    ).select(
        "doc_id",
        "url",
        F.concat(
            F.col("s"), F.lit("://"), F.col("h"), F.col("prt"), F.col("p"),
            F.when(kept != "", F.concat(F.lit("?"), kept)).otherwise(
                F.lit("")
            ),
        ).alias("url_canon"),
    )
    counts = with_parts.groupBy("url_canon").agg(
        F.count(F.lit(1)).alias("n_variants")
    )
    return with_parts.join(counts, "url_canon").select(
        "doc_id", "url", "url_canon", "n_variants"
    )


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.expr(MESSY_URL_EXPR).alias("url")
    )
    return url_canonicalize(docs)


QUERIES["url_canonicalize"] = q_url_canonicalize

_DROP_DUCK = " OR ".join(
    f"starts_with(p, '{pfx}')" for pfx in _TRACKING_PREFIXES
)

ORACLES["url_canonicalize"] = f"""
    WITH raw AS (
        SELECT doc_id,
               CASE WHEN doc_id % 3 = 0 THEN 'HTTPS' ELSE 'https' END
               || '://'
               || CASE WHEN doc_id % 2 = 0
                       THEN 'Site' || (doc_id % 20) || '.Example.COM'
                       ELSE 'site' || (doc_id % 20) || '.example.com' END
               || CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END
               || '/a/doc-' || (doc_id % 50)
               || CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END
               || '?'
               || CASE WHEN doc_id % 2 = 0
                       THEN 'b=2&a=' || (doc_id % 50)
                       ELSE 'a=' || (doc_id % 50) || '&b=2' END
               || CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed'
                       ELSE '' END
               || CASE WHEN doc_id % 6 = 0 THEN '#section-2' ELSE '' END
                   AS url
        FROM documents
    ), parts AS (
        SELECT doc_id, url,
               split_part(split_part(url, '#', 1), '?', 1) AS base,
               CASE WHEN contains(split_part(url, '#', 1), '?')
                    THEN substring(split_part(url, '#', 1),
                                   length(split_part(
                                       split_part(url, '#', 1), '?', 1)) + 2)
                    ELSE '' END AS q
        FROM raw
    ), comps AS (
        SELECT doc_id, url, q,
               lower(split_part(base, '://', 1)) AS s,
               split_part(split_part(base, '://', 2), '/', 1) AS hostport,
               substring(split_part(base, '://', 2),
                         length(split_part(split_part(base, '://', 2),
                                           '/', 1)) + 1) AS path
        FROM parts
    ), norm AS (
        SELECT doc_id, url,
               s,
               lower(split_part(hostport, ':', 1)) AS h,
               CASE WHEN NOT contains(hostport, ':') THEN ''
                    WHEN s = 'https'
                         AND split_part(hostport, ':', 2) = '443' THEN ''
                    WHEN s = 'http'
                         AND split_part(hostport, ':', 2) = '80' THEN ''
                    ELSE ':' || split_part(hostport, ':', 2) END AS prt,
               CASE WHEN regexp_replace(path, '/+$', '') = '' THEN '/'
                    ELSE regexp_replace(path, '/+$', '') END AS p,
               array_to_string(
                   list_sort(list_filter(string_split(q, '&'),
                       p -> p <> '' AND NOT ({_DROP_DUCK}))), '&') AS kept
        FROM comps
    ), canon AS (
        SELECT doc_id, url,
               s || '://' || h || prt || p
               || CASE WHEN kept <> '' THEN '?' || kept ELSE '' END
                   AS url_canon
        FROM norm
    ), counts AS (
        SELECT url_canon, count(*) AS n_variants FROM canon GROUP BY 1
    )
    SELECT c.doc_id, c.url, c.url_canon, n.n_variants
    FROM canon c JOIN counts n USING (url_canon)
"""


# --- robots-style longest-prefix URL rules (round 4) --------------------------------
# 1 = allow, 0 = deny; LONGEST matching prefix wins (the Google robots.txt
# precedence rule). "/" matches everything, so every URL gets a verdict.
ROBOTS_RULES = [
    ("/", 1),
    ("/en/", 0),
    ("/en/cat1/", 1),
    ("/de/", 0),
    ("/de/cat3/", 1),
    ("/fr/cat2/", 0),
]


def q_robots_rules_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt-style crawl gating: each URL path is checked against a
    prefix rule table and the LONGEST matching prefix decides allow/deny
    (the standard precedence rule). Paths synthesize deterministically
    from the documents table (the URL_EXPR fixture pattern), rules are a
    bounded in-plan table.

    Scale shape: instead of a prefix-predicate join (which would plan as
    a nested loop), each path EXPLODES its own directory prefixes
    (bounded by path depth — here 3) and equi-joins the broadcast rule
    table on the exact prefix string; the winner is one per-doc max over
    a (length, allow, prefix) struct. At 10^12 URLs this is a pure map +
    broadcast equi-join + hash aggregate.

    Output: doc_id, path, rule_prefix, allow."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    path = F.expr("concat('/', lang, '/cat', doc_id % 7, '/doc-', doc_id)")
    pref = F.array(
        F.lit("/"),
        F.expr("concat('/', lang, '/')"),
        F.expr("concat('/', lang, '/cat', doc_id % 7, '/')"),
    )
    exploded = docs.select(
        "doc_id", path.alias("path"), F.explode(pref).alias("prefix")
    )
    rules = spark.createDataFrame(ROBOTS_RULES, "prefix string, allow int")
    hits = exploded.join(F.broadcast(rules), "prefix")
    best = hits.groupBy("doc_id").agg(
        F.any_value(F.col("path")).alias("path"),
        F.max(
            F.struct(
                F.length("prefix").alias("l"),
                F.col("allow").alias("a"),
                F.col("prefix").alias("p"),
            )
        ).alias("m"),
    )
    return best.select(
        "doc_id",
        "path",
        F.col("m.p").alias("rule_prefix"),
        (F.col("m.a") == 1).alias("allow"),
    )


QUERIES["robots_rules_filter"] = q_robots_rules_filter

_ROBOTS_VALUES = ", ".join(f"('{p}', {a})" for p, a in ROBOTS_RULES)

ORACLES["robots_rules_filter"] = f"""
    WITH rules AS (
        SELECT * FROM (VALUES {_ROBOTS_VALUES}) r(prefix, allow)
    ), d AS (
        SELECT doc_id,
               '/' || lang || '/cat' || (doc_id % 7)::VARCHAR
                   || '/doc-' || doc_id::VARCHAR AS path,
               unnest(['/',
                       '/' || lang || '/',
                       '/' || lang || '/cat' || (doc_id % 7)::VARCHAR || '/'
                      ]) AS prefix
        FROM documents
    )
    SELECT doc_id, any_value(path) AS path,
           arg_max(r.prefix, length(r.prefix)) AS rule_prefix,
           arg_max(r.allow, length(r.prefix)) = 1 AS allow
    FROM d JOIN rules r USING (prefix)
    GROUP BY doc_id
"""
