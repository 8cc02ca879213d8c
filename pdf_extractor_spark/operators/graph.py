"""Connected-components duplicate clustering — the final stage of a
large-scale dedup pipeline: candidate pairs (from MinHash/LSH banding)
form a graph whose connected components are the duplicate clusters; each
doc is assigned its cluster representative (min doc_id) so downstream
jobs keep one canonical doc per cluster.

The reference stops at pairwise similarity (similarity_service
dispatch); clustering the pair graph is the training-data extension that
makes pairwise output actionable at corpus scale.

Scale design: iterative label propagation with POINTER JUMPING
(``rep = rep(rep)`` each round), so convergence is O(log diameter)
rounds rather than O(diameter) — the classic PRAM/MapReduce technique
(cf. Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14, public literature). Each round is two shuffle-keyed equi-joins
(neighbor-min + jump) and the label frame is ``localCheckpoint``-ed so
lineage stays O(1) across iterations instead of doubling the plan each
round. No step ever materializes a cross product; per-round cost is
O(|E|) shuffle traffic. Duplicate clusters from a capped LSH bucket
stream have tiny diameters (most are cliques), so rounds ~ 2-3 in
practice.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import _DUCK_MINHASH, MAX_BUCKET_DOCS

# Pointer jumping halves the remaining path length each round; 30 rounds
# cover any diameter < 2^30 — unreachable for real dedup graphs. Hitting
# the cap means a logic error, not a big input: fail loudly.
MAX_ITERATIONS = 30

# Candidate pairs are verified before clustering: single-hash LSH bands are
# high-recall / low-precision, and clustering RAW candidates chains nearly
# the whole corpus into one component (observed: 452 of 461 paired docs at
# sf0.01). Only pairs whose MinHash Jaccard estimate clears this threshold
# become graph edges — candidates -> verify -> cluster, the standard order.
MIN_EDGE_JACCARD = 0.5


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b"
) -> DataFrame:
    """(node, rep) for every node in ``edges``; rep = min node id of the
    component. Deterministic: min-label over a fixed graph."""
    sym = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("v")
    ).union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))

    # Checkpoint the symmetric edges FIRST: both the node extraction below
    # and every round's neighbor-min read them, so the edge-producing
    # upstream (LSH banding + verify joins) must run exactly once.
    sym = sym.localCheckpoint(eager=True)
    labels = (
        sym.select(F.col("u").alias("node")).distinct()
        .withColumn("rep", F.col("node"))
        .localCheckpoint(eager=True)
    )

    from pyspark.sql import Observation

    for _ in range(MAX_ITERATIONS):
        # neighbor-min: the smallest rep among me and my neighbors
        nbr = (
            sym.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"))
            .agg(F.min("rep").alias("nbr_rep"))
        )
        stepped = labels.withColumnRenamed("rep", "prev").join(
            nbr, "node", "left"
        ).select(
            "node",
            "prev",
            F.least(F.col("prev"), F.coalesce("nbr_rep", "prev")).alias("rep"),
        )
        # cache before the self-join below — otherwise the neighbor-min
        # join+aggregate would be recomputed once per join side
        stepped = stepped.persist()
        # pointer jump: rep <- rep(rep), halving remaining path lengths
        jump = stepped.select(
            F.col("node").alias("jnode"), F.col("rep").alias("jrep")
        )
        # convergence rides the checkpoint action via observe — ONE job per
        # round (no separate old-vs-new join + count)
        obs = Observation()
        new_labels = (
            stepped.join(jump, stepped.rep == jump.jnode, "left")
            .select(
                "node", "prev", F.coalesce("jrep", "rep").alias("rep")
            )
            .observe(
                obs,
                F.sum((F.col("rep") != F.col("prev")).cast("long")).alias(
                    "changed"
                ),
            )
            .select("node", "rep")
            .localCheckpoint(eager=True)
        )
        stepped.unpersist()
        labels = new_labels
        if not obs.get["changed"]:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {MAX_ITERATIONS} rounds"
    )


def q_dedup_components(spark: SparkSession, sf_dir: str, observation=None) -> DataFrame:
    """Duplicate clusters over VERIFIED LSH pairs: candidate pairs from
    the capped banding, kept only when the MinHash Jaccard estimate >=
    MIN_EDGE_JACCARD, then clustered. Every doc in a kept edge is output
    with its cluster representative and cluster size. Singleton docs (no
    kept edge) are by definition their own cluster and are omitted — at
    corpus scale that is almost everything, and emitting them would dwarf
    the useful output.

    The signature frame is localCheckpoint-ed once and feeds BOTH the
    banding and the two verify-join sides, so the shingle/minhash subtree
    is computed exactly once (the lsh_score_pipeline wiring, in-memory
    form)."""
    from . import load
    from .dedup import _lsh_pairs_from_sigs, _minhash_frame

    sigs = _minhash_frame(load(spark, sf_dir, "documents")).localCheckpoint(
        eager=True
    )
    cand = _lsh_pairs_from_sigs(sigs, observation)
    labels = connected_components(_verify_pairs(sigs, cand))
    return _with_cluster_sizes(labels)


def _verify_pairs(sigs: DataFrame, cand: DataFrame) -> DataFrame:
    """Keep only candidate pairs whose MinHash Jaccard estimate clears
    MIN_EDGE_JACCARD — the candidates -> verify step shared by the batch
    and incremental components queries (both join sides read the same
    materialized signature frame)."""
    from .dedup import N_MINHASH

    a = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_MINHASH)],
    )
    b = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_MINHASH)],
    )
    est = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(N_MINHASH)
    ) / float(N_MINHASH)
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .where(est >= MIN_EDGE_JACCARD)
        .select("doc_a", "doc_b")
    )


def _with_cluster_sizes(labels: DataFrame) -> DataFrame:
    """(node, rep) -> the components output contract
    (doc_id, cluster_rep, cluster_size)."""
    sizes = labels.groupBy(F.col("rep").alias("cluster_rep")).agg(
        F.count("*").alias("cluster_size")
    )
    return labels.select(
        F.col("node").alias("doc_id"), F.col("rep").alias("cluster_rep")
    ).join(sizes, "cluster_rep").select("doc_id", "cluster_rep", "cluster_size")


def incremental_components(
    stored_labels: DataFrame, new_edges: DataFrame
) -> DataFrame:
    """Fold a batch of NEW verified duplicate edges into a committed
    (node, rep) labeling, touching only affected clusters — the O(new)
    companion of connected_components for continuous ingestion (the
    dedup_incremental pattern lifted from pairs to cluster labels).

    Each new edge's endpoints CONTRACT to their committed representative
    (endpoints without a label — new docs, or old docs first touched by
    this batch — represent themselves); edges whose contracted endpoints
    agree are no-ops inside an existing cluster; the surviving contracted
    graph has O(batch edges) nodes and is clustered by the same
    pointer-jumping loop. Because a committed rep is its cluster's
    minimum id, the contracted component's minimum IS the merged
    cluster's global minimum — the result matches a from-scratch
    connected_components over the union edge set exactly.

    Scale shape: the corpus-sized ``stored_labels`` is read by exactly
    TWO map-only broadcast passes — a broadcast-semi probe that extracts
    the O(batch) touched labels, and a broadcast-remap left join that
    rewrites affected reps — never a labels shuffle, never an iteration
    over stored state; all iterative work runs on the O(batch)
    contracted graph. Returns (node, rep) for every stored node and
    every node of ``new_edges``."""
    lab = stored_labels.select("node", "rep")
    e = (
        new_edges.select(
            F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    endpoints = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    touched = lab.join(
        F.broadcast(endpoints), "node", "left_semi"
    ).localCheckpoint(eager=True)
    ru = touched.select(F.col("node").alias("u"), F.col("rep").alias("ru"))
    rv = touched.select(F.col("node").alias("v"), F.col("rep").alias("rv"))
    contracted = (
        e.join(ru, "u", "left")
        .join(rv, "v", "left")
        .select(
            F.coalesce("ru", F.col("u")).alias("ca"),
            F.coalesce("rv", F.col("v")).alias("cb"),
        )
        .where(F.col("ca") != F.col("cb"))
    )
    if contracted.isEmpty():
        # every new edge lies inside an existing cluster (and no fresh
        # node survives — a fresh endpoint always contracts to itself and
        # cannot equal the other side's stored rep): nothing to fold
        return lab
    merged = connected_components(contracted, "ca", "cb")
    remap = merged.select(
        F.col("node").alias("old_rep"), F.col("rep").alias("new_rep")
    )
    updated = lab.join(
        F.broadcast(remap), F.col("rep") == F.col("old_rep"), "left"
    ).select("node", F.coalesce("new_rep", "rep").alias("rep"))
    # fresh endpoints (no committed label) got their label inside the
    # contracted clustering itself — small x small
    fresh_nodes = endpoints.join(
        touched.select("node"), "node", "left_anti"
    )
    fresh = merged.join(F.broadcast(fresh_nodes), "node")
    return updated.unionByName(fresh.select("node", "rep"))


CC_LAB_PREFIX = "lab_v"
_LAB_SCHEMA = "node long, rep long"


def components_store_load(spark: SparkSession, store_root: str) -> DataFrame:
    """The latest committed label snapshot (node, rep). An empty store is
    a legitimate first batch and reads as empty."""
    from ..plans import fsio

    labels, _ = fsio.read_latest(spark, store_root, CC_LAB_PREFIX)
    if labels is None:
        return spark.createDataFrame([], _LAB_SCHEMA)
    return labels


def components_store_update(new_edges: DataFrame, store_root: str) -> int:
    """Fold a batch's verified edges into the committed label store and
    publish the successor snapshot ``lab_v<n>`` — the production form of
    ``incremental_components`` on the fsio versioned-store protocol
    (crash-injected by scripts/fault_drive.py section F). Returns the
    committed version number."""
    from ..plans import fsio

    spark = new_edges.sparkSession
    labels, last = fsio.read_latest(spark, store_root, CC_LAB_PREFIX)
    if labels is None:
        labels = spark.createDataFrame([], _LAB_SCHEMA)
    fsio.publish(
        incremental_components(labels, new_edges),
        store_root, CC_LAB_PREFIX, last + 1,
    )
    return last + 1


def q_dedup_components_incremental(
    spark: SparkSession, sf_dir: str, observation=None
) -> DataFrame:
    """Daily-batch cluster maintenance: fold the new batch's verified
    duplicate edges into the previous run's committed labels instead of
    re-clustering the corpus — closing the incremental loop that
    ``dedup_incremental`` opens at the pair level (O(new) signatures +
    union-bucket candidates involving a new doc) at the CLUSTER level
    (contract -> cluster the O(batch) graph -> broadcast-remap, see
    incremental_components).

    The corpus splits 80/20 by doc_id (the dedup_incremental convention);
    the stored state — old-corpus signatures AND committed labels — is
    modeled as eagerly-materialized frames exactly as a store read would
    be, so the registered query mutates no filesystem state. Output
    contract identical to ``dedup_components`` over the FULL corpus, and
    the oracle IS that query's oracle: the incremental fold must be
    value-invisible versus the one-shot recompute. (Exact equality holds
    while no banding bucket crosses MAX_BUCKET_DOCS between the old-only
    and union corpora — cap drops are observable on ``observation``; with
    drops, union-of-batch-edges is the honest production semantics — the
    simhash-cap caveat family.)"""
    from . import load
    from .dedup import _incremental_pair_plan, _lsh_pairs_from_sigs, _minhash_frame

    docs = load(spark, sf_dir, "documents")
    split = docs.agg(
        F.expr("(max(doc_id) * 4) div 5").alias("s")
    ).first()["s"]
    old = docs.where(F.col("doc_id") < split)
    new = docs.where(F.col("doc_id") >= split)
    stored_sigs = _minhash_frame(old).localCheckpoint(eager=True)
    # committed state: the previous run's clustering of the old corpus
    stored_labels = connected_components(
        _verify_pairs(stored_sigs, _lsh_pairs_from_sigs(stored_sigs))
    ).localCheckpoint(eager=True)
    # ---- the incremental step: everything below is O(new + affected) ----
    new_sigs, cand = _incremental_pair_plan(new, stored_sigs, observation)
    all_sigs = stored_sigs.unionByName(new_sigs)
    labels = incremental_components(
        stored_labels, _verify_pairs(all_sigs, cand)
    )
    return _with_cluster_sizes(labels)


def q_dedup_retention(
    spark: SparkSession, sf_dir: str, observation=None
) -> DataFrame:
    """Retain-one-per-cluster applied to the WHOLE corpus: every document
    gets a keep/drop decision — singletons (no verified duplicate edge)
    keep trivially, clustered docs keep iff they are the cluster
    representative (min doc_id). This is the stage that turns the
    detect -> verify -> cluster chain into an actual deduplicated corpus;
    downstream it is one `where(keep)` on the corpus scan.

    Scale shape: the labels frame holds only docs inside clusters (at web
    scale a few percent of the corpus); attaching it back is a single
    doc_id equi-join against the scan — no new quadratic or iterative
    work beyond what the components query already did."""
    from . import load

    labels = q_dedup_components(spark, sf_dir, observation)
    docs = load(spark, sf_dir, "documents").select("doc_id")
    rep = F.coalesce("cluster_rep", F.col("doc_id"))
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        rep.alias("cluster_rep"),
        F.coalesce("cluster_size", F.lit(1)).cast("long").alias("cluster_size"),
        (rep == F.col("doc_id")).alias("keep"),
    )


def q_cluster_holdout_split(
    spark: SparkSession, sf_dir: str, observation=None
) -> DataFrame:
    """Leakage-free train/val/test assignment: the split key is the
    near-dup CLUSTER representative (coalesced to the doc itself for
    singletons), so every verified duplicate cluster lands wholly in one
    split. `split_leakage` audits the per-doc splitter's cross-split
    near-dup violations after the fact; this operator removes them by
    construction — the correct way to cut a training corpus
    (cf. Lee et al. 2022, dedup-before-split). Singletons hash exactly
    like q_holdout_split (same md5-bucket rule on the same id), so split
    shares drift from the nominal 80/10/10 only by the clustered few
    percent of the corpus — and deterministically.

    Scale shape: everything q_dedup_components already costs, plus ONE
    doc_id equi-join against the scan and a pure-expression md5 bucket —
    no new iterative or quadratic work (the dedup_retention wrapper
    shape)."""
    from . import load
    from .text_ops import holdout_split_expr

    labels = q_dedup_components(spark, sf_dir, observation)
    docs = load(spark, sf_dir, "documents").select("doc_id")
    key = F.coalesce("cluster_rep", F.col("doc_id"))
    return docs.join(labels, "doc_id", "left").select(
        "doc_id",
        key.alias("split_key"),
        F.coalesce("cluster_size", F.lit(1)).cast("long").alias("cluster_size"),
        holdout_split_expr(key).alias("split"),
    )


QUERIES = {
    "dedup_components": q_dedup_components,
    "dedup_components_incremental": q_dedup_components_incremental,
    "dedup_retention": q_dedup_retention,
    "cluster_holdout_split": q_cluster_holdout_split,
}

# Oracle: transitive closure by recursive CTE over the same capped LSH
# pairs, rep = min reachable node (incl. self), size = docs per rep.
ORACLES = {
    "dedup_components": _DUCK_MINHASH.replace(
        "WITH words", "WITH RECURSIVE words", 1
    )
    + f"""
        , bands AS (
            SELECT doc_id, b.band, b.h FROM sigs,
            LATERAL (SELECT unnest([
                {{'band': 0, 'h': mh0}}, {{'band': 1, 'h': mh1}},
                {{'band': 2, 'h': mh2}}, {{'band': 3, 'h': mh3}},
                {{'band': 4, 'h': mh4}}, {{'band': 5, 'h': mh5}},
                {{'band': 6, 'h': mh6}}, {{'band': 7, 'h': mh7}}
            ], recursive := true)) b(band, h)
        ), kept AS (
            SELECT band, h FROM bands GROUP BY band, h
            HAVING count(*) BETWEEN 2 AND {MAX_BUCKET_DOCS}
        ), cand AS (
            SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
            FROM bands a
            JOIN kept k ON a.band = k.band AND a.h = k.h
            JOIN bands b ON a.band = b.band AND a.h = b.h
            WHERE a.doc_id < b.doc_id
        ), edges AS (
            -- verify: MinHash Jaccard estimate >= MIN_EDGE_JACCARD
            SELECT c.u, c.v
            FROM cand c
            JOIN sigs a ON a.doc_id = c.u
            JOIN sigs b ON b.doc_id = c.v
            WHERE ((a.mh0 = b.mh0)::INT + (a.mh1 = b.mh1)::INT
                 + (a.mh2 = b.mh2)::INT + (a.mh3 = b.mh3)::INT
                 + (a.mh4 = b.mh4)::INT + (a.mh5 = b.mh5)::INT
                 + (a.mh6 = b.mh6)::INT + (a.mh7 = b.mh7)::INT) / 8.0
                  >= {MIN_EDGE_JACCARD}
        ), sym AS (
            SELECT u, v FROM edges UNION SELECT v, u FROM edges
        ), reach AS (
            SELECT u, v FROM sym
            UNION
            SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
        ), rep AS (
            SELECT u AS doc_id, least(u, min(v)) AS cluster_rep
            FROM reach GROUP BY u
        )
        SELECT doc_id, cluster_rep,
               count(*) OVER (PARTITION BY cluster_rep) AS cluster_size
        FROM rep
    """,
}

# The incremental fold must be value-invisible vs the one-shot recompute:
# its oracle IS the batch components oracle over the full corpus.
ORACLES["dedup_components_incremental"] = ORACLES["dedup_components"]

# Retention wraps the components closure as a subquery: documents outside
# any verified cluster are their own representative (keep = true).
ORACLES["dedup_retention"] = f"""
        SELECT d.doc_id,
               coalesce(t.cluster_rep, d.doc_id) AS cluster_rep,
               coalesce(t.cluster_size, 1)::BIGINT AS cluster_size,
               (coalesce(t.cluster_rep, d.doc_id) = d.doc_id) AS keep
        FROM documents d
        LEFT JOIN ({ORACLES["dedup_components"]}) t USING (doc_id)
"""


def _cluster_split_oracle() -> str:
    # constants imported lazily to dodge a circular import at module load
    from .text_ops import SPLIT_TEST_PCT, SPLIT_VAL_PCT

    return f"""
        SELECT doc_id, split_key, cluster_size,
               CASE WHEN bucket < {SPLIT_VAL_PCT} THEN 'val'
                    WHEN bucket < {SPLIT_VAL_PCT + SPLIT_TEST_PCT} THEN 'test'
                    ELSE 'train' END AS split
        FROM (
            SELECT d.doc_id,
                   coalesce(t.cluster_rep, d.doc_id) AS split_key,
                   coalesce(t.cluster_size, 1)::BIGINT AS cluster_size,
                   ('0x' || substring(md5(
                        coalesce(t.cluster_rep, d.doc_id)::VARCHAR), 1, 4)
                   )::BIGINT % 100 AS bucket
            FROM documents d
            LEFT JOIN ({ORACLES["dedup_components"]}) t USING (doc_id)
        )
"""


ORACLES["cluster_holdout_split"] = _cluster_split_oracle()


# ---------------------------------------------------------------------------
# PageRank — the second iterative graph operator (beside the dedup
# components): link-authority scoring of the kind a web-scale corpus uses
# for provenance weighting (seed-quality propagation over the crawl graph).
#
# Exact fixed-point spec so the DuckDB oracle replays every iteration
# bit-for-bit (floats would drift across engines in accumulation order):
# ranks carry integer mass at PR_SCALE; with d(u) = out-degree,
#
#   r_0(v)     = PR_SCALE div n
#   contrib(u) = r_t(u) div d(u)
#   r_{t+1}(v) = (15 * (PR_SCALE div n)) div 100
#                + (85 * sum_{u->v} contrib(u)) div 100
#
# (damping 0.85 as the exact rational 85/100; floor-division mass loss is
# part of the spec, bounded by 1 unit per term at scale 1e12). Production
# would run float ranks with a convergence test; the integer form is what
# makes an iterative distributed computation oracle-checkable.
#
# The driver corpus has no link column, so a deterministic circulant-style
# graph is synthesized from doc_id arithmetic (the web.py / multimodal.py
# fixture pattern): node u links to (u+1) % n, plus (u+7) % n when
# u % 3 >= 1, plus (u+42) % n when u % 3 = 2 — varying out- AND in-degrees
# so the stationary distribution is genuinely non-uniform.
#
# Scale shape: each iteration is one src-keyed equi-join (ranks are
# joined to edges on src — both sides hash-partitioned), one dst-keyed
# sum with map-side partial aggregation, and a node-keyed left join; the
# rank frame is localCheckpoint-ed eagerly per round so lineage stays
# O(1) (the connected_components discipline). Per-round shuffle is
# O(|E|); no windows, no Python, no driver-side collect of rank state.
# ---------------------------------------------------------------------------

PR_SCALE = 10**12
PR_ITERS = 5


def _link_edges(docs_n: DataFrame) -> DataFrame:
    """Deterministic synthetic link graph: (src, dst, outdeg)."""
    base = docs_n.select(
        F.col("doc_id").alias("src"),
        (F.lit(1) + F.col("doc_id") % 3).cast("long").alias("outdeg"),
        F.col("n"),
    )
    e1 = base.select(
        "src", ((F.col("src") + 1) % F.col("n")).alias("dst"), "outdeg"
    )
    e2 = base.where(F.col("src") % 3 >= 1).select(
        "src", ((F.col("src") + 7) % F.col("n")).alias("dst"), "outdeg"
    )
    e3 = base.where(F.col("src") % 3 == 2).select(
        "src", ((F.col("src") + 42) % F.col("n")).alias("dst"), "outdeg"
    )
    return e1.union(e2).union(e3)


def pagerank(nodes: DataFrame, edges: DataFrame,
             iters: int = PR_ITERS) -> DataFrame:
    """(node, pr) after ``iters`` exact fixed-point iterations. ``nodes``
    must carry (doc_id, n); ``edges`` (src, dst, outdeg)."""
    edges = edges.localCheckpoint(eager=True)
    ranks = nodes.select(
        F.col("doc_id").alias("node"),
        F.expr(f"div({PR_SCALE}, n)").alias("r"),
    ).localCheckpoint(eager=True)
    for _ in range(iters):
        contribs = (
            edges.join(ranks, edges.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.expr("div(r, outdeg)")).alias("s"))
        )
        ranks = (
            nodes.join(contribs, nodes.doc_id == contribs.dst, "left")
            .select(
                F.col("doc_id").alias("node"),
                F.expr(
                    f"div(15 * div({PR_SCALE}, n), 100)"
                    " + div(85 * coalesce(s, 0L), 100)"
                ).alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("node", F.col("r").alias("pr"))


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    n_row = docs.agg(F.count("*").alias("n"))
    docs_n = docs.crossJoin(F.broadcast(n_row))
    return pagerank(docs_n, _link_edges(docs_n)).select(
        F.col("node").alias("doc_id"), "pr"
    )


QUERIES["pagerank"] = q_pagerank


def _pr_oracle() -> str:
    """Replay every iteration as a CTE chain (the kmeans_fit pattern)."""
    stages = [f"""
        nn AS (SELECT count(*) AS n FROM documents),
        edges AS (
            SELECT doc_id AS src, (doc_id + 1) % n AS dst,
                   1 + doc_id % 3 AS outdeg
            FROM documents CROSS JOIN nn
            UNION ALL
            SELECT doc_id, (doc_id + 7) % n, 1 + doc_id % 3
            FROM documents CROSS JOIN nn WHERE doc_id % 3 >= 1
            UNION ALL
            SELECT doc_id, (doc_id + 42) % n, 1 + doc_id % 3
            FROM documents CROSS JOIN nn WHERE doc_id % 3 = 2
        ),
        r0 AS (
            SELECT doc_id AS node, {PR_SCALE} // n AS r
            FROM documents CROSS JOIN nn
        )"""]
    for i in range(PR_ITERS):
        stages.append(f"""
        r{i + 1} AS (
            SELECT d.doc_id AS node,
                   (15 * ({PR_SCALE} // n)) // 100
                   + (85 * coalesce(t.s, 0)) // 100 AS r
            FROM documents d CROSS JOIN nn
            LEFT JOIN (
                SELECT dst, sum(r // outdeg)::BIGINT AS s
                FROM edges JOIN r{i} ON edges.src = r{i}.node
                GROUP BY dst
            ) t ON d.doc_id = t.dst
        )""")
    return (
        "WITH " + ",".join(stages)
        + f" SELECT node AS doc_id, r AS pr FROM r{PR_ITERS}"
    )


ORACLES["pagerank"] = _pr_oracle()


# ---------------------------------------------------------------------------
# Triangle counting — the classic distributed graph-analytics kernel
# (clustering-coefficient / community-structure primitive). Scale technique:
# DEGREE ORIENTATION (Suri & Vassilvitskii, WWW'11, public literature):
# orient every undirected edge from its (degree, id)-smaller endpoint to the
# larger one; every triangle then has exactly ONE wedge vertex (both edges
# outgoing), and max oriented out-degree is O(sqrt(|E|)) — the wedge join's
# fan-out is bounded no matter how skewed the raw degree distribution is.
# The oracle counts the same triangles by a canonical a<b<c triple join —
# a different formulation that must agree exactly.
# ---------------------------------------------------------------------------


def _tri_edges(docs_n: DataFrame) -> DataFrame:
    """Triangle fixture: short strides (1, 2, 3) with the same per-node
    degree variation as _link_edges. The pagerank strides (1, 7, 42) close
    no 3-cycles mod 500 (no signed combination sums to 0), so this op gets
    its own graph where u/u+1/u+2 and u/u+2/u+3 triangles provably exist."""
    base = docs_n.select(F.col("doc_id").alias("src"), F.col("n"))
    e1 = base.select("src", ((F.col("src") + 1) % F.col("n")).alias("dst"))
    e2 = base.where(F.col("src") % 3 >= 1).select(
        "src", ((F.col("src") + 2) % F.col("n")).alias("dst")
    )
    e3 = base.where(F.col("src") % 3 == 2).select(
        "src", ((F.col("src") + 3) % F.col("n")).alias("dst")
    )
    return e1.union(e2).union(e3)


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: (n_nodes, n_edges, n_triangles) over the undirected form
    of the synthesized short-stride link graph."""
    from . import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    n_row = docs.agg(F.count("*").alias("n"))
    docs_n = docs.crossJoin(F.broadcast(n_row))
    raw = _tri_edges(docs_n).select("src", "dst")
    # canonical undirected edges (dedup both directions, drop self-loops)
    canon = (
        raw.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        canon.select(F.col("a").alias("v"))
        .union(canon.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    # orient small -> large by (degree, id)
    with_deg = (
        canon.join(deg.withColumnRenamed("v", "a"), "a")
        .withColumnRenamed("d", "da")
        .join(
            deg.withColumnRenamed("v", "b").withColumnRenamed("d", "db"),
            "b",
        )
    )
    lt = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = with_deg.select(
        F.when(lt, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(lt, F.col("b")).otherwise(F.col("a")).alias("v"),
    ).localCheckpoint(eager=True)
    # wedges at the (degree,id)-smallest vertex; closure against the
    # canonical edge set
    o2 = oriented.select(F.col("u"), F.col("v").alias("w"))
    wedges = oriented.join(o2, "u").where(F.col("v") < F.col("w"))
    tri = wedges.join(
        canon,
        (F.col("v") == F.col("a")) & (F.col("w") == F.col("b")),
    )
    return (
        docs.agg(F.count("*").alias("n_nodes"))
        .crossJoin(F.broadcast(canon.agg(F.count("*").alias("n_edges"))))
        .crossJoin(
            F.broadcast(tri.agg(F.count("*").alias("n_triangles")))
        )
    )


QUERIES["triangle_count"] = q_triangle_count

ORACLES["triangle_count"] = f"""
    WITH nn AS (SELECT count(*) AS n FROM documents),
    raw AS (
        SELECT doc_id AS src, (doc_id + 1) % n AS dst
        FROM documents CROSS JOIN nn
        UNION ALL
        SELECT doc_id, (doc_id + 2) % n
        FROM documents CROSS JOIN nn WHERE doc_id % 3 >= 1
        UNION ALL
        SELECT doc_id, (doc_id + 3) % n
        FROM documents CROSS JOIN nn WHERE doc_id % 3 = 2
    ),
    canon AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw WHERE src <> dst
    )
    SELECT (SELECT count(*) FROM documents) AS n_nodes,
           (SELECT count(*) FROM canon) AS n_edges,
           (SELECT count(*)
            FROM canon e1
            JOIN canon e2 ON e2.a = e1.a AND e2.b > e1.b
            JOIN canon e3 ON e3.a = e1.b AND e3.b = e2.b) AS n_triangles
"""


# --- Bounded k-core peel ---------------------------------------------------------
KCORE_K = 2
KCORE_ROUNDS = 6
KCORE_CORE = 50  # dense-core width of the dedicated peel fixture


def q_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core decomposition (K = 2) over a dedicated core+tendril
    fixture: each round drops every node whose degree in the surviving
    subgraph is below K, then the edges with a dropped endpoint — the
    peel that isolates the densely-connected community (spam rings,
    citation cores) from chains and tendrils. The fixture is built for
    the CASCADE (the shared link graphs are degree-uniform and peel
    all-or-nothing): a least(n, 50)-node core wired at strides 1/3/7
    (degree ~7) plus length-n/50 chains hanging off it — each round
    erodes exactly one chain layer (one tip generation), so the per-round
    counts show the peel front moving while the core survives untouched.
    The registered form runs KCORE_ROUNDS fixed rounds and emits
    per-round (n_active, n_edges) — at convergence the survivors ARE the
    k-core, and the fixed unroll is what lets the oracle replay every
    round exactly (the kmeans_fit contract: iteration count is part of
    the op's definition).

    Scale shape: one degree aggregation + two semi-join-shaped edge
    filters per round over a localCheckpointed edge frame (lineage stays
    O(1) across rounds, the components lesson); per-round work is
    O(|E_r|), monotonically shrinking. Peel rounds at web scale run tens,
    not thousands — each round is a full barrier anyway, so the fixed
    bound is the honest formulation.

    Output: round, n_active, n_edges."""
    from . import load

    docs = load(spark, sf_dir, "documents").select("doc_id")
    n_row = docs.agg(F.count("*").alias("n"))
    base = docs.crossJoin(F.broadcast(n_row)).withColumn(
        "c", F.least(F.lit(KCORE_CORE), F.col("n"))
    )
    u = F.col("doc_id")
    core = base.where(u < F.col("c"))
    raw = None
    for stride in (1, 3, 7):
        e = core.select(
            u.alias("src"), ((u + stride) % F.col("c")).alias("dst")
        )
        raw = e if raw is None else raw.union(e)
    raw = raw.union(
        base.where(u >= F.col("c")).select(
            u.alias("src"), (u - F.col("c")).alias("dst")
        )
    )
    edges = (
        raw.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    stats = []
    for r in range(1, KCORE_ROUNDS + 1):
        deg = (
            edges.select(F.col("a").alias("v"))
            .union(edges.select(F.col("b").alias("v")))
            .groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        active = deg.where(F.col("d") >= KCORE_K).select("v")
        edges = (
            edges.join(
                active.withColumnRenamed("v", "a"), "a", "left_semi"
            )
            .join(active.withColumnRenamed("v", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        stats.append(
            active.agg(F.count(F.lit(1)).alias("n_active"))
            .crossJoin(edges.agg(F.count(F.lit(1)).alias("n_edges")))
            .select(
                F.lit(r).cast("long").alias("round"),
                "n_active",
                "n_edges",
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


QUERIES["kcore_peel"] = q_kcore_peel


def _kcore_oracle() -> str:
    """Unrolled per-round replay of the bounded peel (every CTE pair
    d{r}/e{r} is one peel round over the previous edge set)."""
    sql = f"""
    WITH docs AS MATERIALIZED (
        SELECT doc_id,
               least({KCORE_CORE}, (SELECT count(*) FROM documents)) AS c
        FROM documents
    ), raw AS (
        SELECT doc_id AS src, (doc_id + 1) % c AS dst FROM docs
            WHERE doc_id < c
        UNION ALL
        SELECT doc_id, (doc_id + 3) % c FROM docs WHERE doc_id < c
        UNION ALL
        SELECT doc_id, (doc_id + 7) % c FROM docs WHERE doc_id < c
        UNION ALL
        SELECT doc_id, doc_id - c FROM docs WHERE doc_id >= c
    ), e0 AS MATERIALIZED (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw WHERE src <> dst
    )"""
    for r in range(1, KCORE_ROUNDS + 1):
        p = r - 1
        sql += f""", d{r} AS MATERIALIZED (
        SELECT v, count(*)::BIGINT AS d FROM (
            SELECT a AS v FROM e{p} UNION ALL SELECT b FROM e{p}
        ) GROUP BY v
    ), a{r} AS MATERIALIZED (
        SELECT v FROM d{r} WHERE d >= {KCORE_K}
    ), e{r} AS MATERIALIZED (
        SELECT a, b FROM e{p}
        WHERE a IN (SELECT v FROM a{r}) AND b IN (SELECT v FROM a{r})
    )"""
    rows = "\nUNION ALL\n".join(
        f"SELECT {r}::BIGINT AS round,"
        f" (SELECT count(*)::BIGINT FROM a{r}) AS n_active,"
        f" (SELECT count(*)::BIGINT FROM e{r}) AS n_edges"
        for r in range(1, KCORE_ROUNDS + 1)
    )
    return sql + "\n" + rows


ORACLES["kcore_peel"] = _kcore_oracle()
