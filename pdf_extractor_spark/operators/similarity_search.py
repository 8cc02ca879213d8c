"""Similarity search over the ``embeddings`` table: brute-force cosine top-k
(the correctness baseline) and a sign-bucketed IVF/LSH variant (the scale
path — candidate set shrinks by the bucket selectivity before any distance
math runs).

Everything is JVM expressions (zip_with/aggregate dot products) — no Python
in the scoring loop. Ranking uses (rounded sim desc, vec_id asc) so ties are
deterministic across engines.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.expressions import cosine_similarity_expr, top_k

N_QUERIES = 10
TOP_K = 3
N_SIGN_BITS = 8


def _emb(spark, sf_dir):
    from . import load
    return load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _top_neighbors(scored: DataFrame, k: int, *extra: str) -> DataFrame:
    """The k most similar neighbors of each q_id (sim desc, neighbor_id
    asc) via :func:`top_k`, as (q_id, int rank, neighbor_id, *extra,
    sim)."""
    order = (F.desc("sim"), F.asc("neighbor_id"))
    return top_k(scored, k, order, by=["q_id"]).select(
        "q_id", F.col("rk").cast("int").alias("rank"), "neighbor_id",
        *extra, "sim",
    )


def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for the first N_QUERIES vectors. The query
    side is tiny -> broadcast it; the big side streams once."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = _emb(spark, sf_dir).alias("c").join(
        F.broadcast(queries), F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_similarity_expr(F.col("q_emb"), F.col("embedding")), 4).alias("sim"),
    )
    return _top_neighbors(scored, TOP_K)


def _sign_bucket(emb_col):
    """IVF-style coarse cell: sign bits of the first N_SIGN_BITS dims."""
    bits = [
        F.when(F.element_at(emb_col, i + 1) > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(N_SIGN_BITS)
    ]
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def q_ann_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed ANN with MULTI-PROBE: candidates come from the query's own
    sign-bucket plus the 8 buckets at Hamming distance 1 (standard
    multi-probe LSH — a vector near a sign boundary lands one bit away).
    Still an equi-join on the bucket key (the probe set explodes on the
    tiny broadcast query side), so at scale this stays a bucket-keyed
    shuffle at 9x probe cost — far below the n^2 cross join it replaces.
    Recall against exact ground truth is measured by q_ann_recall."""
    emb = _emb(spark, sf_dir).withColumn("bucket", _sign_bucket(F.col("embedding")))
    probes = F.array(
        F.col("q_bucket"),
        *[
            F.expr(f"cast(q_bucket ^ {1 << i} as int)")
            for i in range(N_SIGN_BITS)
        ],
    )
    queries = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("bucket").alias("q_bucket"),
        )
        .select("q_id", "q_emb", F.explode(probes).alias("probe"))
    )
    scored = emb.alias("c").join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("probe")) & (F.col("vec_id") != F.col("q_id")),
    ).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine_similarity_expr(F.col("q_emb"), F.col("embedding")), 4).alias("sim"),
    )
    return _top_neighbors(scored, TOP_K)


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Honest accuracy metric for the approximate path: per query, how many
    of the exact brute-force top-k the bucketed ANN recovered. Integer
    counts (k, n_hits) so the number is exact across engines; corpus-level
    recall@k = sum(n_hits)/sum(k) downstream. Reuses both existing query
    plans — the ground truth is the plan the ANN replaces at scale."""
    exact = q_knn_cosine(spark, sf_dir).select("q_id", "neighbor_id")
    approx = q_ann_ivf_cosine(spark, sf_dir).select(
        "q_id", "neighbor_id"
    ).withColumn("hit", F.lit(1))
    joined = exact.join(approx, ["q_id", "neighbor_id"], "left")
    return joined.groupBy("q_id").agg(
        F.count("*").alias("k"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_hits"),
    )


N_CENTROIDS = 8


def q_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-style assignment step: every vector goes to its nearest of
    N_CENTROIDS fixed seed centroids (the first N vectors — deterministic,
    no RNG). The centroid table broadcasts; scoring is JVM expressions; the
    per-vector argmax is a window rank. This is the coarse-quantizer build
    step for the IVF index (q_ann_ivf_cosine is the matching probe side)."""
    emb = _emb(spark, sf_dir)
    centroids = emb.where(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("c_emb")
    )
    # round before ranking: the argmax must not hinge on sub-ulp double
    # differences (defense-in-depth for cross-engine tie-breaking)
    scored = emb.join(F.broadcast(centroids)).select(
        "vec_id",
        "c_id",
        F.round(
            cosine_similarity_expr(F.col("embedding"), F.col("c_emb")), 6
        ).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("c_id"))
    assigned = scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    return assigned.groupBy("c_id").agg(
        F.count("*").alias("n_points"),
        F.min("vec_id").alias("min_vec_id"),
    )


_DUCK_COSINE = """
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ), q AS (
            SELECT vec_id AS q_id, emb AS q_emb FROM e WHERE vec_id < {nq}
        )
"""

_DUCK_SIM = """
               round(
                 CASE WHEN sqrt(list_sum(list_transform(q.q_emb, x -> x * x))) = 0
                        OR sqrt(list_sum(list_transform(c.emb, x -> x * x))) = 0
                      THEN 0.0
                      ELSE list_sum(list_transform(range(1, len(q.q_emb) + 1),
                               i -> q.q_emb[i] * c.emb[i]))
                           / (sqrt(list_sum(list_transform(q.q_emb, x -> x * x)))
                              * sqrt(list_sum(list_transform(c.emb, x -> x * x))))
                 END, 4) AS sim
"""

ORACLES = {
    "knn_cosine": (
        _DUCK_COSINE.format(nq=N_QUERIES) + f"""
        , scored AS (
            SELECT q.q_id, c.vec_id AS neighbor_id, {_DUCK_SIM}
            FROM e c JOIN q ON c.vec_id <> q.q_id
        ), ranked AS (
            SELECT q_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT q_id, rank, neighbor_id, sim FROM ranked WHERE rank <= {TOP_K}
    """),
    "ann_ivf_cosine": (
        """
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb,
                   (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
                    + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                    + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
                    + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END
                    + CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END
                    + CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END
                    + CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END
                    + CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END) AS bucket
            FROM embeddings
        ), q0 AS (
            SELECT vec_id AS q_id, emb AS q_emb, bucket AS q_bucket
            FROM e WHERE vec_id < """ + str(N_QUERIES) + f"""
        ), q AS (
            -- multi-probe: own bucket + the 8 at Hamming distance 1
            SELECT q_id, q_emb, xor(q_bucket, f.flip)::INT AS probe
            FROM q0, LATERAL (SELECT unnest(
                [0, 1, 2, 4, 8, 16, 32, 64, 128]) AS flip) f
        ), scored AS (
            SELECT q.q_id, c.vec_id AS neighbor_id, {_DUCK_SIM}
            FROM e c JOIN q ON c.bucket = q.probe AND c.vec_id <> q.q_id
        ), ranked AS (
            SELECT q_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, neighbor_id ASC) AS rank
            FROM scored
        )
        SELECT q_id, rank, neighbor_id, sim FROM ranked WHERE rank <= {TOP_K}
    """),
}

ORACLES["kmeans_assign"] = f"""
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ), c AS (
            SELECT vec_id AS c_id, emb AS c_emb FROM e
            WHERE vec_id < {N_CENTROIDS}
        ), scored AS (
            SELECT e.vec_id, c.c_id,
                   round(
                   CASE WHEN sqrt(list_sum(list_transform(e.emb, x -> x * x))) = 0
                          OR sqrt(list_sum(list_transform(c.c_emb, x -> x * x))) = 0
                        THEN 0.0
                        ELSE list_sum(list_transform(range(1, len(e.emb) + 1),
                                 i -> e.emb[i] * c.c_emb[i]))
                             / (sqrt(list_sum(list_transform(e.emb, x -> x * x)))
                                * sqrt(list_sum(list_transform(c.c_emb, x -> x * x))))
                   END, 6) AS sim
            FROM e, c
        ), ranked AS (
            SELECT vec_id, c_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, c_id ASC) AS rk
            FROM scored
        )
        SELECT c_id, count(*) AS n_points, min(vec_id) AS min_vec_id
        FROM ranked WHERE rk = 1 GROUP BY c_id
"""

# ---------------------------------------------------------------------------
# The vector quantizer: one exact-integer Lloyd loop and one argmin, shared by
# k-means (one codebook over the full vector), IVF (the same fit as the coarse
# quantizer) and PQ (operators/pq.py: one codebook per subspace slice).
#
# Cross-engine float determinism is engineered away rather than hoped for:
# embeddings are quantized to integers (round(x*100)), distances are exact
# integer sums of squares (argmin ties broken by centroid id — exact, both
# engines), and centroid updates round(sum*1000.0/count) where the sum is an
# exact INTEGER sum — the only float ops are one multiply and one divide on
# identical operands, which IEEE evaluates identically everywhere. Values
# are sized so nothing leaves int64 (no silent HUGEINT promotion).
#
# Scale: the vector frame is localCheckpoint-ed once and re-scanned per
# iteration; the codebooks (books x k x ds ints) travel driver-side and reach
# the executors as ONE broadcast data row, never as plan literals, so every
# plan is O(1) in the model size. Each iteration is one scan + one tiny
# (books x k x ds)-row aggregate; no joins on the big side.
# ---------------------------------------------------------------------------

KMEANS_ITERS = 2  # Lloyd updates; a final assignment then reports inertia
KMEANS_DIM = 64
_VQ_SCALE = 100  # float embedding -> int units
_C_SCALE = 1000  # extra centroid precision (centroid ints at 1e5 units)
_N_CENT_OUT = 4  # centroid components included in the output


def _quantized_vecs(emb: DataFrame) -> DataFrame:
    vq = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * F.lit(float(_VQ_SCALE)), 0).cast(
            "long"
        ),
    )
    return emb.select("vec_id", vq.alias("vq")).where(
        F.size("vq") == KMEANS_DIM
    )


def _codebook_rows(spark: SparkSession, books: list) -> DataFrame:
    """Codebooks as DATA: one (m, cid, cvec) row per entry of every book."""
    return spark.createDataFrame(
        [
            (m, i, [int(v) for v in c])
            for m, book in enumerate(books)
            for i, c in enumerate(book)
        ],
        "m int, cid int NOT NULL, cvec array<bigint>",
    )


def _with_codebook(ev: DataFrame, books: list) -> DataFrame:
    """ev plus ``cb``: every book's entries packed into ONE broadcast row,
    sorted by (m, cid), so the crossJoin adds no shuffle on the big side."""
    cb = _codebook_rows(ev.sparkSession, books).selectExpr(
        "sort_array(collect_list(struct(m, cid, cvec))) AS cb"
    )
    return ev.crossJoin(F.broadcast(cb))


def _dists_sql(m: int, ds: int) -> str:
    """array<struct(dist, cid)>, in cid order: the exact integer squared
    distance from slice m of ``vq`` (ds dims) to every entry of codebook m
    in ``cb`` (entries carry _C_SCALE extra precision). Struct order is
    (dist asc, cid asc), so array_min is the argmin with ties to the
    smaller cid."""
    return (
        f"transform(filter(cb, c -> c.m = {m}), c -> named_struct('dist', "
        f"aggregate(zip_with(slice(vq, {m * ds + 1}, {ds}), c.cvec, "
        f"(a, b) -> (a * {_C_SCALE} - b) * (a * {_C_SCALE} - b)), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v), 'cid', c.cid))"
    )


def _quantize(ev: DataFrame, books: list) -> DataFrame:
    """ev plus a{m} = struct(dist, cid) of the nearest entry of book m to
    slice m of ``vq``, for every book.

    The coalesce never fires (no book is empty); it makes a{m}.cid
    non-nullable, so a caller joining on the cid gets no inferred
    isnotnull(argmin) pushed into the codebook crossJoin as a join
    condition, which would compute every argmin twice."""
    ds = len(books[0][0])
    return _with_codebook(ev, books).selectExpr(
        *ev.columns,
        *[
            f"coalesce(array_min({_dists_sql(m, ds)}), named_struct("
            f"'dist', CAST(NULL AS BIGINT), 'cid', -1)) AS a{m}"
            for m in range(len(books))
        ],
    )


def _ivf_probes(ev: DataFrame, cents: list) -> DataFrame:
    """(q_id, cell) for each of the query vectors' IVF_NPROBE nearest
    cells of the coarse quantizer ``cents``."""
    queries = ev.where(f"vec_id < {N_QUERIES}")
    return _with_codebook(queries, [cents]).selectExpr(
        "vec_id AS q_id",
        f"explode(slice(sort_array({_dists_sql(0, len(cents[0]))}), 1, "
        f"{IVF_NPROBE})) AS p",
    ).selectExpr("q_id", "p.cid AS cell")


def _lloyd(ev: DataFrame, n_books: int, k: int, iters: int) -> list:
    """The Lloyd loop over ``n_books`` codebooks of k entries, one per
    equal slice of ``vq``, all fused into one corpus scan per iteration:
    seeds are vec_ids 0..k-1, each round assigns every slice to its
    nearest entry and moves each entry to round(int_sum * _C_SCALE /
    count) of its members (an empty cell keeps its entry). The update
    statistics group on (book, cid, dim) and are collected — codebook-
    sized driver traffic. The oracles replay each book independently.

    Returns the books: n_books lists of k centroid int lists (at
    _VQ_SCALE * _C_SCALE units)."""
    init = (
        ev.where(f"vec_id < {k}").orderBy("vec_id").select("vec_id", "vq")
        .collect()
    )
    # seed contract (mirrored by the oracles' `cid = vec_id`): vec_ids
    # 0..k-1 must exist — fail loudly rather than silently shifting
    # cluster ids by position
    ids = [r["vec_id"] for r in init]
    if ids != list(range(k)):
        raise ValueError(
            f"quantizer seeds require vec_ids 0..{k - 1}; got {ids}"
        )
    ds = len(init[0]["vq"]) // n_books
    books = [
        [[v * _C_SCALE for v in r["vq"][m * ds : (m + 1) * ds]] for r in init]
        for m in range(n_books)
    ]
    cids = ", ".join(f"a{m}.cid" for m in range(n_books))
    for _ in range(iters):
        stats = (
            _quantize(ev, books)
            .selectExpr(f"array({cids}) AS cids", "posexplode(vq) AS (d, x)")
            .selectExpr(
                f"d DIV {ds} AS m", f"cids[d DIV {ds}] AS cid",
                f"d % {ds} AS ld", "x",
            )
            .groupBy("m", "cid", "ld")
            .agg(F.expr(
                f"CAST(round(sum(x) * CAST({_C_SCALE} AS DOUBLE) / count(*), 0)"
                " AS BIGINT) AS c"
            ))
            .collect()
        )
        upd = {(r["m"], r["cid"], r["ld"]): r["c"] for r in stats}
        books = [
            [
                [upd.get((m, i, d), c[d]) for d in range(ds)]
                for i, c in enumerate(book)
            ]
            for m, book in enumerate(books)
        ]
    return books


def q_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative Lloyd fit: seed centroids = first N_CENTROIDS vectors,
    KMEANS_ITERS assign+update rounds (empty clusters keep their previous
    centroid), then a final assignment reporting per-cluster size, exact
    integer inertia, and the first 4 trained-centroid components."""
    ev = _quantized_vecs(_emb(spark, sf_dir)).localCheckpoint(eager=True)
    cents = _lloyd(ev, 1, N_CENTROIDS, KMEANS_ITERS)[0]
    out = (
        _quantize(ev, [cents])
        .selectExpr("a0.cid AS cluster", "a0.dist AS dist")
        .groupBy("cluster")
        .agg(F.expr("count(*) AS n_vecs"), F.expr("sum(dist) AS inertia"))
    )
    comps = _codebook_rows(spark, [cents]).selectExpr(
        "cid AS cluster",
        *[f"cvec[{d}] AS c{d}" for d in range(_N_CENT_OUT)],
    )
    return out.join(F.broadcast(comps), "cluster")


def _kmeans_cte_chain():
    """The exact-fit replay as a DuckDB CTE chain (one pair per Lloyd
    iteration), ending at the trained centroids c{last} plus the final
    distance/assignment CTEs distF/asgF. Shared by the kmeans_fit and
    ann_ivf_trained oracles."""
    parts = [f"""
        WITH ev AS (
            SELECT vec_id, r.d AS d,
                   round(embedding[r.d + 1]::DOUBLE * {_VQ_SCALE}.0)::BIGINT
                       AS x
            FROM embeddings,
                 LATERAL (SELECT unnest(range({KMEANS_DIM})) AS d) r
            WHERE len(embedding) = {KMEANS_DIM}
        ), c0 AS (
            SELECT vec_id::INT AS cid, d, x * {_C_SCALE} AS c
            FROM ev WHERE vec_id < {N_CENTROIDS}
        )"""]
    for it in range(1, KMEANS_ITERS + 1):
        parts.append(f"""
        , dist{it} AS (
            SELECT e.vec_id, c.cid,
                   sum((e.x * {_C_SCALE} - c.c) * (e.x * {_C_SCALE} - c.c))
                       ::BIGINT AS dist
            FROM ev e JOIN c{it - 1} c ON e.d = c.d
            GROUP BY 1, 2
        ), asg{it} AS (
            SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rk
            FROM dist{it}
        ), stats{it} AS (
            SELECT a.cid, e.d,
                   round(sum(e.x) * {_C_SCALE}.0 / count(*))::BIGINT AS c
            FROM asg{it} a JOIN ev e ON a.vec_id = e.vec_id
            WHERE a.rk = 1
            GROUP BY 1, 2
        ), c{it} AS (
            SELECT p.cid, p.d, coalesce(s.c, p.c) AS c
            FROM c{it - 1} p
            LEFT JOIN stats{it} s ON s.cid = p.cid AND s.d = p.d
        )""")
    last = KMEANS_ITERS
    parts.append(f"""
        , distF AS (
            SELECT e.vec_id, c.cid,
                   sum((e.x * {_C_SCALE} - c.c) * (e.x * {_C_SCALE} - c.c))
                       ::BIGINT AS dist
            FROM ev e JOIN c{last} c ON e.d = c.d
            GROUP BY 1, 2
        ), asgF AS (
            SELECT vec_id, cid, dist,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist, cid) AS rk
            FROM distF
        )
    """)
    return "".join(parts), last


def _kmeans_fit_oracle() -> str:
    prefix, last = _kmeans_cte_chain()
    cent_cols = ", ".join(
        f"max(CASE WHEN d = {d} THEN c END) AS c{d}"
        for d in range(_N_CENT_OUT)
    )
    return prefix + f"""
        , grouped AS (
            SELECT cid AS cluster, count(*) AS n_vecs,
                   sum(dist)::BIGINT AS inertia
            FROM asgF WHERE rk = 1 GROUP BY 1
        ), cents AS (
            SELECT cid, {cent_cols} FROM c{last}
            WHERE d < {_N_CENT_OUT} GROUP BY cid
        )
        SELECT g.cluster, g.n_vecs, g.inertia, c.c0, c.c1, c.c2, c.c3
        FROM grouped g JOIN cents c ON c.cid = g.cluster
    """


IVF_NPROBE = 3


def q_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The REAL IVF: the trained Lloyd centroids are the coarse quantizer.
    Every vector is assigned to its nearest trained cell (exact integer
    distances); each query probes its IVF_NPROBE nearest cells and scores
    exact cosine only against those members. Data-adaptive cells recall far
    better than the static sign-bucket LSH (measured by ann_recall vs this
    variant in tests). Scale shape: candidates come from an equi-join on
    the cell id with the tiny probe side broadcast — the same bucket-keyed
    pattern, but with cells that follow the data distribution."""
    emb = _emb(spark, sf_dir)
    ev = _quantized_vecs(emb).localCheckpoint(eager=True)
    cents = _lloyd(ev, 1, N_CENTROIDS, KMEANS_ITERS)[0]

    members = (
        _quantize(ev, [cents]).selectExpr("vec_id", "a0.cid AS cell")
        .join(emb, "vec_id")
    )
    probes = _ivf_probes(ev, cents)
    q_embs = emb.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        members.join(F.broadcast(probes), "cell")
        .where(F.col("vec_id") != F.col("q_id"))
        .join(F.broadcast(q_embs), "q_id")
        .select(
            "q_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                cosine_similarity_expr(F.col("q_emb"), F.col("embedding")), 4
            ).alias("sim"),
        )
    )
    return _top_neighbors(scored, TOP_K)


def _ann_ivf_trained_oracle() -> str:
    prefix, _last = _kmeans_cte_chain()
    return prefix + f"""
        , cells AS (
            SELECT vec_id, cid FROM asgF WHERE rk = 1
        ), probes AS (
            SELECT vec_id AS q_id, cid FROM asgF
            WHERE vec_id < {N_QUERIES} AND rk <= {IVF_NPROBE}
        ), emb2 AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
        ), qv AS (
            SELECT vec_id AS q_id, emb AS q_emb FROM emb2
            WHERE vec_id < {N_QUERIES}
        ), scored AS (
            SELECT p.q_id, c.vec_id AS neighbor_id, {_DUCK_SIM}
            FROM probes p
            JOIN cells cl ON cl.cid = p.cid
            JOIN emb2 c ON c.vec_id = cl.vec_id AND c.vec_id <> p.q_id
            JOIN qv q ON q.q_id = p.q_id
        ), rankedT AS (
            SELECT q_id, neighbor_id, sim,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, neighbor_id ASC)
                       AS rank
            FROM scored
        )
        SELECT q_id, rank, neighbor_id, sim FROM rankedT
        WHERE rank <= {TOP_K}
    """


ORACLES["kmeans_fit"] = _kmeans_fit_oracle()
ORACLES["ann_ivf_trained"] = _ann_ivf_trained_oracle()

ORACLES["ann_recall"] = f"""
        SELECT e.q_id,
               count(*) AS k,
               sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
                   ::BIGINT AS n_hits
        FROM ({ORACLES["knn_cosine"]}) e
        LEFT JOIN ({ORACLES["ann_ivf_cosine"]}) a
          ON a.q_id = e.q_id AND a.neighbor_id = e.neighbor_id
        GROUP BY 1
"""


TOP_TERMS = 5


def q_cluster_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster labeling — the corpus-exploration step after clustering:
    documents join their trained k-means cluster (doc_id == vec_id in the
    driver tables), unigram counts roll up per (cluster, gram) with
    map-side combine, and each cluster reports its TOP_TERMS most frequent
    terms via :func:`top_k` (a big cluster's gram list never sorts in one
    task). Output: cluster, rk, gram, cnt — the human-readable
    signature of each embedding cluster.

    Scale shape: one doc-keyed equi-join (labels onto the corpus scan, the
    dedup_retention pattern), one (cluster, gram)-keyed count, two bounded
    windows."""
    from . import load

    ev = _quantized_vecs(_emb(spark, sf_dir)).localCheckpoint(eager=True)
    cents = _lloyd(ev, 1, N_CENTROIDS, KMEANS_ITERS)[0]
    labels = _quantize(ev, [cents]).selectExpr(
        "vec_id AS doc_id", "a0.cid AS cluster"
    )
    words = (
        load(spark, sf_dir, "documents")
        .join(labels, "doc_id")
        .select(
            "cluster",
            F.explode(
                F.filter(F.split("text", r"\s+"), lambda x: x != "")
            ).alias("gram"),
        )
    )
    counts = words.groupBy("cluster", "gram").agg(
        F.count("*").alias("cnt")
    )
    order = (F.desc("cnt"), F.asc("gram"))
    return top_k(counts, TOP_TERMS, order, by=["cluster"]).select(
        "cluster", "rk", "gram", "cnt"
    )


def _cluster_top_terms_oracle() -> str:
    prefix, _last = _kmeans_cte_chain()
    return prefix + f"""
        , asg AS (
            SELECT vec_id AS doc_id, cid AS cluster
            FROM asgF WHERE rk = 1
        ), g AS (
            SELECT a.cluster, unnest(list_filter(
                       regexp_split_to_array(d.text, '\\s+'),
                       x -> x <> '')) AS gram
            FROM documents d JOIN asg a USING (doc_id)
        ), cnts AS (
            SELECT cluster, gram, count(*) AS cnt FROM g GROUP BY 1, 2
        )
        SELECT cluster, rk, gram, cnt FROM (
            SELECT cluster, gram, cnt,
                   row_number() OVER (PARTITION BY cluster
                                      ORDER BY cnt DESC, gram) AS rk
            FROM cnts
        ) WHERE rk <= {TOP_TERMS}
    """

HN_TOP_K = 5


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive / metric-learning training
    data: for each query vector, the HN_TOP_K nearest neighbors whose
    LABEL DIFFERS — the close-but-wrong candidates that make informative
    negatives (the standard ANN-mining step behind dense-retriever and
    embedding-model training sets).

    Scale shape: candidates come from the multi-probe sign-bucket
    equi-join (the q_ann_ivf_cosine pattern — tiny query side broadcast,
    corpus never shuffles), the label-mismatch predicate rides the join as
    a post-filter, and the per-query top-K is a bounded window over the
    probed candidates only. The label filter also subsumes the self-match
    exclusion (a vector shares its own label)."""
    from . import load

    emb = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
            "label",
        )
        .withColumn("bucket", _sign_bucket(F.col("embedding")))
    )
    probes = F.array(
        F.col("q_bucket"),
        *[
            F.expr(f"cast(q_bucket ^ {1 << i} as int)")
            for i in range(N_SIGN_BITS)
        ],
    )
    queries = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("label").alias("q_label"),
            F.col("bucket").alias("q_bucket"),
        )
        .select("q_id", "q_emb", "q_label", F.explode(probes).alias("probe"))
    )
    scored = emb.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("probe"))
        & (F.col("label") != F.col("q_label")),
    ).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").cast("long").alias("neg_label"),
        F.round(
            cosine_similarity_expr(F.col("q_emb"), F.col("embedding")), 4
        ).alias("sim"),
    )
    return _top_neighbors(scored, HN_TOP_K, "neg_label")


ORACLES["hard_negatives"] = (
    """
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb, label,
                   (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
                    + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                    + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
                    + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END
                    + CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END
                    + CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END
                    + CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END
                    + CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END)
                       AS bucket
            FROM embeddings
        ), q0 AS (
            SELECT vec_id AS q_id, emb AS q_emb, label AS q_label,
                   bucket AS q_bucket
            FROM e WHERE vec_id < """ + str(N_QUERIES) + f"""
        ), q AS (
            SELECT q_id, q_emb, q_label,
                   xor(q_bucket, f.flip)::INT AS probe
            FROM q0, LATERAL (SELECT unnest(
                [0, 1, 2, 4, 8, 16, 32, 64, 128]) AS flip) f
        ), scored AS (
            SELECT q.q_id, c.vec_id AS neighbor_id,
                   c.label::BIGINT AS neg_label, {_DUCK_SIM}
            FROM e c JOIN q ON c.bucket = q.probe
                           AND c.label <> q.q_label
        )
        SELECT q_id, rank, neighbor_id, neg_label, sim FROM (
            SELECT q_id, neighbor_id, neg_label, sim,
                   row_number() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, neighbor_id ASC)
                       AS rank
            FROM scored
        ) WHERE rank <= {HN_TOP_K}
    """
)


def q_training_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet construction: for each query vector,
    its nearest SAME-label neighbor (the positive) and its nearest
    DIFFERENT-label neighbor (the hard negative) from the multi-probe
    sign-bucket candidates — the (anchor, positive, negative) rows a
    metric-learning / dense-retriever trainer consumes directly.

    Scale shape: one candidate generation (the q_hard_negatives broadcast
    equi-join, label filter deferred), one window over the probed
    candidates partitioned by (q_id, is_pos), and a tiny pos x neg join on
    q_id. Queries missing either side (no probed same/different-label
    candidate) are dropped — a triplet needs both."""
    from . import load

    emb = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"),
            "label",
        )
        .withColumn("bucket", _sign_bucket(F.col("embedding")))
    )
    probes = F.array(
        F.col("q_bucket"),
        *[
            F.expr(f"cast(q_bucket ^ {1 << i} as int)")
            for i in range(N_SIGN_BITS)
        ],
    )
    queries = (
        emb.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("label").alias("q_label"),
            F.col("bucket").alias("q_bucket"),
        )
        .select("q_id", "q_emb", "q_label", F.explode(probes).alias("probe"))
    )
    cand = emb.join(
        F.broadcast(queries),
        (F.col("bucket") == F.col("probe"))
        & (F.col("vec_id") != F.col("q_id")),
    ).select(
        "q_id",
        F.col("vec_id").alias("neighbor_id"),
        (F.col("label") == F.col("q_label")).alias("is_pos"),
        F.round(
            cosine_similarity_expr(F.col("q_emb"), F.col("embedding")), 4
        ).alias("sim"),
    )
    w = Window.partitionBy("q_id", "is_pos").orderBy(
        F.desc("sim"), F.asc("neighbor_id")
    )
    best = cand.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    pos = best.where(F.col("is_pos")).select(
        "q_id",
        F.col("neighbor_id").alias("pos_id"),
        F.col("sim").alias("pos_sim"),
    )
    neg = best.where(~F.col("is_pos")).select(
        "q_id",
        F.col("neighbor_id").alias("neg_id"),
        F.col("sim").alias("neg_sim"),
    )
    # both sides are <= N_QUERIES rows but post-window (no size stats) —
    # broadcast explicitly or the planner falls back to a sort-merge join
    return pos.join(F.broadcast(neg), "q_id")


ORACLES["training_triplets"] = (
    """
        WITH e AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb, label,
                   (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END
                    + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
                    + CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END
                    + CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END
                    + CASE WHEN embedding[5] > 0 THEN 16 ELSE 0 END
                    + CASE WHEN embedding[6] > 0 THEN 32 ELSE 0 END
                    + CASE WHEN embedding[7] > 0 THEN 64 ELSE 0 END
                    + CASE WHEN embedding[8] > 0 THEN 128 ELSE 0 END)
                       AS bucket
            FROM embeddings
        ), q0 AS (
            SELECT vec_id AS q_id, emb AS q_emb, label AS q_label,
                   bucket AS q_bucket
            FROM e WHERE vec_id < """ + str(N_QUERIES) + f"""
        ), q AS (
            SELECT q_id, q_emb, q_label,
                   xor(q_bucket, f.flip)::INT AS probe
            FROM q0, LATERAL (SELECT unnest(
                [0, 1, 2, 4, 8, 16, 32, 64, 128]) AS flip) f
        ), cand AS (
            SELECT q.q_id, c.vec_id AS neighbor_id,
                   (c.label = q.q_label) AS is_pos, {_DUCK_SIM}
            FROM e c JOIN q ON c.bucket = q.probe
                           AND c.vec_id <> q.q_id
        ), best AS (
            SELECT q_id, neighbor_id, is_pos, sim FROM (
                SELECT q_id, neighbor_id, is_pos, sim,
                       row_number() OVER (PARTITION BY q_id, is_pos
                                          ORDER BY sim DESC,
                                                   neighbor_id ASC) AS rk
                FROM cand
            ) WHERE rk = 1
        )
        SELECT p.q_id, p.neighbor_id AS pos_id, p.sim AS pos_sim,
               n.neighbor_id AS neg_id, n.sim AS neg_sim
        FROM best p JOIN best n ON n.q_id = p.q_id
        WHERE p.is_pos AND NOT n.is_pos
    """
)


QUERIES = {
    "knn_cosine": q_knn_cosine,
    "ann_ivf_cosine": q_ann_ivf_cosine,
    "kmeans_assign": q_kmeans_assign,
    "kmeans_fit": q_kmeans_fit,
    "ann_recall": q_ann_recall,
    "ann_ivf_trained": q_ann_ivf_trained,
    "hard_negatives": q_hard_negatives,
    "training_triplets": q_training_triplets,
}

QUERIES["cluster_top_terms"] = q_cluster_top_terms
ORACLES["cluster_top_terms"] = _cluster_top_terms_oracle()


# Margin-based bitext mining (Artetxe & Schwenk, "Margin-based Parallel
# Corpus Mining with Multilingual Sentence Embeddings", ACL 2019): a pair
# (x, y) is a translation candidate not when cos(x, y) is high in absolute
# terms but when it BEATS the average similarity of each side's k-nearest
# neighborhood — the margin correction for embedding-space hubness. The
# paper's DISTANCE margin variant stays integer-exact here: sims ride the
# repo's fixed-point idiom (round-4 cosine x 1e4, the knn_cosine contract)
# and the margin is scaled by 2k so no division ever happens.
MARGIN_K = 4


def margin_pairs(
    emb: DataFrame, k: int = MARGIN_K, src_cap: int | None = None
) -> DataFrame:
    """Distance-margin mining over a (vec_id, embedding) frame: even ids
    play language A (sources), odd ids language B (targets). For every
    source x: s(x,y) = fixed-point cosine; margin_2k(x,y) =
    2k*s(x,y) - sum_{z in NNk(x)} s(x,z) - sum_{z' in NNk(y)} s(z',y)
    (2k times the paper's distance margin; both neighborhoods are k-NN
    within the candidate pair set, ranked (s desc, id asc) for
    determinism). Output: each source's best-margin target with its
    fixed-point sim and margin.

    Scale shape: pair generation is one broadcast of the source shard
    over the target stream — the knn_cosine exact-baseline layout,
    intentionally BroadcastNestedLoopJoin and plan-gated as such; at
    corpus scale the pair frame instead comes from the trained-IVF
    candidate join (ann_ivf_trained) and the neighborhood sums use the
    retrieved candidates — standard LASER/CCMatrix mining practice. The
    margin math itself is three per-key window passes + two keyed
    aggregates over the pair frame, nothing quadratic beyond candidate
    generation.

    Two measured-cost details: norms are hoisted to one column per VECTOR
    (the inline cosine recomputes both sides' norm aggregates per PAIR —
    3x the interpreted-HOF work), and ``src_cap``
    bounds the mined source batch (mining runs in batches in production;
    neighborhood sums are within the scored candidate set either way).
    The hoisted expression tree is value-identical to
    ``cosine_similarity_expr`` — same dot, same norms, same zero guard,
    same division — so the fixed-point sims are unchanged. Together:
    26.3 s -> 3.7 s warm at sf0.1 (measured)."""
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding"), F.lit(0.0), lambda acc, v: acc + v * v
        )
    )
    base = emb.select("vec_id", "embedding", norm.alias("nrm"))
    src = base.where(F.col("vec_id") % 2 == 0)
    if src_cap is not None:
        src = src.where(F.col("vec_id") < src_cap)
    src = src.select(
        F.col("vec_id").alias("x_id"),
        F.col("embedding").alias("x_emb"),
        F.col("nrm").alias("x_nrm"),
    )
    tgt = base.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("y_id"),
        F.col("embedding").alias("y_emb"),
        F.col("nrm").alias("y_nrm"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("x_emb"), F.col("y_emb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    sim4 = F.round(
        F.when(
            (F.col("x_nrm") == 0) | (F.col("y_nrm") == 0), F.lit(0.0)
        ).otherwise(dot / (F.col("x_nrm") * F.col("y_nrm"))),
        4,
    )
    pairs = tgt.crossJoin(F.broadcast(src)).select(
        "x_id",
        "y_id",
        F.round(sim4 * 10000).cast("bigint").alias("s"),
    )
    wx = Window.partitionBy("x_id").orderBy(F.desc("s"), F.asc("y_id"))
    wy = Window.partitionBy("y_id").orderBy(F.desc("s"), F.asc("x_id"))
    ranked = pairs.withColumn("rx", F.row_number().over(wx)).withColumn(
        "ry", F.row_number().over(wy)
    )
    sum_x = F.sum(F.when(F.col("rx") <= k, F.col("s"))).over(
        Window.partitionBy("x_id")
    )
    sum_y = F.sum(F.when(F.col("ry") <= k, F.col("s"))).over(
        Window.partitionBy("y_id")
    )
    m = (
        ranked.withColumn("sum_x", sum_x)
        .withColumn("sum_y", sum_y)
        .where(F.col("rx") <= k)
        .select(
            "x_id",
            "y_id",
            "s",
            (
                F.lit(2 * k) * F.col("s") - F.col("sum_x") - F.col("sum_y")
            ).cast("bigint").alias("margin_2k"),
        )
    )
    wb = Window.partitionBy("x_id").orderBy(
        F.desc("margin_2k"), F.asc("y_id")
    )
    return (
        m.withColumn("rb", F.row_number().over(wb))
        .where(F.col("rb") == 1)
        .select(
            F.col("x_id").alias("src_id"),
            F.col("y_id").alias("tgt_id"),
            F.col("s").alias("sim_fp"),
            "margin_2k",
        )
    )


# One mined source batch: ids below this (so <= MINE_SRC_CAP/2 sources).
# Production mining shards sources into batches exactly like this; the cap
# bounds the exact-baseline pair frame at |batch| x |targets|.
MINE_SRC_CAP = 400


def q_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    return margin_pairs(_emb(spark, sf_dir), src_cap=MINE_SRC_CAP)


QUERIES["margin_mining"] = q_margin_mining

ORACLES["margin_mining"] = f"""
    WITH e AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                            x -> x * x))) AS nrm
        FROM embeddings
    ), q AS (
        SELECT vec_id AS q_id, emb AS q_emb, nrm AS q_nrm
        FROM e WHERE vec_id % 2 = 0 AND vec_id < {MINE_SRC_CAP}
    ), scored AS (
        SELECT q.q_id AS x_id, c.vec_id AS y_id,
               round(
                 CASE WHEN q.q_nrm = 0 OR c.nrm = 0 THEN 0.0
                      ELSE list_sum(list_transform(
                               range(1, len(q.q_emb) + 1),
                               i -> q.q_emb[i] * c.emb[i]))
                           / (q.q_nrm * c.nrm)
                 END, 4) AS sim
        FROM e c JOIN q ON c.vec_id % 2 = 1
    ), p AS (
        SELECT x_id, y_id, round(sim * 10000)::BIGINT AS s FROM scored
    ), r AS (
        SELECT *,
               row_number() OVER (PARTITION BY x_id
                                  ORDER BY s DESC, y_id) AS rx,
               row_number() OVER (PARTITION BY y_id
                                  ORDER BY s DESC, x_id) AS ry
        FROM p
    ), sx AS (
        SELECT x_id, sum(s)::BIGINT AS sum_x FROM r
        WHERE rx <= {MARGIN_K} GROUP BY 1
    ), sy AS (
        SELECT y_id, sum(s)::BIGINT AS sum_y FROM r
        WHERE ry <= {MARGIN_K} GROUP BY 1
    ), m AS (
        SELECT r.x_id, r.y_id, r.s,
               (2 * {MARGIN_K} * r.s - sx.sum_x - sy.sum_y)::BIGINT
                   AS margin_2k
        FROM r JOIN sx USING (x_id) JOIN sy USING (y_id)
        WHERE r.rx <= {MARGIN_K}
    ), b AS (
        SELECT *, row_number() OVER (PARTITION BY x_id
                                     ORDER BY margin_2k DESC, y_id) AS rb
        FROM m
    )
    SELECT x_id AS src_id, y_id AS tgt_id, s AS sim_fp, margin_2k
    FROM b WHERE rb = 1
"""

# WMT/CCMatrix-style bitext cleaning gates (cf. Wenzek et al. / the shared
# WMT parallel-corpus filtering tasks): token-length floor, length-ratio
# cap, cross-language requirement, and a word-overlap copy detector
# (a "translation" sharing most of its source's words is untranslated).
BITEXT_MIN_TOKENS = 5
BITEXT_MAX_RATIO = 2
BITEXT_MAX_OVERLAP_PERMILLE = 600


def q_bitext_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext filtering over the mined margin pairs — the cleaning step
    every parallel-corpus pipeline (WMT filtering tasks, CCMatrix/CCAligned)
    runs between mining and training. Each mined (src, tgt) pair joins its
    document text (doc_id == vec_id, the corpus convention) and passes four
    independent gates, each reported so the audit shows WHY a pair dropped:

    - gate_lang: a real bitext pair crosses languages;
    - gate_len: both sides >= BITEXT_MIN_TOKENS whitespace tokens;
    - gate_ratio: length ratio <= BITEXT_MAX_RATIO (integer-exact compare,
      no division);
    - gate_copy: distinct-word overlap (integer permille Jaccard) <=
      BITEXT_MAX_OVERLAP_PERMILLE — catches copies/transliterations that
      cosine mining scores highly.

    Scale shape: the mined pair frame is tiny relative to the corpus (one
    best target per source batch), so BOTH text joins broadcast the pair
    side into a documents scan — zero shuffles, and the second join
    broadcasts the already-enriched pairs. Gates are pure JVM expressions;
    the word sets come from one split per side (never inside a per-element
    lambda)."""
    from . import load

    pairs = margin_pairs(_emb(spark, sf_dir), src_cap=MINE_SRC_CAP)
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != "")
    side = load(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.array_distinct(toks).alias("wset"),
        F.size(toks).cast("long").alias("n_tok"),
    )
    a = side.select(
        F.col("doc_id").alias("src_id"),
        F.col("lang").alias("src_lang"),
        F.col("wset").alias("src_wset"),
        F.col("n_tok").alias("src_tok"),
    )
    b = side.select(
        F.col("doc_id").alias("tgt_id"),
        F.col("lang").alias("tgt_lang"),
        F.col("wset").alias("tgt_wset"),
        F.col("n_tok").alias("tgt_tok"),
    )
    enriched = a.join(F.broadcast(pairs), "src_id")
    j = b.join(F.broadcast(enriched), "tgt_id")
    inter = F.size(F.array_intersect("src_wset", "tgt_wset")).cast("long")
    uni = F.size(F.array_union("src_wset", "tgt_wset")).cast("long")
    overlap = F.when(F.col("uni_c") == 0, F.lit(1000).cast("long")).otherwise(
        F.expr("div(1000 * inter_c, uni_c)")
    )
    j = j.withColumn("inter_c", inter).withColumn("uni_c", uni).withColumn(
        "overlap_permille", overlap
    )
    gate_lang = F.col("src_lang") != F.col("tgt_lang")
    gate_len = (F.col("src_tok") >= BITEXT_MIN_TOKENS) & (
        F.col("tgt_tok") >= BITEXT_MIN_TOKENS
    )
    gate_ratio = F.greatest("src_tok", "tgt_tok") <= F.lit(
        BITEXT_MAX_RATIO
    ) * F.least("src_tok", "tgt_tok")
    gate_copy = F.col("overlap_permille") <= BITEXT_MAX_OVERLAP_PERMILLE
    return j.select(
        "src_id",
        "tgt_id",
        "sim_fp",
        "margin_2k",
        "src_lang",
        "tgt_lang",
        "src_tok",
        "tgt_tok",
        "overlap_permille",
        gate_lang.alias("gate_lang"),
        gate_len.alias("gate_len"),
        gate_ratio.alias("gate_ratio"),
        gate_copy.alias("gate_copy"),
        (gate_lang & gate_len & gate_ratio & gate_copy).alias("kept"),
    )


QUERIES["bitext_clean"] = q_bitext_clean

ORACLES["bitext_clean"] = f"""
    WITH mined AS ({ORACLES["margin_mining"]}
    ), d AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), s AS (
        SELECT doc_id, lang, list_distinct(t) AS wset,
               len(t)::BIGINT AS n_tok
        FROM d
    ), j AS (
        SELECT m.src_id, m.tgt_id, m.sim_fp, m.margin_2k,
               a.lang AS src_lang, b.lang AS tgt_lang,
               a.n_tok AS src_tok, b.n_tok AS tgt_tok,
               len(list_intersect(a.wset, b.wset))::BIGINT AS inter_c,
               len(list_distinct(list_concat(a.wset, b.wset)))::BIGINT
                   AS uni_c
        FROM mined m
        JOIN s a ON m.src_id = a.doc_id
        JOIN s b ON m.tgt_id = b.doc_id
    ), g AS (
        SELECT *,
               CASE WHEN uni_c = 0 THEN 1000::BIGINT
                    ELSE (1000 * inter_c) // uni_c END AS overlap_permille,
               (src_lang <> tgt_lang) AS gate_lang,
               (src_tok >= {BITEXT_MIN_TOKENS}
                AND tgt_tok >= {BITEXT_MIN_TOKENS}) AS gate_len,
               (greatest(src_tok, tgt_tok)
                <= {BITEXT_MAX_RATIO} * least(src_tok, tgt_tok)) AS gate_ratio
        FROM j
    )
    SELECT src_id, tgt_id, sim_fp, margin_2k, src_lang, tgt_lang,
           src_tok, tgt_tok, overlap_permille,
           gate_lang, gate_len, gate_ratio,
           (overlap_permille <= {BITEXT_MAX_OVERLAP_PERMILLE}) AS gate_copy,
           (gate_lang AND gate_len AND gate_ratio
            AND overlap_permille <= {BITEXT_MAX_OVERLAP_PERMILLE}) AS kept
    FROM g
"""
