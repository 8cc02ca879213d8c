"""IVF-PQ index lifecycle: train once, persist, serve many (round 5).

The per-query ANN operators (pq.py, similarity_search.py) retrain their
quantizers inline so the DuckDB oracle can replay the fit — right for the
correctness gate, but production amortizes ONE fit over many serves. This
module adds that split on the fsio commit protocol (plans/fsio.py):

* ``ann_index_build(ev, store_root)``: fit the coarse quantizer
  (N_CENTROIDS-cell Lloyd) + the M PQ codebooks — two calls of the one
  Lloyd loop, ``similarity_search._lloyd`` — encode the corpus with
  ``pq._ivfpq_codes`` (the coarse-cell + codes builder ann_ivfpq_recall
  uses), and publish ONE versioned snapshot ``idx_v<n>/`` with
  ``fsio.publish`` (crash-injected by scripts/fault_drive.py section E).
  The snapshot holds three row kinds in one schema:

  - part='coarse'   (cid, cvec)           — K x D ints, broadcast-sized
  - part='codebook' (m, cid, cvec)        — M x KSUB x DS ints
  - part='code'     (vec_id, cell, codes) — the compressed corpus: the
    64x-smaller scan that ADC streams; the raw vectors stay in the
    embeddings table (the index never duplicates them)

* ``ann_index_serve(ev, snap)``: the query path against a loaded
  snapshot — probes from the STORED coarse centroids, ADC over the
  STORED codes via the broadcast per-query LUT rows, a top_k shortlist,
  exact re-rank reading raw vectors by id. No fit anywhere; collecting
  the snapshot's model rows is bounded model-state driver traffic
  (the broadcast-Lloyd layout's contract).

Registered queries (oracle-gated):

* ``ann_index_build`` — builds into a fresh temp store, reads the
  COMMITTED snapshot back, and reports the index inventory: per coarse
  cell its posting-list size, per (m, cid) codebook entry its code count
  and centroid ints. The roundtrip proves the artifact; the oracle
  replays every fit the artifact froze.
* ``ann_index_query`` — the serve path end to end, every model/code
  input read back from a committed snapshot rather than the in-plan
  fit; output contract identical to ``ann_ivfpq_recall`` (q_id, k,
  n_hits), and the oracle is literally that query's oracle — the store
  roundtrip must be value-invisible. (The registered form still pays the
  build to create its store — oracle replay requires a self-contained
  query; bench.py times build and serve separately against a shared
  store, which is the split that matters in production.)
"""
from __future__ import annotations

import shutil as _shutil
import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..plans import fsio
from .pq import (
    _EVALL,
    PQ_ITERS,
    PQ_KSUB,
    PQ_M,
    _coarse_chain,
    _ivf_candidates,
    _ivfpq_codes,
    _ivfpq_recall_oracle,
    _recall_from_candidates,
    _subspace_chain,
)
from .similarity_search import (
    KMEANS_ITERS,
    N_CENTROIDS,
    _codebook_rows,
    _emb,
    _lloyd,
    _quantized_vecs,
)

ANN_IDX_PREFIX = "idx_v"

_NO_CODE = [
    "CAST(NULL AS BIGINT) AS vec_id",
    "CAST(NULL AS INT) AS cell",
    "CAST(NULL AS ARRAY<INT>) AS codes",
]


def ann_index_frames(ev: DataFrame) -> DataFrame:
    """Fit + encode: the unified snapshot frame — the build's pure
    computation, no I/O."""
    spark = ev.sparkSession
    coarse = _lloyd(ev, 1, N_CENTROIDS, KMEANS_ITERS)[0]
    fits = _lloyd(ev, PQ_M, PQ_KSUB, PQ_ITERS)
    coarse_df = _codebook_rows(spark, [coarse]).selectExpr(
        "'coarse' AS part", "-1 AS m", "cid", "cvec", *_NO_CODE
    )
    cb_df = _codebook_rows(spark, fits).selectExpr(
        "'codebook' AS part", "m", "cid", "cvec", *_NO_CODE
    )
    code_df = _ivfpq_codes(ev, coarse, fits).selectExpr(
        "'code' AS part",
        "CAST(NULL AS INT) AS m",
        "CAST(NULL AS INT) AS cid",
        "CAST(NULL AS ARRAY<BIGINT>) AS cvec",
        "vec_id",
        "cell",
        f"array({', '.join(f'code{m}' for m in range(PQ_M))}) AS codes",
    )
    return coarse_df.unionByName(cb_df).unionByName(code_df)


def ann_index_build(ev: DataFrame, store_root: str) -> int:
    """Fit, encode, and publish the next snapshot version. Returns the
    committed version number."""
    spark = ev.sparkSession
    _, last = fsio.read_latest(spark, store_root, ANN_IDX_PREFIX)
    snap = ann_index_frames(ev)
    fsio.publish(snap, store_root, ANN_IDX_PREFIX, last + 1)
    return last + 1


def ann_index_load(spark: SparkSession, store_root: str) -> DataFrame:
    """The latest committed snapshot; raises on an empty store."""
    snap, _ = fsio.read_latest(spark, store_root, ANN_IDX_PREFIX)
    if snap is None:
        raise ValueError(f"no committed {ANN_IDX_PREFIX}* under {store_root}")
    return snap


def ann_index_serve(ev: DataFrame, snap: DataFrame) -> DataFrame:
    """IVF-PQ retrieval against a loaded snapshot: stored coarse centroids
    give each query its IVF_NPROBE probe cells, stored codes give the
    candidates (broadcast equi-join on the cell id), ADC + top_k
    shortlist + exact re-rank are the shared bounded machinery.
    Output: q_id, k, n_hits (the ann_ivfpq_recall contract)."""
    model = snap.where("part != 'code'").select(
        "part", "m", "cid", "cvec"
    ).collect()
    coarse_rows = sorted(
        (r for r in model if r["part"] == "coarse"), key=lambda r: r["cid"]
    )
    coarse = [list(r["cvec"]) for r in coarse_rows]
    cb = {
        (r["m"], r["cid"]): list(r["cvec"])
        for r in model
        if r["part"] == "codebook"
    }
    fits = [[cb[(m, i)] for i in range(PQ_KSUB)] for m in range(PQ_M)]
    codes = snap.where("part = 'code'").selectExpr(
        "vec_id", "cell", *[f"codes[{m}] AS code{m}" for m in range(PQ_M)]
    )
    cand = _ivf_candidates(ev, coarse, codes)
    return _recall_from_candidates(ev, fits, cand)


def _tmp_store() -> str:
    return tempfile.mkdtemp(prefix="ann_idx_")


def q_ann_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build the index into a fresh store, read the committed snapshot
    back, and report its inventory: one row per coarse cell (posting-list
    size + centroid ints) and per codebook entry (assigned-code count +
    centroid ints). Output: part, m, cid, n_vecs, cvec."""
    ev = _quantized_vecs(_emb(spark, sf_dir)).localCheckpoint(eager=True)
    root = _tmp_store()
    ann_index_build(ev, root)
    # eager checkpoint frees the temp store immediately: the returned frame
    # no longer reads the on-disk snapshot, so the per-run /tmp directory
    # (a full encoded-corpus copy) never outlives query construction.
    snap = ann_index_load(spark, root).localCheckpoint(eager=True)
    _shutil.rmtree(root, ignore_errors=True)
    code_rows = snap.where(F.col("part") == "code")
    cell_counts = code_rows.groupBy(
        F.col("cell").alias("cid")
    ).agg(F.count(F.lit(1)).alias("n_vecs"))
    coarse_inv = (
        snap.where(F.col("part") == "coarse")
        .select("part", "m", "cid", "cvec")
        .join(cell_counts, "cid", "left")
        .select(
            "part",
            "m",
            "cid",
            F.coalesce("n_vecs", F.lit(0)).cast("long").alias("n_vecs"),
            "cvec",
        )
    )
    mcode = code_rows.select(
        F.posexplode("codes").alias("m", "ccid")
    ).groupBy("m", F.col("ccid").alias("cid")).agg(
        F.count(F.lit(1)).alias("n_codes")
    )
    cb_inv = (
        snap.where(F.col("part") == "codebook")
        .select("part", "m", "cid", "cvec")
        .join(mcode, ["m", "cid"], "left")
        .select(
            "part",
            "m",
            "cid",
            F.coalesce("n_codes", F.lit(0)).cast("long").alias("n_vecs"),
            "cvec",
        )
    )
    return coarse_inv.unionByName(cb_inv)


def q_ann_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve-from-store: build (to a fresh temp store), load the committed
    snapshot, and run the retrieval purely from stored state. Must be
    value-identical to ann_ivfpq_recall — the oracle IS that query's
    oracle."""
    ev = _quantized_vecs(_emb(spark, sf_dir)).localCheckpoint(eager=True)
    root = _tmp_store()
    ann_index_build(ev, root)
    snap = ann_index_load(spark, root).localCheckpoint(eager=True)
    # every serve input (ev, snap) is eagerly checkpointed — the temp
    # store is already dead weight; drop it so repeated runs (bench
    # best-of-2, sweeps, plan checks) leave no /tmp debris.
    _shutil.rmtree(root, ignore_errors=True)
    return ann_index_serve(ev, snap)


def _build_oracle() -> str:
    """Replays the coarse + subspace fits (the pq.py CTE chains), then the
    inventory: posting counts per final cell, code counts per (m, cid)."""
    chains = "".join(_subspace_chain(m) for m in range(PQ_M))
    enc_union = " UNION ALL ".join(
        f"SELECT {m} AS m, cid FROM s{m}enc" for m in range(PQ_M)
    )
    cb_union = " UNION ALL ".join(
        f"SELECT {m} AS m, cid, d, c FROM s{m}c{PQ_ITERS}"
        for m in range(PQ_M)
    )
    return (
        _EVALL
        + chains
        + _coarse_chain()
        + f"""
        , cellcnt AS (
            SELECT cid, count(*)::BIGINT AS n_vecs FROM cellasg GROUP BY cid
        ), coarsecv AS (
            SELECT cid, list(c ORDER BY d) AS cvec
            FROM gc{KMEANS_ITERS} GROUP BY cid
        ), coarseinv AS (
            SELECT 'coarse' AS part, -1 AS m, c.cid,
                   coalesce(n.n_vecs, 0)::BIGINT AS n_vecs, c.cvec
            FROM coarsecv c LEFT JOIN cellcnt n ON n.cid = c.cid
        ), codecnt AS (
            SELECT m, cid, count(*)::BIGINT AS n_vecs
            FROM ({enc_union}) GROUP BY m, cid
        ), cbcv AS (
            SELECT m, cid, list(c ORDER BY d) AS cvec
            FROM ({cb_union}) GROUP BY m, cid
        ), cbinv AS (
            SELECT 'codebook' AS part, b.m, b.cid,
                   coalesce(n.n_vecs, 0)::BIGINT AS n_vecs, b.cvec
            FROM cbcv b LEFT JOIN codecnt n ON n.m = b.m AND n.cid = b.cid
        )
        SELECT part, m, cid, n_vecs, cvec FROM coarseinv
        UNION ALL
        SELECT part, m, cid, n_vecs, cvec FROM cbinv
    """
    )


QUERIES = {
    "ann_index_build": q_ann_index_build,
    "ann_index_query": q_ann_index_query,
}
ORACLES = {
    "ann_index_build": _build_oracle(),
    "ann_index_query": _ivfpq_recall_oracle(),
}
