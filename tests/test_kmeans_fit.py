"""Iterative Lloyd k-means fit (operators/similarity_search.q_kmeans_fit)."""
import pytest
from pyspark.sql import functions as F


SF = "/root/testdata/sf0.001"


def test_kmeans_fit_invariants(spark):
    from pdf_extractor_spark.operators.similarity_search import (
        KMEANS_DIM,
        N_CENTROIDS,
        q_kmeans_fit,
    )

    rows = q_kmeans_fit(spark, SF).collect()
    n_total = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .where(F.size("embedding") == KMEANS_DIM)
        .count()
    )
    assert sum(r["n_vecs"] for r in rows) == n_total
    assert all(0 <= r["cluster"] < N_CENTROIDS for r in rows)
    assert all(r["inertia"] >= 0 for r in rows)
    # deterministic: a second run is identical
    again = q_kmeans_fit(spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_kmeans_fit_improves_on_seed_assignment(spark):
    """Trained centroids must beat the 0-update seed fit: q_kmeans_fit
    reads KMEANS_ITERS when called, so the seed run really skips the
    updates."""
    import pdf_extractor_spark.operators.similarity_search as S

    def total_inertia():
        return sum(
            r["inertia"] for r in S.q_kmeans_fit(spark, SF).collect()
        )

    trained = total_inertia()
    orig = S.KMEANS_ITERS
    try:
        S.KMEANS_ITERS = 0
        seed = total_inertia()
    finally:
        S.KMEANS_ITERS = orig
    assert trained < seed


def test_registration():
    import __spark_entry__ as e

    for name in ("kmeans_fit", "length_quantiles"):
        assert name in e.queries()
        assert name in e.oracle_sql()


def test_token_windows_no_duplicate_tails(spark):
    """Every window must contain at least one token index not covered by
    the previous window (no 100%-duplicate training chunks)."""
    from pdf_extractor_spark.operators.text_analysis import (
        WINDOW_STRIDE,
        WINDOW_TOKENS,
        q_token_windows,
    )

    rows = q_token_windows(spark, SF).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert by_doc
    for doc, wins in by_doc.items():
        wins.sort(key=lambda r: r["window_idx"])
        for prev, cur in zip(wins, wins[1:]):
            prev_end = prev["window_idx"] * WINDOW_STRIDE + prev["n_tokens"]
            cur_end = cur["window_idx"] * WINDOW_STRIDE + cur["n_tokens"]
            assert cur_end > prev_end, (doc, cur["window_idx"])
        # last window reaches the end only when the doc exceeds one window
        if len(wins) > 1:
            assert wins[-1]["n_tokens"] >= 1


def test_trained_ivf_recall_beats_lsh(spark):
    """The data-adaptive quantizer must recall (much) better than the
    static sign-bucket LSH at the same probe budget shape."""
    from pdf_extractor_spark.operators.similarity_search import (
        q_ann_ivf_cosine,
        q_ann_ivf_trained,
        q_knn_cosine,
    )

    sf = "/root/testdata/sf0.01"
    exact = {(r["q_id"], r["neighbor_id"])
             for r in q_knn_cosine(spark, sf).collect()}
    lsh = {(r["q_id"], r["neighbor_id"])
           for r in q_ann_ivf_cosine(spark, sf).collect()}
    ivf = {(r["q_id"], r["neighbor_id"])
           for r in q_ann_ivf_trained(spark, sf).collect()}
    assert len(exact & ivf) > len(exact & lsh)
    assert len(exact & ivf) >= 0.8 * len(exact)


def test_broadcast_assignment_parity(spark):
    """_quantize (centroids as one broadcast DATA row, O(1) plan size in K)
    must give every vector the same (dist, cid) as a plain-Python argmin
    over its collected vq (ties to the smaller cid), and its plan must
    carry a broadcast with no extra Exchange."""
    from pdf_extractor_spark.operators.similarity_search import (
        _C_SCALE,
        KMEANS_ITERS,
        N_CENTROIDS,
        _emb,
        _lloyd,
        _quantize,
        _quantized_vecs,
    )

    sf = "/root/testdata/sf0.01"
    ev = _quantized_vecs(_emb(spark, sf)).localCheckpoint(eager=True)
    cents = _lloyd(ev, 1, N_CENTROIDS, KMEANS_ITERS)[0]

    def argmin(vq):
        return min(
            (sum((a * _C_SCALE - b) ** 2 for a, b in zip(vq, c)), cid)
            for cid, c in enumerate(cents)
        )

    want = {r["vec_id"]: argmin(r["vq"]) for r in ev.collect()}
    bc = _quantize(ev, [cents])
    got = {
        r["vec_id"]: (r["a0"]["dist"], r["a0"]["cid"]) for r in bc.collect()
    }
    assert got == want and len(got) > 0

    plan = bc._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan
    # the broadcast of the 1-row packed-centroid side must be the ONLY
    # exchange-like node: no shuffle is needed for a per-row argmin
    assert "Exchange hashpartitioning" not in plan
