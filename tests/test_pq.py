"""The vector quantizer: the fused Lloyd fit and the encode must match an
independent numpy replay exactly, both as PQ (one codebook per subspace) and
as the coarse k-means quantizer (one codebook over the whole vector)."""
import numpy as np
import pyspark.sql.functions as F
import pytest

from pdf_extractor_spark.operators.pq import PQ_ITERS, PQ_KSUB, PQ_M
from pdf_extractor_spark.operators.similarity_search import (
    _C_SCALE,
    KMEANS_DIM,
    KMEANS_ITERS,
    N_CENTROIDS,
    _lloyd,
    _quantize,
)

N_VECS = 40


def _synth_vq(n=N_VECS):
    """Deterministic integer vectors (already at _VQ_SCALE units)."""
    rows = []
    for i in range(n):
        rows.append(
            [((i * 37 + d * 11) % 41) - 20 for d in range(KMEANS_DIM)]
        )
    return rows


def _np_fits(vq, n_books, k, iters):
    ds = KMEANS_DIM // n_books
    X = np.array(vq, dtype=np.int64)
    fits = []
    for m in range(n_books):
        ev = X[:, m * ds : (m + 1) * ds]
        cents = ev[:k] * _C_SCALE
        for _ in range(iters):
            d = ((ev[:, None, :] * _C_SCALE - cents[None]) ** 2).sum(-1)
            asg = d.argmin(1)  # numpy argmin = first/smallest index on ties
            new = cents.copy()
            for c in range(k):
                pts = ev[asg == c]
                if len(pts):
                    new[c] = np.round(
                        pts.sum(0) * float(_C_SCALE) / len(pts)
                    ).astype(np.int64)
            cents = new
        fits.append(cents)
    return fits


def _np_codes(vq, fits, n_books):
    ds = KMEANS_DIM // n_books
    X = np.array(vq, dtype=np.int64)
    out = {}
    for i in range(len(vq)):
        codes, err = [], 0
        for m in range(n_books):
            sl = X[i, m * ds : (m + 1) * ds]
            d = ((sl[None] * _C_SCALE - fits[m]) ** 2).sum(-1)
            codes.append(int(d.argmin()))
            err += int(d.min())
        out[i] = (codes, err)
    return out


@pytest.mark.parametrize(
    "n_books, k, iters",
    [(PQ_M, PQ_KSUB, PQ_ITERS), (1, N_CENTROIDS, KMEANS_ITERS)],
    ids=["pq", "coarse"],
)
def test_fit_and_encode_match_numpy(spark, n_books, k, iters):
    vq = _synth_vq()
    ev = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vq)],
        "vec_id long, vq array<bigint>",
    ).localCheckpoint(eager=True)
    fits = _lloyd(ev, n_books, k, iters)
    np_fits = _np_fits(vq, n_books, k, iters)
    for m in range(n_books):
        assert [list(c) for c in np_fits[m]] == [
            [int(v) for v in c] for c in fits[m]
        ], f"book {m} centroids diverge"

    enc = _quantize(ev, fits).select(
        "vec_id",
        F.array(*[F.col(f"a{m}.cid") for m in range(n_books)]).alias("codes"),
        sum(F.col(f"a{m}.dist") for m in range(n_books)).alias("err"),
    )
    got = {
        r["vec_id"]: (list(r["codes"]), r["err"]) for r in enc.collect()
    }
    assert got == _np_codes(vq, np_fits, n_books)


def test_codes_bounded_and_seed_vectors_have_zero_iter0_error(spark):
    vq = _synth_vq()
    ev = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vq)],
        "vec_id long, vq array<bigint>",
    ).localCheckpoint(eager=True)
    fits = _lloyd(ev, PQ_M, PQ_KSUB, PQ_ITERS)
    enc = _quantize(ev, fits).collect()
    for r in enc:
        for m in range(PQ_M):
            assert 0 <= r[f"a{m}"]["cid"] < PQ_KSUB
            assert r[f"a{m}"]["dist"] >= 0
