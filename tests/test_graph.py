"""Connected-components clustering (operators/graph.py)."""
import pytest

from pdf_extractor_spark.operators.graph import (
    MAX_ITERATIONS,
    connected_components,
)


def _components(spark, edges):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {
        (r["node"], r["rep"])
        for r in connected_components(df).collect()
    }


def test_chain_and_triangle(spark):
    # chain 1-2-3-4 (diameter 3) + triangle 10-11-12 + isolated pair 20-21
    got = _components(
        spark,
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
    )
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_long_path_converges_fast(spark):
    # a 64-node path has diameter 63; pointer jumping must close it well
    # inside MAX_ITERATIONS (O(log d) rounds)
    edges = [(i, i + 1) for i in range(63)]
    got = _components(spark, edges)
    assert got == {(i, 0) for i in range(64)}


def test_bridged_clusters(spark):
    # two cliques joined by one bridge edge collapse to one component
    edges = (
        [(a, b) for a in range(3) for b in range(a + 1, 3)]
        + [(a, b) for a in range(100, 103) for b in range(a + 1, 103)]
        + [(2, 100)]
    )
    got = _components(spark, edges)
    assert {rep for _, rep in got} == {0}
    assert len(got) == 6


def test_iteration_cap_is_generous():
    assert 2**MAX_ITERATIONS > 10**9


def test_query_registration():
    import __spark_entry__ as e

    assert "dedup_components" in e.queries()
    assert "dedup_components" in e.oracle_sql()


def test_incremental_components_no_cap_crossing_bucket_at_sf001(spark):
    """dedup_components_incremental equals the full recompute only while
    no LSH band bucket is under MAX_BUCKET_DOCS over the old-only corpus
    but over it on the union corpus: the stored labels would keep that
    bucket's edges and the recompute would drop them. Pin that no such
    bucket exists at the oracle-gated scale, so a generator change that
    creates one names the bucket here instead of failing the oracle
    with a bare inequality."""
    import os

    from pyspark.sql import functions as F
    from test_cogroup_twin import SF_DIR

    from pdf_extractor_spark.operators import load
    from pdf_extractor_spark.operators.dedup import (
        MAX_BUCKET_DOCS,
        _lsh_band_buckets,
        _minhash_frame,
    )

    # the oracle sweep's scale, next to the tests' default sf0.001 data
    sf_dir = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
    docs = load(spark, sf_dir, "documents")
    # the query's 80/20 split
    split = docs.agg(
        F.expr("(max(doc_id) * 4) div 5").alias("s")
    ).first()["s"]
    sigs = _minhash_frame(docs).localCheckpoint(eager=True)

    def sizes(frame, name):
        return _lsh_band_buckets(frame).select(
            "band", "h", F.size("ids").alias(name)
        )

    crossing = (
        sizes(sigs.where(F.col("doc_id") < split), "n_old")
        .join(sizes(sigs, "n_union"), ["band", "h"])
        .where(
            (F.col("n_old") <= MAX_BUCKET_DOCS)
            & (F.col("n_union") > MAX_BUCKET_DOCS)
        )
        .collect()
    )
    assert not crossing, (
        f"LSH band buckets cross MAX_BUCKET_DOCS={MAX_BUCKET_DOCS} between "
        "the old-only and union corpora (band, hash, old size, union "
        f"size): {[tuple(r) for r in crossing]}"
    )
