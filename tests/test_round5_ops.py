"""Round-5 invariants: the composed shingle pair suite is pinned
row-identical to its standalone queries, and the IVF-PQ index lifecycle
(build -> committed snapshot -> serve) matches the inline-fit query and
honors the fsio commit protocol."""
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from pdf_extractor_spark.operators.ann_index import (
    ANN_IDX_PREFIX,
    ann_index_build,
    ann_index_load,
    ann_index_serve,
)
from pdf_extractor_spark.operators.dedup import (
    q_containment_pairs,
    q_dedup_ngram_jaccard,
    shingle_pair_suite_parts,
)
from pdf_extractor_spark.operators.dedup import minhash_lsh_pairs
from pdf_extractor_spark.operators.pq import q_ann_ivfpq_recall
from pdf_extractor_spark.operators.similarity_search import (
    _emb,
    _quantized_vecs,
)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def _same_rows(a, b) -> bool:
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_shingle_pair_suite_parts_pinned(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    spark.catalog.clearCache()
    parts = shingle_pair_suite_parts(docs)
    # the shared pair-counts frame is checkpointed, not left in the cache
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert _same_rows(parts["jaccard"], q_dedup_ngram_jaccard(spark, SF_DIR))
    assert _same_rows(parts["pred"], minhash_lsh_pairs(docs))
    assert _same_rows(
        parts["containment"], q_containment_pairs(spark, SF_DIR)
    )
    # the scored frame is the jaccard frame plus its integer evidence
    assert _same_rows(
        parts["jaccard_scored"].select("doc_a", "doc_b", "jaccard"),
        parts["jaccard"],
    )


def test_shingle_pair_suite_drops_all_cuts_observed(spark):
    """The composed path's single Observation accounts for cap drops in
    ALL THREE cuts (Jaccard, LSH-band, containment) — exactly the sum of
    the standalone queries' own observed drops on the same corpus. 60
    identical docs overflow the MAX_BUCKET_DOCS=50 cap in every cut, so
    a silent cut would make the totals diverge."""
    from pyspark.sql.observation import Observation

    from pdf_extractor_spark.operators import dedup as D

    hot = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon zeta").alias("text"),
    )
    # a small non-overflowing near-dup pair keeps every output non-empty
    # (a fully-empty observed plan is pruned to an empty relation under
    # AQE and its metrics are never delivered — pathological-corpus
    # artifact, not an operator property)
    pair = spark.createDataFrame(
        [(100, "one two three four five six seven"),
         (101, "one two three four five six seven")],
        "doc_id long, text string",
    )
    docs = hot.unionByName(pair)
    suite_obs = Observation()
    # parts() materializes the observed pair-counts frame (an eager
    # localCheckpoint) at construction, so metrics are collected here
    D.shingle_pair_suite_parts(docs, suite_obs)
    got = suite_obs.get

    def drops(build):
        o = Observation()
        build(o).count()
        return o.get

    jac = drops(lambda o: D.ngram_jaccard_pairs(docs, o))
    lsh = drops(lambda o: D.minhash_lsh_pairs(docs, o))
    cont = drops(
        lambda o: D._containment_select(
            D._shared_counts(
                D._shingle_frame(
                    docs.unionByName(D._containment_planted(docs))
                ),
                o,
            )
        )
    )
    for k in ("n_buckets_dropped", "n_ids_dropped"):
        standalone_sum = jac[k] + lsh[k] + cont[k]
        assert got[k] == standalone_sum
        assert got[k] > 0

    # the registered query's fused plan (drop-marker rows, observation on
    # the single consumed frame) must account for the same drops AND its
    # 9 summary values must equal the combine-of-parts on this drop-heavy
    # corpus (cross-cut asymmetry: jac/lsh fully capped, cont partially)
    parts = D.shingle_pair_suite_parts(docs)
    q_obs = Observation()
    srow = D.shingle_pair_suite_summary(docs, q_obs).collect()[0]
    q_got = q_obs.get
    for k in ("n_buckets_dropped", "n_ids_dropped"):
        assert q_got[k] == got[k]
    sc = parts["jaccard_scored"].collect()
    pred_pairs = {
        (r["doc_a"], r["doc_b"]) for r in parts["pred"].collect()
    }
    cont_rows = parts["containment"].collect()
    truth = [r for r in sc if r["jaccard"] >= 0.5]
    assert srow["n_jaccard_pairs"] == len(sc)
    assert srow["sum_jac_ids"] == sum(r["doc_a"] + r["doc_b"] for r in sc)
    assert srow["sum_jac_shared"] == sum(r["shared"] for r in sc)
    assert srow["n_true"] == len(truth)
    assert srow["n_pred"] == len(pred_pairs)
    assert srow["n_hits"] == sum(
        1 for r in truth if (r["doc_a"], r["doc_b"]) in pred_pairs
    )
    assert srow["n_cont_pairs"] == len(cont_rows)
    assert srow["sum_cont_ids"] == sum(
        r["doc_a"] + r["doc_b"] for r in cont_rows
    )
    assert srow["sum_cont_permille"] == sum(
        r["cont_a_permille"] + r["cont_b_permille"] for r in cont_rows
    )


def test_shingle_pair_suite_drops_survive_all_dropped_corpus(spark):
    """A corpus where EVERY bucket overflows the cap (60 identical docs,
    nothing else) leaves zero pairs anywhere — the shape where AQE's
    empty-relation propagation used to prune the observed subtree and
    Observation.get raised. The marker rows keep the stream alive: both
    the parts path and the fused summary must still deliver the drop
    metrics, and the summary row is all zeros."""
    from pyspark.sql.observation import Observation

    from pdf_extractor_spark.operators import dedup as D

    docs = spark.range(60).select(
        F.col("id").alias("doc_id"),
        F.lit("alpha beta gamma delta epsilon zeta").alias("text"),
    )
    p_obs = Observation()
    parts = D.shingle_pair_suite_parts(docs, p_obs)
    p_got = p_obs.get
    assert p_got["n_buckets_dropped"] > 0 and p_got["n_ids_dropped"] > 0
    assert parts["jaccard"].count() == 0
    assert parts["pred"].count() == 0
    assert parts["containment"].count() == 0
    s_obs = Observation()
    srow = D.shingle_pair_suite_summary(docs, s_obs).collect()[0]
    s_got = s_obs.get
    for k in ("n_buckets_dropped", "n_ids_dropped"):
        assert s_got[k] == p_got[k]
    assert all(v == 0 for v in srow.asDict().values())


def test_ann_index_roundtrip_matches_inline_fit(spark):
    ev = _quantized_vecs(_emb(spark, SF_DIR)).localCheckpoint(eager=True)
    root = tempfile.mkdtemp(prefix="ann_idx_test_")
    try:
        v0 = ann_index_build(ev, root)
        assert v0 == 0
        snap = ann_index_load(spark, root).localCheckpoint(eager=True)
        served = ann_index_serve(ev, snap)
        inline = q_ann_ivfpq_recall(spark, SF_DIR)
        assert _same_rows(served, inline)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_ann_index_versioning_and_crash_invisibility(spark):
    ev = _quantized_vecs(_emb(spark, SF_DIR)).localCheckpoint(eager=True)
    root = tempfile.mkdtemp(prefix="ann_idx_test_")
    try:
        v0 = ann_index_build(ev, root)
        # materialize: v0's files are pruned by the second build below
        snap0 = ann_index_load(spark, root).localCheckpoint(eager=True)
        n0 = snap0.count()
        # a crashed successor attempt (no _SUCCESS) must stay invisible
        debris = f"{root}/{ANN_IDX_PREFIX}{v0 + 1}"
        os.makedirs(debris, exist_ok=True)
        with open(f"{debris}/part-00000.parquet", "wb") as fh:
            fh.write(b"torn")
        assert ann_index_load(spark, root).count() == n0
        # the next build replaces the debris version and prunes v0
        v1 = ann_index_build(ev, root)
        assert v1 == v0 + 1
        assert not os.path.exists(f"{root}/{ANN_IDX_PREFIX}{v0}")
        snap1 = ann_index_load(spark, root)
        assert _same_rows(
            snap0.select(sorted(snap0.columns)),
            snap1.select(sorted(snap1.columns)),
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_repetition_keep_filter_after_materialize(spark):
    """The documented consumer contract: filtering the materialized signal
    frame equals filtering the lazy one (values, not plan, are the
    contract; the lazy form is the pushdown-blowup hazard the curate path
    avoids)."""
    from pdf_extractor_spark.operators.text_analysis import (
        q_repetition_filters,
    )

    sig = q_repetition_filters(spark, SF_DIR)
    lazy_kept = {r["doc_id"] for r in sig.where("keep").collect()}
    mat_kept = {
        r["doc_id"]
        for r in sig.localCheckpoint(eager=True).where("keep").collect()
    }
    assert lazy_kept == mat_kept and lazy_kept


def test_incremental_components_merge_cases(spark):
    """The O(new) cluster fold on crafted edges: a bridge doc merges two
    committed clusters under the global-min rep; an intra-cluster edge is
    a no-op; an empty committed state degenerates to plain
    connected_components."""
    from pdf_extractor_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    lab = spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5), (6, 5)], "node long, rep long"
    )

    def edges(rows):
        return spark.createDataFrame(rows, "doc_a long, doc_b long")

    # bridge: new doc 7 touches both clusters -> one cluster, rep = 1
    got = {
        (r["node"], r["rep"])
        for r in incremental_components(
            lab, edges([(7, 2), (7, 6)])
        ).collect()
    }
    assert got == {(1, 1), (2, 1), (5, 1), (6, 1), (7, 1)}
    # intra-cluster edge: labels unchanged
    got = {
        (r["node"], r["rep"])
        for r in incremental_components(lab, edges([(2, 1)])).collect()
    }
    assert got == {(1, 1), (2, 1), (5, 5), (6, 5)}
    # old doc first touched by this batch (9 has no committed label)
    got = {
        (r["node"], r["rep"])
        for r in incremental_components(lab, edges([(9, 5)])).collect()
    }
    assert got == {(1, 1), (2, 1), (5, 5), (6, 5), (9, 5)}
    # empty committed state == plain connected_components
    empty = lab.limit(0)
    e = edges([(3, 8), (8, 4)])
    got = {
        (r["node"], r["rep"])
        for r in incremental_components(empty, e).collect()
    }
    want = {
        (r["node"], r["rep"]) for r in connected_components(e).collect()
    }
    assert got == want == {(3, 3), (4, 3), (8, 3)}


def test_components_store_chain(spark):
    """The fsio-versioned label store: two batches fold through committed
    snapshots and the final read equals a from-scratch clustering of the
    union edge set; a torn successor attempt stays invisible."""
    from pdf_extractor_spark.operators.graph import (
        CC_LAB_PREFIX,
        components_store_load,
        components_store_update,
        connected_components,
    )

    root = tempfile.mkdtemp(prefix="cc_lab_test_")
    try:
        e1 = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
        )
        e2 = spark.createDataFrame(
            [(30, 3), (30, 11)], "doc_a long, doc_b long"
        )
        assert components_store_load(spark, root).count() == 0
        assert components_store_update(e1, root) == 0
        # torn successor attempt (no _SUCCESS) must stay invisible
        debris = f"{root}/{CC_LAB_PREFIX}1"
        os.makedirs(debris, exist_ok=True)
        with open(f"{debris}/part-0.parquet", "wb") as fh:
            fh.write(b"torn")
        assert _same_rows(
            components_store_load(spark, root), connected_components(e1)
        )
        assert components_store_update(e2, root) == 1
        assert _same_rows(
            components_store_load(spark, root),
            connected_components(e1.unionByName(e2)),
        )
        assert not os.path.exists(f"{root}/{CC_LAB_PREFIX}0")
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_incremental_components_matches_batch(spark):
    """The registered incremental query is value-identical to the batch
    components query over the full corpus (the one-shot-recompute
    guarantee its oracle enforces at sf0.01)."""
    from pdf_extractor_spark.operators.graph import (
        q_dedup_components,
        q_dedup_components_incremental,
    )

    assert _same_rows(
        q_dedup_components_incremental(spark, SF_DIR),
        q_dedup_components(spark, SF_DIR),
    )


def test_cluster_holdout_split_leakage_free(spark):
    """Every verified near-dup edge has both endpoints in the SAME split
    (leakage-free by construction), and singleton docs get exactly the
    per-doc q_holdout_split assignment."""
    from pdf_extractor_spark.operators.graph import (
        q_cluster_holdout_split,
        q_dedup_components,
    )
    from pdf_extractor_spark.operators.text_ops import holdout_split_expr

    sf = SF_DIR
    assign = q_cluster_holdout_split(spark, sf).localCheckpoint(eager=True)
    labels = q_dedup_components(spark, sf)
    # all docs of one cluster share one split: per-rep distinct splits == 1
    per_cluster = (
        labels.join(assign, "doc_id")
        .groupBy("cluster_rep")
        .agg(F.countDistinct("split").alias("n_splits"))
    )
    assert per_cluster.where("n_splits > 1").count() == 0
    assert per_cluster.count() > 0  # fixture actually has clusters
    # singletons follow the per-doc md5 rule exactly
    singles = assign.where(F.col("cluster_size") == 1)
    mismatch = singles.where(
        F.col("split") != holdout_split_expr(F.col("doc_id"))
    )
    assert mismatch.count() == 0 and singles.count() > 0
