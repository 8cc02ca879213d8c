"""Chained fault-injection drive for the incremental/stateful ops.

One spark-submit job that crash-injects at every documented two-phase
commit window and proves the fsio guarantees END-TO-END (not per-unit):

  A. incremental_lsh_pairs — debris of a crashed pairs write is
     overwritten; a crash BETWEEN the pairs commit and the store append
     replays to the identical committed output and completes the append;
     a replay after full commit changes nothing.
  B. packing_stream — a crash between a batch's packed-output write and
     its HWM mark replays byte-identically; a crash mid-prune leaves
     stale marks the max-committed read rule ignores; the concatenation
     of all micro-batch outputs equals a clean no-fault run.
  C. cdc_stream — a crash between the change write and the state
     snapshot replays the batch against the OLD state and republishes
     identical changes + state.
  D. manifest resume — a crash after the bucket output commit but before
     the manifest append reprocesses those buckets idempotently
     (dynamic partition overwrite), landing on the clean-run output.
  E. ann_index — a crash at the first snapshot write leaves the store
     unreadable and the rebuild overwrites the debris; a crash mid-prune
     leaves two committed versions, the reader takes the newer one, and
     every serve equals the no-fault serve.
  F. components label store — a crash at the first snapshot write reads
     as the empty first-batch state; a crash mid-prune leaves two
     committed versions whose newer one equals the from-scratch union
     clustering; the next update prunes to one version.

Crashes are injected as exceptions raised at the exact commit-window
boundary (the on-disk state an OS kill would leave), caught by the
driver, then retried — so every window's replay is exercised in one job.

Usage: spark-submit --py-files pkg.zip scripts/fault_drive.py
The stdout log is the checked-in artifact (BENCH/r04_fault_drive.log).
"""
from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.readwriter import DataFrameWriter  # noqa: E402

from pdf_extractor_spark.session import get_spark  # noqa: E402
from pdf_extractor_spark.operators.dedup import (  # noqa: E402
    incremental_lsh_pairs,
)
from pdf_extractor_spark.plans import fsio, manifest  # noqa: E402
from pdf_extractor_spark.streaming import cdc_stream, packing_stream  # noqa: E402

ROOT = "/tmp/fault_drive"
CRASH = RuntimeError  # marker type for injected crashes


def rows_of(df):
    return sorted(tuple(r) for r in df.collect())


_orig_parquet = DataFrameWriter.parquet
_arm = {"path": None}


def _patched_parquet(self, path, *a, **kw):
    if _arm["path"] is not None and path == _arm["path"]:
        _arm["path"] = None
        raise CRASH(f"injected crash before write to {path}")
    return _orig_parquet(self, path, *a, **kw)


DataFrameWriter.parquet = _patched_parquet


def expect_crash(fn, *args, **kw):
    try:
        fn(*args, **kw)
    except CRASH as e:
        print(f"  [injected] {e}")
        return
    raise AssertionError("expected injected crash did not fire")


def main() -> None:
    shutil.rmtree(ROOT, ignore_errors=True)
    spark = get_spark(app_name="fault-drive", master="local[8]",
                      shuffle_partitions=8)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    b1 = docs.where("doc_id % 3 = 0").select("doc_id", "text")
    b2 = docs.where("doc_id % 3 = 1").select("doc_id", "text")
    b3 = docs.where("doc_id % 3 = 2").select("doc_id", "text")

    # ---------------- A. incremental_lsh_pairs ----------------
    print("A. incremental_lsh_pairs two-phase windows")
    store, clean_store = f"{ROOT}/sig_store", f"{ROOT}/sig_store_clean"
    out1, out2, out3 = (f"{ROOT}/pairs/b{i}" for i in (1, 2, 3))
    incremental_lsh_pairs(b1, store, pairs_output=out1)
    assert fsio.committed(spark, out1)
    print("  batch1 committed")

    # A2: debris of a crashed pairs write (no _SUCCESS) must be overwritten
    os.makedirs(out2)
    with open(f"{out2}/part-00000-debris.parquet", "w") as fh:
        fh.write("not parquet")
    assert not fsio.committed(spark, out2)
    r2 = rows_of(incremental_lsh_pairs(b2, store, pairs_output=out2))
    assert fsio.committed(spark, out2)
    assert not os.path.exists(f"{out2}/part-00000-debris.parquet"), \
        "crashed-attempt debris must be removed by the committed overwrite"
    print(f"  batch2: crashed-attempt debris overwritten, {len(r2)} pairs committed")

    # A3: crash BETWEEN pairs commit and store append
    n_store_before = spark.read.parquet(store).count()
    _arm["path"] = store
    expect_crash(incremental_lsh_pairs, b3, store, pairs_output=out3)
    assert fsio.committed(spark, out3), "pairs must be durable before the append"
    assert spark.read.parquet(store).count() == n_store_before, \
        "store must NOT be extended before the crash point"
    committed_pairs = rows_of(spark.read.parquet(out3))
    r3 = rows_of(incremental_lsh_pairs(b3, store, pairs_output=out3))  # retry
    assert r3 == committed_pairs, "retry must return the committed output as-is"
    assert spark.read.parquet(store).count() > n_store_before
    print(f"  batch3: pairs committed ({len(r3)}), store append crashed, "
          f"retry replay-identical + append completed")

    # A4: replay after full commit is a no-op
    n_store = spark.read.parquet(store).count()
    r3b = rows_of(incremental_lsh_pairs(b3, store, pairs_output=out3))
    assert r3b == committed_pairs and spark.read.parquet(store).count() == n_store
    print("  batch3 replay after commit: output unchanged, store unchanged")

    # clean-room: same three batches, no faults -> identical pair sets
    c1 = rows_of(incremental_lsh_pairs(b1, clean_store))
    c2 = rows_of(incremental_lsh_pairs(b2, clean_store))
    c3 = rows_of(incremental_lsh_pairs(b3, clean_store))
    faulted = (rows_of(spark.read.parquet(out1)), r2, r3)
    assert (c1, c2, c3) == faulted, "faulted run != clean run"
    print("  ALL batches replay-identical to the no-fault run")

    # ---------------- B. packing_stream ----------------
    print("B. packing_stream micro-batch windows")
    hwm, outp = f"{ROOT}/pack_hwm", f"{ROOT}/pack_out"
    hwm_c, outp_c = f"{ROOT}/pack_hwm_clean", f"{ROOT}/pack_out_clean"
    packing_stream.pack_batch(b1, 0, hwm, outp)

    # crash after packed output, before the HWM mark
    _arm["path"] = f"{hwm}/b=1"
    expect_crash(packing_stream.pack_batch, b2, 1, hwm, outp)
    assert fsio.committed_versions(spark, hwm, "b=") == [0], \
        "mark must still be at batch 0"
    out_after_crash = rows_of(spark.read.parquet(f"{outp}/batch_id=1"))
    packing_stream.pack_batch(b2, 1, hwm, outp)  # retry
    assert rows_of(spark.read.parquet(f"{outp}/batch_id=1")) == out_after_crash
    assert fsio.committed_versions(spark, hwm, "b=") == [1]
    print("  batch1: output-then-crash replays byte-identically, mark advanced")

    # crash mid-prune: mark committed, stale marks left behind
    orig_prune = fsio.prune_versions_below

    def crash_prune(*a, **kw):
        fsio.prune_versions_below = orig_prune
        raise CRASH("injected crash mid-prune (new mark already committed)")

    fsio.prune_versions_below = crash_prune
    expect_crash(packing_stream.pack_batch, b3, 2, hwm, outp)
    vs = fsio.committed_versions(spark, hwm, "b=")
    assert vs[-1] == 2 and len(vs) >= 2, f"stale marks expected, got {vs}"
    h, last = packing_stream._read_hwm(spark, hwm)
    assert last == 2, "max-committed read rule must ignore stale marks"
    packing_stream.pack_batch(b3, 2, hwm, outp)  # replay after commit: no-op
    print(f"  batch2: mid-prune crash left marks {vs}, reader takes b=2; "
          f"replay after commit is a no-op")

    # clean-room packing of the same batches -> identical outputs
    for i, b in enumerate((b1, b2, b3)):
        packing_stream.pack_batch(b, i, hwm_c, outp_c)
    assert rows_of(spark.read.parquet(outp)) == rows_of(spark.read.parquet(outp_c))
    print("  packed corpus identical to the no-fault run")

    # ---------------- C. cdc_stream ----------------
    print("C. cdc_stream change/state window")
    cdc, cdc_c = f"{ROOT}/cdc", f"{ROOT}/cdc_clean"
    ups0 = b1.withColumn("seq", F.lit(0))
    ups1 = (b2.limit(50).withColumn("seq", F.lit(1))
            .unionByName(b1.limit(20).select("doc_id")
                         .withColumn("text", F.lit(None).cast("string"))
                         .withColumn("seq", F.lit(1))))
    cdc_stream.apply_batch(ups0, 0, cdc)
    # crash between the change write and the state snapshot
    _arm["path"] = f"{cdc}/v=1"
    expect_crash(cdc_stream.apply_batch, ups1, 1, cdc)
    assert fsio.committed_versions(spark, cdc, "v=") == [0], \
        "state must still be at v=0"
    chg_after_crash = rows_of(spark.read.parquet(f"{cdc}/chg=1"))
    cdc_stream.apply_batch(ups1, 1, cdc)  # retry against the OLD state
    assert rows_of(spark.read.parquet(f"{cdc}/chg=1")) == chg_after_crash
    assert fsio.committed_versions(spark, cdc, "v=") == [1]
    cdc_stream.apply_batch(ups1, 1, cdc)  # replay after commit: no-op
    cdc_stream.apply_batch(ups0, 0, cdc_c)
    cdc_stream.apply_batch(ups1, 1, cdc_c)
    assert rows_of(spark.read.parquet(f"{cdc}/v=1")) == \
        rows_of(spark.read.parquet(f"{cdc_c}/v=1"))
    assert chg_after_crash == rows_of(spark.read.parquet(f"{cdc_c}/chg=1"))
    print("  state-write crash replays to identical changes + state")

    # ---------------- D. manifest resume ----------------
    print("D. manifest resume window")
    from pdf_extractor_spark.sources.transcripts import transcripts_df
    t = transcripts_df(spark, 30, seed=7)
    outm, man = f"{ROOT}/extract_out", f"{ROOT}/extract_manifest"
    outm_c, man_c = f"{ROOT}/extract_out_clean", f"{ROOT}/extract_manifest_clean"
    # crash after the bucket outputs commit, before the manifest append
    orig_record = manifest.record_metrics

    def crash_record(*a, **kw):
        manifest.record_metrics = orig_record
        raise CRASH("injected crash before manifest append (output committed)")

    manifest.record_metrics = crash_record
    expect_crash(manifest.run_resumable, spark, t, outm, man, "run1",
                 n_buckets=16)
    assert not fsio.exists(spark, man), "manifest must be absent pre-crash"
    n_retry = manifest.run_resumable(spark, t, outm, man, "run2", n_buckets=16)
    assert n_retry > 0, "retry must reprocess the unrecorded buckets"
    n_third = manifest.run_resumable(spark, t, outm, man, "run3", n_buckets=16)
    assert n_third == 0, "after the manifest lands, resume must be a no-op"
    manifest.run_resumable(spark, t, outm_c, man_c, "clean", n_buckets=16)
    got = rows_of(spark.read.parquet(outm).drop("bucket"))
    want = rows_of(spark.read.parquet(outm_c).drop("bucket"))
    assert got == want, "resumed output != clean-run output"
    print(f"  crash-before-manifest: retry reprocessed {n_retry} rows "
          f"idempotently; third run = 0; output == clean run")

    # ---------------- E. ann_index snapshot commit windows ----------------
    print("E. ann_index snapshot commit windows")
    from pdf_extractor_spark.operators.ann_index import (
        ANN_IDX_PREFIX,
        ann_index_build,
        ann_index_load,
        ann_index_serve,
    )
    from pdf_extractor_spark.operators.similarity_search import (
        _emb,
        _quantized_vecs,
    )

    ev = _quantized_vecs(
        _emb(spark, "/root/testdata/sf0.001")
    ).localCheckpoint(eager=True)
    idx, idx_c = f"{ROOT}/ann_idx", f"{ROOT}/ann_idx_clean"

    # E1: crash AT the snapshot write -> nothing committed; a reader must
    # refuse the store; the rebuild reuses the version and overwrites the
    # crashed attempt's debris
    _arm["path"] = f"{idx}/{ANN_IDX_PREFIX}0"
    expect_crash(ann_index_build, ev, idx)
    os.makedirs(f"{idx}/{ANN_IDX_PREFIX}0", exist_ok=True)
    debris_part = f"{idx}/{ANN_IDX_PREFIX}0/part-debris.parquet"
    with open(debris_part, "w") as fh:
        fh.write("torn")
    assert fsio.committed_versions(spark, idx, ANN_IDX_PREFIX) == []
    try:
        ann_index_load(spark, idx)
        raise AssertionError("load must refuse an uncommitted store")
    except ValueError:
        pass
    v0 = ann_index_build(ev, idx)
    assert v0 == 0
    assert fsio.committed_versions(spark, idx, ANN_IDX_PREFIX) == [0]
    assert not os.path.exists(debris_part), \
        "crashed-attempt debris must be gone after the committed rebuild"
    served0 = rows_of(
        ann_index_serve(
            ev, ann_index_load(spark, idx).localCheckpoint(eager=True)
        )
    )
    print("  write-crash: store stayed unreadable, rebuild overwrote "
          f"debris, serve returned {len(served0)} query rows")

    # E2: crash mid-prune after the successor commits — both versions
    # committed, the max-committed read rule takes the newer one
    orig_idx_prune = fsio.prune_versions_below

    def crash_idx_prune(*a, **kw):
        fsio.prune_versions_below = orig_idx_prune
        raise CRASH("injected crash mid-prune (v1 already committed)")

    fsio.prune_versions_below = crash_idx_prune
    expect_crash(ann_index_build, ev, idx)
    vs = fsio.committed_versions(spark, idx, ANN_IDX_PREFIX)
    assert vs == [0, 1], f"expected both versions committed, got {vs}"
    served1 = rows_of(
        ann_index_serve(
            ev, ann_index_load(spark, idx).localCheckpoint(eager=True)
        )
    )

    # E3: clean-room build + serve must match every faulted serve; the
    # next build prunes everything below its new version
    ann_index_build(ev, idx_c)
    served_c = rows_of(
        ann_index_serve(
            ev, ann_index_load(spark, idx_c).localCheckpoint(eager=True)
        )
    )
    assert served0 == served1 == served_c, \
        "faulted-store serve != no-fault serve"
    v2 = ann_index_build(ev, idx)
    assert v2 == 2
    assert fsio.committed_versions(spark, idx, ANN_IDX_PREFIX) == [2]
    print("  mid-prune crash left [0, 1]; reader took v1; serve identical "
          "to the no-fault run; next build pruned to [2]")

    # ---------------- F. components label-store commit windows ----------------
    print("F. components label-store commit windows")
    from pdf_extractor_spark.operators.graph import (
        CC_LAB_PREFIX,
        components_store_load,
        components_store_update,
        connected_components,
    )

    lab_store = f"{ROOT}/cc_labels"
    e1 = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    ).localCheckpoint(eager=True)
    e2 = spark.createDataFrame(
        [(30, 3), (30, 11), (40, 41)], "doc_a long, doc_b long"
    ).localCheckpoint(eager=True)

    # F1: crash AT the first snapshot write — store stays uncommitted,
    # a reader sees the legitimate-first-batch EMPTY state (crashed
    # debris invisible), and the retry reuses v0 and overwrites it
    _arm["path"] = f"{lab_store}/{CC_LAB_PREFIX}0"
    expect_crash(components_store_update, e1, lab_store)
    os.makedirs(f"{lab_store}/{CC_LAB_PREFIX}0", exist_ok=True)
    lab_debris = f"{lab_store}/{CC_LAB_PREFIX}0/part-debris.parquet"
    with open(lab_debris, "w") as fh:
        fh.write("torn")
    assert fsio.committed_versions(spark, lab_store, CC_LAB_PREFIX) == []
    assert components_store_load(spark, lab_store).count() == 0, \
        "uncommitted store must read as the empty first-batch state"
    v0 = components_store_update(e1, lab_store)
    assert v0 == 0
    assert not os.path.exists(lab_debris), \
        "crashed-attempt debris must be gone after the committed rebuild"
    assert rows_of(components_store_load(spark, lab_store)) == rows_of(
        connected_components(e1)
    )
    print("  write-crash: empty-state read, retry committed v0, labels "
          "== from-scratch clustering of batch 1")

    # F2: batch 2 (bridge doc merges both clusters) with a crash
    # mid-prune after v1 commits — both versions on disk, the
    # max-committed read rule takes v1, the next update prunes
    orig_lab_prune = fsio.prune_versions_below

    def crash_lab_prune(*a, **kw):
        fsio.prune_versions_below = orig_lab_prune
        raise CRASH("injected crash mid-prune (v1 already committed)")

    fsio.prune_versions_below = crash_lab_prune
    expect_crash(components_store_update, e2, lab_store)
    assert fsio.committed_versions(
        spark, lab_store, CC_LAB_PREFIX
    ) == [0, 1]
    folded = rows_of(components_store_load(spark, lab_store))
    clean = rows_of(
        connected_components(e1.unionByName(e2))
    )
    assert folded == clean, \
        "folded labels must equal the from-scratch union clustering"
    v2 = components_store_update(
        spark.createDataFrame([(50, 51)], "doc_a long, doc_b long"),
        lab_store,
    )
    assert v2 == 2
    assert fsio.committed_versions(
        spark, lab_store, CC_LAB_PREFIX
    ) == [2]
    print("  mid-prune crash left [0, 1]; reader took v1 (== union "
          "recompute); next update pruned to [2]")

    print("FAULT DRIVE PASSED: every injected crash window replayed "
          "to outputs identical to the no-fault run")
    spark.stop()


if __name__ == "__main__":
    main()
