"""Resumable extraction via the per-bucket lineage manifest: a rerun must
process zero rows and leave the output byte-identical; a partially
completed run must re-run only the missing buckets."""
import pyspark.sql.functions as F
import pytest

from pdf_extractor_spark.plans import manifest
from pdf_extractor_spark.plans.manifest import (
    completed_buckets,
    pending_work,
    run_resumable,
    with_bucket,
)
from pdf_extractor_spark.sources.transcripts import transcripts_df


def _snapshot(spark, out):
    return sorted(
        (r["conv_id"], r["turn_idx"])
        for r in spark.read.parquet(out).select("conv_id", "turn_idx").collect()
    )


def test_second_run_processes_nothing(spark, tmp_path):
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    t = transcripts_df(spark, 12, seed=3)
    n1 = run_resumable(spark, t, out, man, run_id="r1", n_buckets=8)
    assert n1 > 0
    snap1 = _snapshot(spark, out)
    n2 = run_resumable(spark, t, out, man, run_id="r2", n_buckets=8)
    assert n2 == 0
    assert _snapshot(spark, out) == snap1


def test_partial_failure_reruns_only_missing_buckets(spark, tmp_path):
    out = str(tmp_path / "out")
    man = str(tmp_path / "manifest")
    t = transcripts_df(spark, 12, seed=3)
    bucketed = with_bucket(t, 8)
    some = [
        r["bucket"]
        for r in bucketed.select("bucket").distinct().limit(3).collect()
    ]
    # simulate a run that died after completing `some` buckets
    first = bucketed.where(F.col("bucket").isin(some)).drop("bucket")
    n1 = run_resumable(spark, first, out, man, run_id="r1", n_buckets=8)
    assert n1 > 0
    done = {r["bucket"] for r in completed_buckets(spark, man).collect()}
    assert done == set(some)
    # the resume sees only the other buckets as pending
    pend = {
        r["bucket"]
        for r in pending_work(spark, t, man, 8).select("bucket").distinct().collect()
    }
    assert pend.isdisjoint(done) and pend
    n2 = run_resumable(spark, t, out, man, run_id="r2", n_buckets=8)
    assert 0 < n2 < n1 + n2
    # full corpus present exactly once
    total = t.count()
    assert spark.read.parquet(out).count() == total


def test_empty_manifest_dir_reads_as_no_manifest(spark, tmp_path):
    """A crash between mkdir and the first append's commit leaves a
    manifest directory without _SUCCESS — resume must treat it as "no
    manifest yet" (reprocess everything idempotently), never fail the
    parquet scan (round-5 drive finding)."""
    out = str(tmp_path / "out")
    man = tmp_path / "manifest"
    man.mkdir()  # exists, empty, no _SUCCESS
    t = transcripts_df(spark, 6, seed=3)
    assert completed_buckets(spark, str(man)).count() == 0
    n1 = run_resumable(spark, t, out, str(man), run_id="r1", n_buckets=8)
    assert n1 == t.count()
    # the successful append committed the manifest: second run is a no-op
    n2 = run_resumable(spark, t, out, str(man), run_id="r2", n_buckets=8)
    assert n2 == 0


def test_failed_run_releases_its_cache(spark, tmp_path, monkeypatch):
    """A run whose manifest append raises must not leave its extraction
    cached: a retry in the same session would otherwise reuse the failed
    run's blocks, and a long-lived session would keep every failed run's
    extraction in executor memory."""

    def boom(*args, **kwargs):
        raise RuntimeError("manifest append failed")

    monkeypatch.setattr(manifest, "record_metrics", boom)
    spark.catalog.clearCache()
    t = transcripts_df(spark, 6, seed=3)
    with pytest.raises(RuntimeError, match="manifest append failed"):
        run_resumable(
            spark, t, str(tmp_path / "out"), str(tmp_path / "manifest"),
            run_id="r1", n_buckets=8,
        )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
