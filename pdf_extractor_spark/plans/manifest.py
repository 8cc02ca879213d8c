"""Per-partition lineage/metrics manifest for idempotent resume.

The reference's unit of work is one HTTP request with cleanup-in-finally
(extraction.py:88-90); at 10^12-turn scale the equivalent is a manifest table:
each completed work unit (a conv_id bucket) records its metrics, and a resumed
run anti-joins inputs against completed buckets, so partial failures re-run
only the missing slices and output writes stay idempotent
(partitionOverwriteMode=dynamic on the bucket column).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


from .fsio import committed as _fs_committed  # Hadoop FS, never driver-local


BUCKET_COL = "bucket"
DEFAULT_N_BUCKETS = 256


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_N_BUCKETS) -> DataFrame:
    """Deterministic work-unit key: hash-bucket of conv_id. Same conv always
    lands in the same bucket, so a bucket is a complete, idempotent unit."""
    return df.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def completed_buckets(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Buckets already recorded as done (empty frame when no manifest yet).

    Gates on ``_SUCCESS`` (fsio.committed), not bare directory existence:
    a crash between mkdir and the first append's commit leaves an empty or
    staging-only directory, which must read as "no manifest" (the resumed
    run reprocesses everything idempotently) rather than fail the scan —
    any successful append restores ``_SUCCESS``."""
    if not _fs_committed(spark, manifest_path):
        return spark.createDataFrame([], f"{BUCKET_COL} int")
    return (
        spark.read.parquet(manifest_path)
        .where(F.col("status") == "done")
        .select(BUCKET_COL)
        .distinct()
    )


def pending_work(
    spark: SparkSession,
    inputs: DataFrame,
    manifest_path: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> DataFrame:
    """Resume filter: anti-join bucketed inputs against completed buckets.
    The completed set is tiny (<= n_buckets rows) -> broadcast anti-join;
    with no committed manifest every input is pending and no join is
    planned."""
    bucketed = with_bucket(inputs, n_buckets)
    if not _fs_committed(spark, manifest_path):
        return bucketed
    done = completed_buckets(spark, manifest_path)
    return bucketed.join(F.broadcast(done), BUCKET_COL, "left_anti")


def record_metrics(
    results: DataFrame,
    manifest_path: str,
    run_id: str,
) -> None:
    """Append per-bucket lineage metrics (pages parsed, problems, repairs) —
    one small row per bucket, written after that bucket's output commit."""
    metrics = (
        results.groupBy(BUCKET_COL)
        .agg(
            F.count("*").alias("rows"),
            F.sum("n_pages").alias("pages_parsed"),
            F.sum(F.size("problems")).alias("problems_detected"),
            F.sum(F.size("repaired_pages")).alias("pages_repaired"),
            F.sum((~F.col("valid")).cast("long")).alias("invalid_payloads"),
        )
        .withColumn("status", F.lit("done"))
        .withColumn("run_id", F.lit(run_id))
    )
    metrics.write.mode("append").parquet(manifest_path)


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    output_path: str,
    manifest_path: str,
    run_id: str,
    n_buckets: int = DEFAULT_N_BUCKETS,
) -> int:
    """Resumable extraction: process only pending buckets, write output
    partitioned by bucket (dynamic overwrite = idempotent re-runs), then
    record the manifest. Returns number of rows processed this run. The
    bucket column rides through the extraction map with the other input
    columns."""
    from .pipeline import extract_transcripts

    todo = pending_work(spark, transcripts, manifest_path, n_buckets)
    extracted = extract_transcripts(todo)
    extracted.cache()
    try:
        n = extracted.count()
        if n:
            # writer-scoped dynamic overwrite (idempotent re-runs replace
            # only this run's buckets) — never a session-level conf mutation
            (extracted.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy(BUCKET_COL).parquet(output_path))
            record_metrics(extracted, manifest_path, run_id)
    finally:
        extracted.unpersist()
    return n
