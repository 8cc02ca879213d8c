"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS], plus the flagship transcript-extraction pipeline.

Prints ONE COMPACT JSON line (the driver's per-round record must carry the
headline un-truncated, so the stdout line holds the headline, the best-of
samples, the curate product-path figures, per-query totals, and only the
SLOWEST_N per-query timings):
  {"metric": "extracted_turns_per_sec", "value": N, "unit": "sec",
   "samples": [...], "queries": {slowest N: sec}, "queries_truncated": true,
   "n_queries": ..., "queries_total_sec": ..., "queries_file": "BENCH/...",
   "curate_turns_per_sec": ..., "curate_stage_secs": {...}, ...}
The COMPLETE per-query map + cap-drop observations go to
$SPARK_GRAFT_BENCH_TAG (default r05) as BENCH/<tag>_queries.json.

The headline metric is extraction throughput (turns/sec) on a deterministic
synthetic transcript corpus (seed=42), per BASELINE.json. Query timings use a
noop write so execution is measured end-to-end without disk-sink noise.
"""
from __future__ import annotations

import inspect
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# v3: cache key versioned with the generator (round 4 added markdown-image
# pages for the image-aware repair route)
CORPUS_CACHE = "/tmp/spark_graft_bench/transcripts_v3_{n}_{seed}"

# how many of the slowest per-query timings ride the compact stdout line
SLOWEST_N = 15


def ensure_corpus(spark, n_convs: int, seed: int = 42) -> str:
    """Materialize the transcript corpus once (generation is not part of the
    measured pipeline)."""
    path = CORPUS_CACHE.format(n=n_convs, seed=seed)
    if not os.path.exists(path + "/_SUCCESS"):
        from pdf_extractor_spark.sources.transcripts import transcripts_df

        transcripts_df(spark, n_convs, seed).write.mode("overwrite").parquet(path)
    return path


def time_noop(fn, spark, sf_dir) -> float:
    """Best-of-2 end-to-end: query CONSTRUCTION is inside the timed window
    (some operators, e.g. the iterative components clustering, do eager work
    while building), and the repeat damps the host's bursty ±40% noise."""
    best = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
        best = min(best, time.perf_counter() - t0)
    return best


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_convs = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "25000"))

    from pdf_extractor_spark.plans.pipeline import run_pipeline
    from pdf_extractor_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(
        app_name="bench", master=f"local[{cpus}]", shuffle_partitions=max(cpus, 32),
        # the console progress bar writes \r-separated stage updates that,
        # under a merged stdout/stderr capture, land ON the final summary
        # line and break the driver's JSON parse of it
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    corpus = ensure_corpus(spark, n_convs)
    transcripts = spark.read.parquet(corpus)
    n_turns = transcripts.count()

    # warm the JVM/Arrow paths once with a small slice
    run_pipeline(transcripts.limit(2000)).write.mode("overwrite").format("noop").save()

    def run_once() -> float:
        t0 = time.perf_counter()
        run_pipeline(transcripts).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    # INTERLEAVED BEST-OF (the scaling_bench protocol, applied to the
    # headline): the host has multi-minute stall bursts (observed 7x /
    # ±40%), and back-to-back runs share one burst — so the headline
    # samples are SPREAD across the whole bench window (2 upfront, 1 after
    # half the query suite, 1 at the end) and ALL samples are recorded in
    # the artifact; `value` is the best-of figure. First full run also
    # finishes JIT/worker-pool warmup.
    samples = [run_once(), run_once()]

    from pyspark.sql.observation import Observation

    queries = entry_mod.queries()
    bench_queries = list(queries)
    timings, cap_drops = {}, {}

    def time_query(name):
        qfn = queries[name]
        # Queries that take an Observation (DF-cut caps and other drop
        # counters) get one threaded through, so their drops are OBSERVED
        # in the recorded runs (n_buckets_dropped / n_ids_dropped in the
        # output JSON), not merely observable — dedup.py's "never silent"
        # contract in the path that runs.
        if "observation" in inspect.signature(qfn).parameters:
            holder = {}

            def observed(spark, sf_dir, _q=qfn, _h=holder):
                # fresh Observation per run (an instance binds to one plan)
                _h["obs"] = Observation()
                return _q(spark, sf_dir, observation=_h["obs"])

            timings[name] = round(time_noop(observed, spark, sf_dir), 3)
            got = holder["obs"].get
            cap_drops[name] = {k: int(got[k]) for k in sorted(got)}
        else:
            timings[name] = round(time_noop(qfn, spark, sf_dir), 3)

    half = len(bench_queries) // 2
    for name in bench_queries[:half]:
        time_query(name)
    samples.append(run_once())
    for name in bench_queries[half:]:
        time_query(name)
    samples.append(run_once())

    extract_sec = min(samples)
    timings = {"extraction_pipeline": round(extract_sec, 3), **timings}

    # The PRODUCT path: curate / curate_packed end-to-end over the same
    # corpus. iter_curate_stages materializes each stage output eagerly at
    # generator-advance time, so (advance + one noop action on the yielded
    # frame) IS that stage's own wall time — the stage figures sum to the
    # end-to-end total (no cumulative-prefix subtraction, no 0.0 stages).
    from pdf_extractor_spark.plans.training_data import (
        curate_packed,
        iter_curate_stages,
    )

    stage_secs = {}
    t_cur0 = time.perf_counter()
    stages = iter_curate_stages(transcripts)
    while True:
        t0 = time.perf_counter()
        try:
            sname, sdf = next(stages)
        except StopIteration:
            break
        sdf.write.mode("overwrite").format("noop").save()
        stage_secs[sname] = round(time.perf_counter() - t0, 3)
    curate_sec = time.perf_counter() - t_cur0
    t0 = time.perf_counter()
    # construction-inclusive: curate_packed localCheckpoints eagerly
    curate_packed(transcripts).write.mode("overwrite").format("noop").save()
    packed_sec = time.perf_counter() - t0

    # ANN train-once/serve-many split: the registered ann_index_query pays
    # its fit inline (self-contained for the oracle), so the number a
    # production serve actually costs is measured here against ONE
    # prebuilt committed snapshot — best-of-2 like every other timing.
    import shutil as _shutil
    import tempfile as _tempfile

    from pdf_extractor_spark.operators.ann_index import (
        ann_index_build,
        ann_index_load,
        ann_index_serve,
    )
    from pdf_extractor_spark.operators.similarity_search import (
        _emb,
        _quantized_vecs,
    )

    ev = _quantized_vecs(_emb(spark, sf_dir)).localCheckpoint(eager=True)
    ann_root = _tempfile.mkdtemp(prefix="bench_ann_idx_")
    t0 = time.perf_counter()
    ann_index_build(ev, ann_root)
    ann_build_sec = time.perf_counter() - t0
    snap = ann_index_load(spark, ann_root).localCheckpoint(eager=True)
    ann_serve_sec = float("inf")
    for _ in range(2):
        t0 = time.perf_counter()
        ann_index_serve(ev, snap).write.mode("overwrite").format(
            "noop"
        ).save()
        ann_serve_sec = min(ann_serve_sec, time.perf_counter() - t0)
    _shutil.rmtree(ann_root, ignore_errors=True)

    # Full per-query map -> a BENCH artifact; stdout line stays compact so
    # the driver's tail capture carries the headline un-truncated.
    tag = os.environ.get("SPARK_GRAFT_BENCH_TAG", "r05")
    common = {
        "metric": "extracted_turns_per_sec",
        "value": round(n_turns / extract_sec, 1),
        "unit": "sec",
        "samples": [round(s, 3) for s in samples],
        # registered-query count — matches the oracle sweep artifact's
        # n_queries exactly; the timings map holds one extra entry
        # (extraction_pipeline, the flagship), counted separately.
        "n_queries": len(bench_queries),
        "n_timings": len(timings),
        "queries_total_sec": round(sum(timings.values()), 3),
        "curate_turns_per_sec": round(n_turns / curate_sec, 1),
        "curate_sec": round(curate_sec, 3),
        "curate_stage_secs": stage_secs,
        "curate_packed_sec": round(packed_sec, 3),
        "ann_index_build_sec": round(ann_build_sec, 3),
        "ann_index_serve_sec": round(ann_serve_sec, 3),
        "sf": sf_dir,
        "turns": n_turns,
        "cpus": cpus,
    }
    bench_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH")
    os.makedirs(bench_dir, exist_ok=True)
    qfile = f"BENCH/{tag}_queries.json"
    with open(os.path.join(bench_dir, f"{tag}_queries.json"), "w") as fh:
        json.dump({**common, "queries": timings, "cap_drops": cap_drops}, fh,
                  indent=1, sort_keys=True)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:SLOWEST_N]
    )
    drops_nonzero = {
        q: {k: v for k, v in obs.items() if v}
        for q, obs in cap_drops.items()
        if any(obs.values())
    }
    print(json.dumps({
        **common,
        "queries": slowest,
        "queries_truncated": True,
        "queries_file": qfile,
        "cap_drops_nonzero": drops_nonzero,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
