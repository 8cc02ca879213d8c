"""The workloads: one timed operation each, its checks, its traced form, and
the layer probes of a traced run.

Every operation calls the program's public entry points on the workload's
input, which is read from parquet files in the checkout:
``plans.pipeline.run_pipeline``, ``plans.training_data.iter_curate_stages``
and ``plans.manifest.run_resumable``.
"""
from __future__ import annotations

import hashlib
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

import checks
import corpus
import kernel_bench
from engine import EngineCounters
from spans import Tracer

# Tolerance for the sum of the layer spans' self-times in a traced
# operation over the untraced operation's wall time (README, "Tracing").
RECONCILE = (0.8, 1.3)

CURATE_STAGES = ("extract_assemble", "quality_gate", "boilerplate_c4",
                 "repetition_gate", "redact_dedup_split")


class Input:
    """One corpus: its files, its rows for the checks, and its frame."""

    def __init__(self, path: Path):
        self.path = path
        self.turns = corpus.read_turns(path)
        self.convs = checks.by_conversation(self.turns)
        self.n_turns = len(self.turns)
        self.df = None

    def read(self, spark):
        self.df = spark.read.parquet(str(self.path))
        return self.df.count()

    def warm_slice(self):
        """The first conversation of every input file: a few rows in every
        scan partition, so the warm-up starts every Python worker."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        ids = [pq.read_table(p, columns=["conv_id"]).column(0)[0].as_py()
               for p in sorted(self.path.glob("*.parquet"))]
        return self.df.where(F.col("conv_id").isin(ids))

    def payload_filter(self):
        """Payload turns, by the generator's wire markers (not the router)."""
        from pyspark.sql import functions as F

        low = F.lower("text")
        return (F.col("text").contains(corpus.PDF_PREFIX)
                | F.col("text").contains(corpus.LAYOUT_PREFIX)
                | (low.contains("</html")
                   & (low.contains("<html") | low.contains("<!doctype html"))))

    def payload_texts(self) -> list[str]:
        return [t["text"] for t in self.turns
                if corpus.dialect(t["text"]) != "plain"]


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, all cores."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tree_digest(root: Path) -> str:
    h = hashlib.sha1()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()


class Workload:
    name = ""
    size = "large"
    plain_only = False
    # One operation's wall time on the reference machine. A run times
    # round(seconds / nominal_s) operations, at least three: a fixed count,
    # because operation times still fall from one operation to the next
    # (JIT), so a count that followed the clock would move the median.
    nominal_s = 1.0

    def inputs(self, work: Path, seed: int, traced: bool) -> dict[str, Input]:
        """``main`` is the workload's input. A traced run also has
        ``payload``, the mixed corpus whose payload turns feed the UDF and
        kernel probes, and ``small``, the corpus for the layers outside the
        workload's own job."""
        paths = {"main": corpus.corpus(work, seed, self.size, self.plain_only)}
        if traced:
            paths["payload"] = corpus.corpus(work, seed, self.size)
            paths["small"] = corpus.corpus(work, seed, "small")
        loaded: dict[Path, Input] = {}
        return {k: loaded.setdefault(p, Input(p)) for k, p in paths.items()}

    def prepare(self, b: "Bench") -> None:
        """Untimed per-run reference data."""

    def op(self, b: "Bench") -> tuple[float, list[str]]:
        raise NotImplementedError

    def traced_op(self, b: "Bench", tr: Tracer) -> tuple[float, list[str], list[str]]:
        """(seconds, failures, names of the spans that make up the job)."""
        raise NotImplementedError

    def warm_op(self, b: "Bench") -> list[str]:
        """The operation run once, untimed but checked, before the timed
        window: the first full-size job still runs on a cold JIT."""
        return self.op(b)[1]


def _traced_extract(inp: Input, tr: Tracer, label: str):
    """``run_pipeline`` split at its layers: a noop scan, then
    ``extract_transcripts`` into a local checkpoint, then
    ``assemble_conversations`` over it, each in its own span."""
    from pdf_extractor_spark.plans.pipeline import (
        assemble_conversations,
        extract_transcripts,
    )

    with tr.span(label) as op:
        with tr.span("sources.scan"):
            _noop(inp.df)
        with tr.span("plans.pipeline.extract_transcripts"):
            ext = extract_transcripts(inp.df).localCheckpoint(eager=True)
        with tr.span("plans.pipeline.assemble_conversations"):
            out = assemble_conversations(ext).toArrow()
    return op["end"] - op["start"], out


class Extract(Workload):
    nominal_s = 1.9

    def op(self, b):
        from pdf_extractor_spark.plans.pipeline import run_pipeline

        t = time.perf_counter()
        out = run_pipeline(b.main.df).toArrow()
        secs = time.perf_counter() - t
        return secs, checks.check_assembled(out, b.main.convs)

    def traced_op(self, b, tr):
        secs, out = _traced_extract(b.main, tr, f"op.{self.name}")
        return secs, checks.check_assembled(out, b.main.convs), [
            "plans.pipeline.extract_transcripts",
            "plans.pipeline.assemble_conversations",
        ]


class ExtractMixed(Extract):
    name = "extract_mixed"

    def warm_op(self, b):
        """``extract_transcripts`` collected, checked turn by turn."""
        from pdf_extractor_spark.plans.pipeline import extract_transcripts

        ext = extract_transcripts(b.main.df).toArrow()
        return checks.check_extracted(ext, b.main.convs)


class ExtractPlain(Extract):
    name = "extract_plain"
    plain_only = True
    nominal_s = 1.1


def _curate(inp: Input, tr: Tracer | None):
    """``iter_curate_stages`` to its end, each stage in a span when traced;
    returns the final table and the stage frames."""
    from pdf_extractor_spark.plans.training_data import iter_curate_stages

    stages = iter_curate_stages(inp.df)
    frames = {}
    for name in CURATE_STAGES:
        if tr is None:
            frames[name] = next(stages)[1]
            continue
        with tr.span("plans.training_data.stage") as rec:
            got, frames[name] = next(stages)
            rec["name"] = f"curate.{got}"
            if got == CURATE_STAGES[-1]:
                out = frames[name].toArrow()
    if tr is None:
        out = frames[CURATE_STAGES[-1]].toArrow()
    return out, frames


class Curate(Workload):
    name = "curate"
    size = "small"
    nominal_s = 6.0

    def op(self, b):
        t = time.perf_counter()
        out, _ = _curate(b.main, None)
        secs = time.perf_counter() - t
        return secs, checks.check_curated(out, b.main.convs)

    def traced_op(self, b, tr):
        with tr.span(f"op.{self.name}") as op:
            out, frames = _curate(b.main, tr)
        b.curate_frames = frames
        secs = op["end"] - op["start"]
        return secs, checks.check_curated(out, b.main.convs), [
            f"curate.{s}" for s in CURATE_STAGES
        ]


class Resumable:
    """``run_resumable`` twice into a fresh output and manifest."""

    def __init__(self, b: "Bench", inp: Input):
        from pdf_extractor_spark.plans.pipeline import extract_transcripts

        self.b, self.inp = b, inp
        ref = extract_transcripts(inp.df).select(
            "conv_id", "turn_idx", "extracted_text").toArrow()
        self.reference = checks.turn_digests(ref.to_pylist())
        self.root = b.work / "out" / "resume"

    def run(self, tr: Tracer | None) -> tuple[float, list[str], dict]:
        import pyarrow.parquet as pq
        from pdf_extractor_spark.plans.manifest import run_resumable

        shutil.rmtree(self.root, ignore_errors=True)
        out, man = self.root / "output", self.root / "manifest"
        spark, df = self.b.spark, self.inp.df
        t = time.perf_counter()
        with (tr.span("manifest.run") if tr else nullcontext()):
            n1 = run_resumable(spark, df, str(out), str(man), "first")
        t1 = time.perf_counter() - t
        before = _tree_digest(out)
        t = time.perf_counter()
        with (tr.span("manifest.resume_noop") if tr else nullcontext()):
            n2 = run_resumable(spark, df, str(out), str(man), "second")
        t2 = time.perf_counter() - t
        after = _tree_digest(out)
        files = [p for p in out.rglob("*.parquet")]
        stats = {
            "manifest.run_s": t1,
            "manifest.resume_noop_s": t2,
            "manifest.output_files": len(files),
            "manifest.output_mb": sum(p.stat().st_size for p in files) / 1e6,
            "manifest.rows_written": n1,
        }
        bad = checks.check_resume(
            pq.read_table(out), pq.read_table(man), self.reference, n1, n2,
            self.inp.n_turns, before, after,
        )
        return t1 + t2, bad, stats


class ResumeWrite(Workload):
    name = "resume_write"
    size = "small"
    nominal_s = 4.5

    def prepare(self, b):
        b.resumable = Resumable(b, b.main)

    def op(self, b):
        secs, bad, _ = b.resumable.run(None)
        return secs, bad

    def traced_op(self, b, tr):
        with tr.span(f"op.{self.name}"):
            secs, bad, b.manifest_stats = b.resumable.run(tr)
        return secs, bad, ["manifest.run", "manifest.resume_noop"]


WORKLOADS = {w.name: w for w in (ExtractMixed(), ExtractPlain(), Curate(),
                                 ResumeWrite())}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    """One run of one workload."""

    def __init__(self, wl: Workload, work: Path, seed: int, seconds: float,
                 traced: bool):
        self.wl, self.work, self.seed, self.seconds = wl, work, seed, seconds
        self.inputs = wl.inputs(work, seed, traced)
        self.main = self.inputs["main"]
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.check_failed = False
        self.t0 = time.monotonic()

    # -- set-up -------------------------------------------------------------

    def setup(self) -> float:
        """Session start, first read of the inputs and a warm-up job on a
        small slice; returns its wall seconds."""
        from engine import start_session
        from pdf_extractor_spark.plans.pipeline import run_pipeline

        t = time.perf_counter()
        self.spark = start_session(self.work)
        for inp in {id(i): i for i in self.inputs.values()}.values():
            inp.read(self.spark)
        run_pipeline(self.main.warm_slice()).toArrow()
        return time.perf_counter() - t

    def log(self, what: str) -> None:
        print(f"[perfbench {time.monotonic() - self.t0:7.2f}s] {what} "
              f"(host steal {_steal_s():.2f}s)", file=sys.stderr, flush=True)

    def record(self, bad: list[str]) -> None:
        self.attempted += 1
        if bad:
            self.failed += 1
            self.check_failed = True
            for line in bad[:5]:
                print(f"check failed: {line}", file=sys.stderr)

    def attempt(self, fn, *args):
        """``fn(*args)``; an exception fails the operation (the run goes
        on) and returns None."""
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - a failed operation is counted
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
            return None

    def _window(self, step, per_step: float, least: int) -> None:
        """``seconds`` of timed work at the nominal rate, as a fixed number
        of whole steps, at least ``least``."""
        for _ in range(max(least, round(self.seconds / per_step))):
            step()

    # -- untraced run: the end-to-end metrics ------------------------------

    def run_untraced(self, setups: int = 3) -> dict:
        from engine import WorkerRss

        times = []
        for k in range(setups):
            if k:
                self.spark.stop()
            times.append(self.setup())
            self.log(f"setup {times[-1]:.2f}s")
        setup_s = _median(times)
        self.wl.prepare(self)
        self.record(self.wl.warm_op(self))
        self.log("prepared")
        op_times: list[float] = []
        rss = WorkerRss()
        rss.start()

        def step():
            got = self.attempt(self.wl.op, self)
            if got is not None:
                secs, bad = got
                self.record(bad)
                op_times.append(secs)
                self.log(f"op {secs:.3f}s")

        try:
            self._window(step, self.wl.nominal_s, least=3)
        finally:
            peak = rss.stop()
        self.log("window done")
        if not op_times:
            raise RuntimeError("every timed operation failed")
        return {
            "turns_per_s": (self.main.n_turns / _median(op_times), "turns/s"),
            "setup_s": (setup_s, "s"),
            "py_peak_rss_mb": (peak, "MB"),
        }

    # -- traced run: the per-layer metrics ---------------------------------

    def run_traced(self, artifact: Path) -> dict:
        tr = Tracer()
        with tr.span("setup"):
            self.setup()
        with tr.span("prepare"):
            self.wl.prepare(self)
            self.record(self.wl.warm_op(self))
        counters = EngineCounters(self.spark)
        plain_t, traced_t, engine, layer_s = [], [], [], []

        def pair():
            group = f"op{len(plain_t)}"
            counters.begin(group)
            secs, bad = self.wl.op(self)
            engine.append(counters.end(group))
            self.record(bad)
            plain_t.append(secs)
            tr.op = f"traced{len(traced_t)}"
            tsecs, bad, layers = self.wl.traced_op(self, tr)
            tr.op = None
            self.record(bad)
            traced_t.append(tsecs)
            self.log(f"op {secs:.3f}s, traced {tsecs:.3f}s")
            self_t = tr.self_times()
            layer_s.append(sum(
                self_t[s["id"]] for s in tr.spans
                if s["op"] == f"traced{len(traced_t) - 1}" and s["name"] in layers
            ))

        self._window(pair, 2 * self.wl.nominal_s, least=2)
        self.log("window done")
        with tr.span("profile"):
            m = self.profile(tr)
        self.log("profile done")
        n = self.main.n_turns
        untraced, traced = n / _median(plain_t), n / _median(traced_t)
        mb = 1e6
        m.update({
            "spark.jobs": _median([e["jobs"] for e in engine]),
            "spark.shuffle_write_mb": _median([e["shuffle_write_bytes"] for e in engine]) / mb,
            "spark.spill_mb": _median([e["spill_bytes"] for e in engine]) / mb,
            "udf.bytes_to_python": _median([e["to_python_bytes"] for e in engine]) / mb,
            "udf.bytes_from_python": _median([e["from_python_bytes"] for e in engine]) / mb,
            "trace.untraced_turns_per_s": untraced,
            "trace.traced_turns_per_s": traced,
            "trace.overhead_pct": 100.0 * (untraced - traced) / untraced,
            "trace.layers_s": _median(layer_s),
            "trace.untraced_op_s": _median(plain_t),
        })
        ratio = m["trace.layers_s"] / m["trace.untraced_op_s"]
        lo, hi = RECONCILE
        self.log(f"layer self-times / untraced wall = {ratio:.3f} "
                 f"({'within' if lo <= ratio <= hi else 'OUTSIDE'} {lo}-{hi})")
        tr.write(artifact, {"workload": self.wl.name, "seed": self.seed,
                            "reconcile": {"ratio": ratio, "tolerance": RECONCILE},
                            "metrics": m})
        return m

    def profile(self, tr: Tracer) -> dict:
        """Every layer probe; the workload's own layers come from its traced
        operations, the rest run here."""
        from pdf_extractor_spark.functions.udfs import extract_turn_udf
        from pyspark.sql import functions as F

        m: dict[str, float] = {}

        def med(name):
            return _median(tr.durations(name))

        if not isinstance(self.wl, Extract):
            with tr.span("profile.pipeline"):
                secs, out = _traced_extract(self.inputs["small"], tr, "pipeline")
            self.record(checks.check_assembled(out, self.inputs["small"].convs))
        m["scan_s"] = med("sources.scan")
        m["pipeline.extract_s"] = med("plans.pipeline.extract_transcripts")
        m["pipeline.assemble_s"] = med("plans.pipeline.assemble_conversations")

        src = self.inputs["payload"]
        is_payload = src.payload_filter()
        with tr.span("functions.udfs.payload_rows"):
            _noop(src.df.where(is_payload).select(extract_turn_udf("text")))
        with tr.span("functions.udfs.null_rows"):
            _noop(src.df.where(~is_payload).select(
                extract_turn_udf(F.lit(None).cast("string"))))
        m["udf.payload_s"] = med("functions.udfs.payload_rows")
        m["udf.null_rows_s"] = med("functions.udfs.null_rows")

        small = self.inputs["small"]
        frames = getattr(self, "curate_frames", None)
        if frames is None:
            with tr.span("profile.curate"):
                out, frames = _curate(small, tr)
            self.record(checks.check_curated(out, small.convs))
        for s in CURATE_STAGES:
            m[f"curate.{s}_s"] = med(f"curate.{s}")
            m[f"curate.{s}_rows"] = frames[s].count()
        self._ops_probes(tr, frames)
        m["ops.paragraph_dedup_s"] = med("operators.paragraph_dedup")
        m["ops.repetition_filters_s"] = med("operators.repetition_filters")

        self._manifest_probes(tr, small, m)

        with tr.span("kernels"):
            m.update(kernel_bench.run(src.payload_texts()))
        return m

    def _ops_probes(self, tr: Tracer, frames: dict) -> None:
        from pyspark.sql import functions as F
        from pdf_extractor_spark.operators.dedup import paragraph_dedup
        from pdf_extractor_spark.operators.text_analysis import repetition_filters

        kept = frames["quality_gate"]
        with tr.span("operators.paragraph_dedup"):
            _noop(paragraph_dedup(
                kept.select(F.col("conv_id").alias("doc_id"), "lines"),
                passages=F.col("lines"), joiner="\n"))
        cleaned = frames["boilerplate_c4"]
        with tr.span("operators.repetition_filters"):
            _noop(repetition_filters(
                cleaned.select(F.col("conv_id").alias("doc_id"), "ws"),
                words=F.col("ws")))

    def _manifest_probes(self, tr: Tracer, inp: Input, m: dict) -> None:
        from pdf_extractor_spark.plans.manifest import (
            pending_work,
            record_metrics,
            with_bucket,
        )
        from pdf_extractor_spark.plans.pipeline import extract_transcripts

        root = self.work / "out" / "probe"
        shutil.rmtree(root, ignore_errors=True)
        with tr.span("plans.manifest.pending_work"):
            _noop(pending_work(self.spark, inp.df, str(root / "none")))
        results = with_bucket(extract_transcripts(inp.df)).localCheckpoint(
            eager=True)
        with tr.span("plans.manifest.record_metrics"):
            record_metrics(results, str(root / "manifest"), "probe")
        m["manifest.pending_work_s"] = _median(tr.durations("plans.manifest.pending_work"))
        m["manifest.record_metrics_s"] = _median(tr.durations("plans.manifest.record_metrics"))
        if isinstance(self.wl, ResumeWrite):
            m.update(self.manifest_stats)
            return
        with tr.span("profile.resume"):
            _, bad, stats = Resumable(self, inp).run(tr)
        self.record(bad)
        m.update(stats)
