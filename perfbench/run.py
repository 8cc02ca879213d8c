"""Benchmark of the extraction, curation and resumable-write paths.

One run:

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 8 --trace 0

prints, as its last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (and then the spans go to
``.perfbench/trace-<workload>-<seed>.json``).

Repeat mode runs one workload over several seeds, each in its own process,
and prints each metric's median and quartiles next to its bound:

    python3 perfbench/run.py --workload curate --repeat 10 --seed 1

Run from the root of a checkout; the benchmark reads and writes only inside
it, under ``.perfbench/``. See perfbench/README.md.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORK = REPO / ".perfbench"


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None,
                   help="timed work per run (default: BENCHMARK.json run_seconds)")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--repeat", type=int, default=0,
                   help="run this many seeds from --seed on and summarize")
    return p.parse_args(argv)


def _spec() -> dict:
    path = REPO / "BENCHMARK.json"
    return json.loads(path.read_text()) if path.exists() else {}


def one_run(a) -> int:
    import engine

    engine.prepare_env(REPO, WORK)
    from workloads import WORKLOADS, Bench

    if a.workload not in WORKLOADS:
        print(f"unknown workload {a.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    b = Bench(WORKLOADS[a.workload], WORK, a.seed, a.seconds, bool(a.trace))
    try:
        if a.trace:
            metrics = b.run_traced(WORK / f"trace-{a.workload}-{a.seed}.json")
            units = _units("per_layer")
            metrics = {k: (v, units.get(k, "")) for k, v in metrics.items()}
        else:
            metrics = b.run_untraced()
    finally:
        if b.spark is not None:
            engine.shutdown(b.spark)
    result = {
        "correct": not b.check_failed,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def _units(section: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in _spec().get(section, [])}


def repeat(a) -> int:
    """Run ``--repeat`` seeds one after another and summarize."""
    bounds = {m["name"]: m.get("bound") for m in _spec().get("end_to_end", [])}
    runs = []
    logs = WORK / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    for seed in range(a.seed, a.seed + a.repeat):
        cmd = [sys.executable, str(HERE / "run.py"), "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace)]
        with open(logs / f"{a.workload}-seed{seed}-trace{a.trace}.log", "w") as err:
            proc = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE,
                                  stderr=err, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode or not lines:
            print(f"seed {seed}: exit {proc.returncode}", file=sys.stderr)
            return 1
        runs.append(json.loads(lines[-1]))
        print(f"seed {seed}: " + lines[-1], flush=True)
    out = WORK / f"repeat-{a.workload}-trace{a.trace}.json"
    out.write_text(json.dumps(runs, indent=1))
    print(f"{'metric':32s} {'median':>12s} {'q1':>12s} {'q3':>12s} "
          f"{'spread':>7s} {'bound':>6s}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med,) * 3
        spread = (q3 - q1) / med if med else 0.0
        bound = bounds.get(name)
        print(f"{name:32s} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:7.3f} "
              f"{'' if bound is None else bound:>6}")
    fails = {(r["failed"], r["attempted"]) for r in runs}
    print(f"failed/attempted per run: {sorted(fails)}; correct: "
          f"{all(r['correct'] for r in runs)}")
    return 0


def main(argv=None) -> int:
    a = _args(argv if argv is not None else sys.argv[1:])
    if a.seconds is None:
        a.seconds = float(_spec().get("run_seconds", 8))
    if not (REPO / "pdf_extractor_spark" / "__init__.py").is_file():
        print("perfbench: pdf_extractor_spark/ not found next to perfbench/; "
              "run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))
    os.chdir(REPO)
    return repeat(a) if a.repeat else one_run(a)


if __name__ == "__main__":
    sys.exit(main())
