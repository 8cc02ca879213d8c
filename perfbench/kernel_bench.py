"""Spark-free microbench of the extraction kernels.

Runs in the benchmark process over a workload's payload turns, which are
read from the input files before any timing. Page bodies for the detector,
repair and similarity timings are prepared with the kernels' own page
splitters, outside the timed loops; each timed loop then calls one public
kernel function over every page (or document) once.

Run alone: ``python3 perfbench/kernel_bench.py [seed]`` prints the figures
for the seed's large corpus.
"""
from __future__ import annotations

import base64
import json
import time

from corpus import LAYOUT_PREFIX, PDF_PREFIX, dialect

_B64 = r"[A-Za-z0-9+/=]+"


def _decoded(text: str, prefix: str) -> str:
    import re

    start = text.index(prefix) + len(prefix)
    return base64.b64decode(re.compile(_B64).match(text, start).group(0)).decode()


def _pages(text: str, kind: str) -> list[tuple[int, str]]:
    from pdf_extractor_spark.kernels.layout import layout_pages
    from pdf_extractor_spark.kernels.segment import (
        parse_outline_toc,
        split_pages,
    )

    if kind == "layout":
        return layout_pages(json.loads(_decoded(text, LAYOUT_PREFIX)))[0]
    body = _decoded(text, PDF_PREFIX).split("\n", 1)[1]
    return split_pages(parse_outline_toc(body)[1])


def _timed(fn, items) -> tuple[float, list]:
    t = time.perf_counter()
    out = [fn(x) for x in items]
    return time.perf_counter() - t, out


def run(texts: list[str]) -> dict[str, float]:
    """Kernel timings and counts over the payload turns ``texts``."""
    from pdf_extractor_spark.config import (
        DEFAULT_ENABLED_PROBLEMS,
        VALIDATION_SIMILARITY_THRESHOLD,
    )
    from pdf_extractor_spark.kernels.detectors import (
        DETECTOR_REGISTRY,
        detect_problems,
    )
    from pdf_extractor_spark.kernels.html_strip import extract_main_content
    from pdf_extractor_spark.kernels.layout import layout_pages
    from pdf_extractor_spark.kernels.segment import (
        combine_with_spans,
        extract_turn,
        format_page_header,
        html_payload_start,
        repair_page,
        repair_page_image_aware,
    )
    from pdf_extractor_spark.kernels.similarity import calculate_similarity

    by_kind: dict[str, list[str]] = {"pdf": [], "html": [], "layout": []}
    for t in texts:
        by_kind[dialect(t)].append(t)
    m: dict[str, float] = {}
    for kind, group in by_kind.items():
        mb = sum(len(t.encode("utf-8")) for t in group) / 1e6
        secs, _ = _timed(extract_turn, group)
        m[f"kernel.{kind}_mb"] = mb
        m[f"kernel.{kind}_mb_per_s"] = mb / secs if secs else 0.0

    docs = [(t, k) for k in ("pdf", "layout") for t in by_kind[k]]
    turn_pages = [_pages(t, k) for t, k in docs]
    pages = [body for tp in turn_pages for _, body in tp]
    m["kernel.pages"] = len(pages)

    m["kernel.detect_s"], detected = _timed(detect_problems, pages)
    m["kernel.problems"] = sum(map(len, detected))
    for name in DEFAULT_ENABLED_PROBLEMS:
        m[f"detector.{name}_s"], _ = _timed(DETECTOR_REGISTRY[name], pages)

    flagged = [(p, d) for p, d in zip(pages, detected) if d]
    m["kernel.repair_s"], alts = _timed(
        lambda pd: (repair_page_image_aware if "markdown_images" in pd[1]
                    else repair_page)(pd[0]),
        flagged,
    )
    pairs = [(p, a) for (p, _), a in zip(flagged, alts)]
    m["kernel.similarity_s"], sims = _timed(
        lambda pa: calculate_similarity(*pa), pairs
    )
    repaired = {id(p): a for (p, a), s in zip(pairs, sims)
                if s < VALIDATION_SIMILARITY_THRESHOLD and a}
    m["kernel.repaired_pages"] = len(repaired)

    html = [t[html_payload_start(t):] for t in by_kind["html"]]
    m["kernel.html_strip_s"], _ = _timed(extract_main_content, html)
    layout_docs = [json.loads(_decoded(t, LAYOUT_PREFIX)) for t in by_kind["layout"]]
    m["kernel.layout_pages_s"], _ = _timed(layout_pages, layout_docs)
    page_strings = [
        [format_page_header(i) + repaired.get(id(b), b) for i, b in tp]
        for tp in turn_pages
    ]
    m["kernel.combine_s"], _ = _timed(combine_with_spans, page_strings)
    return m


if __name__ == "__main__":
    import sys
    from pathlib import Path

    import corpus

    repo = Path(__file__).resolve().parent.parent
    sys.path.insert(0, str(repo))
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    path = corpus.corpus(repo / ".perfbench", seed, "large")
    texts = [t["text"] for t in corpus.read_turns(path)
             if dialect(t["text"]) != "plain"]
    for k, v in run(texts).items():
        print(f"{k:40s} {v:12.4f}")
