"""Seeded benchmark inputs, drawn from the program's transcript generator.

A corpus is a set of whole conversations from
``sources.transcripts.conv_turns(conv_num, seed)``. Conversations are
taken in generator order, but with the amount of work held fixed per seed:
a fixed number of conversations in the generator's length proportions, with
payload text held near the generator's mean rate per turn (see
``select_conversations``). Seeds therefore change the content, not the size
of the job. At 600 conversations of the raw generator, payload bytes per
turn vary by 8% between seeds and turns by 6% (interquartile range over
seeds 1-10); the number of conversations a turn budget buys varies far more.

One user turn in 40 also gets an e-mail address and an IPv4 address, so the
curation path's redaction has something to redact.

Corpora are written as ``FILES`` parquet files and cached under
``.perfbench/inputs/<key>/``, keyed by generator version, seed and number
of conversations,
with the make-up in ``<key>.json`` next to it.
Generation is the benchmark's own cost and runs before any timing.
"""
from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

# Wire-format markers of the generator's payload dialects (FIXTURES.md §1).
PDF_PREFIX = "data:application/pdf;base64,"
LAYOUT_PREFIX = "data:application/vnd.layout+json;base64,"
SEP = "\n\n---\n\n"

GEN_VERSION = 2
FILES = 8  # two input splits per core at local[4]

# Payload text per 1,000 turns: the raw generator's mean over seeds 1-10 at
# 1,000 conversations (40.5k turns each).
_PER_KTURN_BYTES = {"pdf": 277_000, "html": 15_900, "layout": 41_500}
_MEAN_TURNS = 40.5

# Conversations per corpus.
SIZES = {"large": 500, "small": 200}

# Conversation-length bins (lower bounds, in turns). The generator draws
# n = 1 + int(199 * u**4), so P(n < k) = ((k - 1) / 199) ** 0.25.
_EDGES = (1, 3, 6, 11, 21, 41, 81, 141, 201)


def _bin_targets(n_convs: int) -> list[int]:
    """Conversations per length bin, in the generator's proportions."""
    cdf = [min(1.0, ((k - 1) / 199) ** 0.25) for k in _EDGES]
    shares = [hi - lo for lo, hi in zip(cdf, cdf[1:])]
    targets = [int(x * n_convs) for x in shares]
    rest = sorted(range(len(shares)), key=lambda i: targets[i] - shares[i] * n_convs)
    for i in rest[: n_convs - sum(targets)]:
        targets[i] += 1
    return targets


def dialect(text: str) -> str:
    """The payload dialect of a turn, by the generator's wire markers."""
    if LAYOUT_PREFIX in text:
        return "layout"
    if PDF_PREFIX in text:
        return "pdf"
    low = text.lower()
    if "</html" in low and ("<html" in low or "<!doctype html" in low):
        return "html"
    return "plain"


def _with_pii(rows: list[dict], seed: int) -> list[dict]:
    for r in rows:
        if r["role"] != "user":
            continue
        h = hashlib.md5(f"{seed}:{r['conv_id']}:{r['turn_idx']}".encode()).digest()
        if h[0] % 40 == 0:
            r["text"] += (
                f" write to clerk.{h[1]}@ledger-example.org"
                f" or connect to 10.{h[2]}.{h[3]}.{h[4]}"
            )
    return rows


def select_conversations(seed: int, n_convs: int) -> list[list[dict]]:
    """``n_convs`` whole conversations for ``seed``, in the generator's
    length proportions, with payload text held near its mean rate: a
    conversation is skipped while it would push a dialect's bytes above
    that rate (plus a twentieth of its total, at most 100 kB), and a
    payload-free one
    while the corpus runs short of payload."""
    from bisect import bisect_right

    from pdf_extractor_spark.sources.transcripts import conv_turns

    room = _bin_targets(n_convs)
    rate = {d: b / 1000 for d, b in _PER_KTURN_BYTES.items()}
    # a twentieth of each dialect's expected total, at most ~one big pdf
    slack = {d: min(100_000, r * n_convs * _MEAN_TURNS / 20)
             for d, r in rate.items()}
    got = dict.fromkeys(rate, 0)
    chosen: list[list[dict]] = []
    turns = 0
    conv_num = 0
    while len(chosen) < n_convs:
        rows = conv_turns(conv_num, seed)
        conv_num += 1
        b = bisect_right(_EDGES, len(rows)) - 1
        if not room[b]:
            continue
        by = dict.fromkeys(rate, 0)
        for r in rows:
            d = dialect(r["text"])
            if d != "plain":
                by[d] += len(r["text"])
        expect = {d: rate[d] * (turns + len(rows)) for d in rate}
        lenient = conv_num > 200 * n_convs  # never loop forever
        if not lenient and any(got[d] + by[d] > expect[d] + slack[d] for d in rate):
            continue
        if not lenient and not any(by.values()) and any(
            got[d] < expect[d] - slack[d] for d in rate
        ):
            continue
        room[b] -= 1
        chosen.append(rows)
        turns += len(rows)
        for d in rate:
            got[d] += by[d]
    chosen.sort(key=lambda rows: rows[0]["conv_id"])
    return [_with_pii(rows, seed) for rows in chosen]


def _write(convs: list[list[dict]], out: Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("conv_id", pa.string()), ("turn_idx", pa.int32()),
        ("role", pa.string()), ("text", pa.string()),
        ("tool", pa.string()), ("ts", pa.timestamp("us", tz="UTC")),
    ])
    total = sum(len(r["text"]) for rows in convs for r in rows)
    parts: list[list[dict]] = [[]]
    acc = 0
    for rows in convs:
        if acc >= total * len(parts) / FILES and len(parts) < FILES:
            parts.append([])
        parts[-1].extend(rows)
        acc += sum(len(r["text"]) for r in rows)
    for i, part in enumerate(parts):
        pq.write_table(pa.Table.from_pylist(part, schema=schema),
                       out / f"part-{i:02d}.parquet")


def makeup(convs: list[list[dict]]) -> dict:
    """Conversations, turns, and payload turns and text bytes per dialect."""
    out = {"conversations": len(convs), "turns": 0, "text_bytes": 0,
           "payload_turns": {}, "payload_bytes": {}}
    for rows in convs:
        for r in rows:
            n = len(r["text"].encode("utf-8"))
            out["turns"] += 1
            out["text_bytes"] += n
            d = dialect(r["text"])
            if d != "plain":
                out["payload_turns"][d] = out["payload_turns"].get(d, 0) + 1
                out["payload_bytes"][d] = out["payload_bytes"].get(d, 0) + n
    return out


def corpus(root: Path, seed: int, size: str, plain_only: bool = False) -> Path:
    """Directory of the cached corpus, generated on first use."""
    key = f"v{GEN_VERSION}-seed{seed}-{size}{SIZES[size]}" + (
        "-plain" if plain_only else "")
    out = root / "inputs" / key
    if out.with_suffix(".json").exists():
        return out
    convs = select_conversations(seed, SIZES[size])
    if plain_only:
        convs = [[r for r in rows if dialect(r["text"]) == "plain"]
                 for rows in convs]
    tmp = root / "inputs" / f".{key}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    _write(convs, tmp)
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    out.with_suffix(".json").write_text(json.dumps(makeup(convs), indent=1))
    return out


def read_turns(path: Path) -> list[dict]:
    """The corpus rows as dicts (for the checks and the kernel microbench)."""
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=["conv_id", "turn_idx", "role", "text"]
                         ).to_pylist()
