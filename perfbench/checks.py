"""Output checks, computed by the benchmark itself in plain Python.

None of them calls the program's combine, router or gates, and none compares
against a stored copy of earlier output. Each returns a list of failure
messages; an empty list means the operation passed.
"""
from __future__ import annotations

import base64
import hashlib
import json
import re
import unicodedata
from collections import Counter

from corpus import LAYOUT_PREFIX, PDF_PREFIX, SEP, dialect

_B64 = re.compile(r"[A-Za-z0-9+/=]+")
_HEADER = re.compile(r"(?:^|\n\n---\n\n)# Page (\d+)(?=\n|$)")
# the curation path's PII patterns, restated: e-mail and dotted IPv4
_EMAIL = re.compile(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
_IPV4 = re.compile(r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b")
# Java's \s, which the program's word split uses
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def by_conversation(turns: list[dict]) -> dict[str, list[dict]]:
    convs: dict[str, list[dict]] = {}
    for t in turns:
        convs.setdefault(t["conv_id"], []).append(t)
    for rows in convs.values():
        rows.sort(key=lambda t: t["turn_idx"])
    return convs


def payload_pages(text: str) -> int:
    """Page count of a pdf or layout payload, decoded here from the base64."""
    prefix = LAYOUT_PREFIX if LAYOUT_PREFIX in text else PDF_PREFIX
    start = text.index(prefix) + len(prefix)
    raw = base64.b64decode(_B64.match(text, start).group(0)).decode("utf-8")
    if prefix == LAYOUT_PREFIX:
        return len(json.loads(raw)["pages"])
    body = raw.split("\n", 1)[1]
    lines = body.split("\n")
    while lines and lines[0].startswith("== ") and lines[0].endswith(" =="):
        lines.pop(0)  # the optional table of contents
    return "\n".join(lines).lstrip("\n").count(SEP) + 1


def _expected_pages(text: str) -> int:
    kind = dialect(text)
    if kind == "plain":
        return 1 if text else 0
    if kind == "html":
        return 1
    return payload_pages(text)


def _headers_in_order(seg: str, n: int) -> bool:
    return [int(x) for x in _HEADER.findall(seg)] == list(range(1, n + 1))


def _assembled_rows(table) -> dict[str, dict]:
    return {r["conv_id"]: r for r in table.to_pylist()}


def check_assembled(table, convs: dict[str, list[dict]]) -> list[str]:
    """``run_pipeline`` output against the input turns.

    Every conversation comes back once with its turn count. Its markdown is
    its turns in ``turn_idx`` order, stripped, empty ones dropped, joined
    with the section separator, a one-turn conversation as-is. Plain turns
    must appear unchanged; a payload turn's text is whatever lies between
    its plain neighbours, and for pdf and layout payloads it must carry one
    page header per decoded page, in page order. ``total_pages`` is the sum
    of the decoded page counts."""
    out = _assembled_rows(table)
    bad: list[str] = []
    if set(out) != set(convs):
        bad.append(f"conversations: {len(out)} out, {len(convs)} in")
    if sum(r["n_turns"] for r in out.values()) != sum(map(len, convs.values())):
        bad.append("sum of n_turns differs from the input turn count")
    for cid, rows in convs.items():
        r = out.get(cid)
        if r is None:
            continue
        md = r["conversation_markdown"]
        if r["n_turns"] != len(rows):
            bad.append(f"{cid}: n_turns {r['n_turns']} != {len(rows)}")
        if r["total_pages"] != sum(_expected_pages(t["text"]) for t in rows):
            bad.append(f"{cid}: total_pages {r['total_pages']}")
        if len(rows) == 1:
            if md != rows[0]["text"]:
                bad.append(f"{cid}: one-turn conversation changed")
            continue
        problem = _walk(md, [t["text"] for t in rows])
        if problem:
            bad.append(f"{cid}: {problem}")
        if len(bad) > 20:
            break
    return bad


def _walk(md: str, texts: list[str]) -> str | None:
    """Match ``md`` against the turns, plain turns as fixed anchors."""
    pos, first = 0, True
    kinds = [dialect(t) for t in texts]
    for i, text in enumerate(texts):
        if kinds[i] == "plain":
            s = text.strip()
            if not s:
                continue
            if not first:
                if not md.startswith(SEP, pos):
                    return f"no separator before turn {i}"
                pos += len(SEP)
            if not md.startswith(s, pos):
                return f"plain turn {i} not found unchanged"
            pos += len(s)
            first = False
            continue
        nxt = next((t.strip() for t, k in zip(texts[i + 1:], kinds[i + 1:])
                    if k == "plain" and t.strip()), None)
        if nxt is not None and not first and md.startswith(SEP + nxt, pos):
            seg = ""  # the payload extracted to nothing
        else:
            start = pos if first else pos + len(SEP)
            end = len(md) if nxt is None else md.find(SEP + nxt, start)
            if end < 0:
                return f"turn after payload {i} not found"
            seg, pos, first = md[start:end], end, False
        if kinds[i] in ("pdf", "layout") and not _headers_in_order(
            seg, payload_pages(text)
        ):
            return f"page headers of payload turn {i} out of order"
    return None if pos == len(md) else "trailing text"


def check_extracted(table, convs: dict[str, list[dict]]) -> list[str]:
    """``extract_transcripts`` output, one row per turn.

    Plain turns come back unchanged with one whole-text span. A pdf or
    layout turn's ``n_pages`` equals the decoded page count, its page
    headers are in page order, and every span slices its text to a
    non-empty, already stripped page."""
    turns = {(t["conv_id"], t["turn_idx"]): t["text"]
             for rows in convs.values() for t in rows}
    bad: list[str] = []
    rows = table.to_pylist()
    if len(rows) != len(turns) or {(r["conv_id"], r["turn_idx"]) for r in rows} != set(turns):
        bad.append(f"turns: {len(rows)} out, {len(turns)} in")
    for r in rows:
        text = turns.get((r["conv_id"], r["turn_idx"]))
        if text is None:
            continue
        kind, ext = dialect(text), r["extracted_text"]
        where = f"{r['conv_id']}/{r['turn_idx']}"
        if r["kind"] != kind:
            bad.append(f"{where}: kind {r['kind']} != {kind}")
        spans = [(s["offset"], s["length"]) for s in r["spans"]]
        if kind == "plain":
            if ext != text or spans != ([(0, len(text))] if text else []):
                bad.append(f"{where}: plain turn changed")
            continue
        if not r["valid"]:
            bad.append(f"{where}: valid payload marked invalid")
        kept = [ext[o:o + n] for o, n in spans if o >= 0]
        if not kept or any(not p or p != p.strip() for p in kept):
            bad.append(f"{where}: a span does not slice a stripped page")
        if kind in ("pdf", "layout"):
            n = payload_pages(text)
            if r["n_pages"] != n:
                bad.append(f"{where}: n_pages {r['n_pages']} != {n}")
            if not _headers_in_order(ext, n) or len(kept) != n:
                bad.append(f"{where}: pages out of order")
        if len(bad) > 20:
            break
    return bad


def _normalized(text: str) -> str:
    return "".join(
        c for c in text.lower() if unicodedata.category(c)[0] in "LN"
    )


def split_of(conv_id: str) -> str:
    """Holdout split from the first four hex digits of md5(conv_id)."""
    bucket = int(hashlib.md5(conv_id.encode()).hexdigest()[:4], 16) % 100
    return "val" if bucket < 10 else "test" if bucket < 20 else "train"


def check_curated(table, convs: dict[str, list[dict]]) -> list[str]:
    """``iter_curate_stages`` final output.

    Conversations come from the input, once each, no two with the same
    normalized text; ``n_words`` recounts, ``split`` recomputes from
    ``conv_id``, and no e-mail or IPv4 address survives redaction."""
    rows = table.to_pylist()
    bad: list[str] = []
    if not rows:
        bad.append("no conversation survived curation")
    ids = Counter(r["conv_id"] for r in rows)
    if any(c not in convs for c in ids) or any(n > 1 for n in ids.values()):
        bad.append("conv_id not in the input or repeated")
    norm = Counter(_normalized(r["text"]) for r in rows)
    if any(n > 1 for n in norm.values()):
        bad.append("two rows share a normalized text")
    for r in rows:
        words = [w for w in _JAVA_WS.split(r["text"]) if w]
        if r["n_words"] != len(words):
            bad.append(f"{r['conv_id']}: n_words {r['n_words']} != {len(words)}")
        if r["split"] != split_of(r["conv_id"]):
            bad.append(f"{r['conv_id']}: split {r['split']}")
        if _EMAIL.search(r["text"]) or _IPV4.search(r["text"]):
            bad.append(f"{r['conv_id']}: PII survived")
        if len(bad) > 20:
            break
    return bad


def turn_digests(rows) -> Counter:
    """Multiset of (conv_id, turn_idx, extracted_text), as digests."""
    return Counter(
        hashlib.md5(f"{r['conv_id']}\0{r['turn_idx']}\0{r['extracted_text']}"
                    .encode()).digest()
        for r in rows
    )


def check_resume(written, manifest, reference: Counter, n_first: int,
                 n_second: int, n_input: int, before: str, after: str
                 ) -> list[str]:
    """``run_resumable`` twice on the same input and manifest.

    The written table equals the extraction of the input as a multiset;
    the manifest has one ``done`` row per written bucket whose row count
    matches that bucket's rows; the second call processes nothing and
    leaves the output bytes unchanged."""
    bad: list[str] = []
    rows = written.to_pylist()
    if n_first != n_input or len(rows) != n_input:
        bad.append(f"first call: {n_first} processed, {len(rows)} written, "
                   f"{n_input} in")
    if turn_digests(rows) != reference:
        bad.append("written rows differ from the extraction of the input")
    per_bucket = Counter(r["bucket"] for r in rows)
    conv_buckets: dict[str, set] = {}
    for r in rows:
        conv_buckets.setdefault(r["conv_id"], set()).add(r["bucket"])
    if any(len(b) > 1 for b in conv_buckets.values()):
        bad.append("a conversation spans two buckets")
    done = [m for m in manifest.to_pylist() if m["status"] == "done"]
    done_buckets = Counter(m["bucket"] for m in done)
    if set(done_buckets) != set(per_bucket) or any(
        n != 1 for n in done_buckets.values()
    ):
        bad.append("manifest: not exactly one done row per bucket")
    if any(per_bucket.get(m["bucket"]) != m["rows"] for m in done):
        bad.append("manifest row counts differ from the written rows")
    if n_second != 0:
        bad.append(f"second call processed {n_second} rows")
    if before != after:
        bad.append("second call changed the output bytes")
    return bad
