r"""Quality-problem detectors (14 patterns) for extracted markdown pages.

Behavioral parity target: /root/reference/src/services/validation/problem_detector.py
(thresholds at :33,:78,:103,:130,:146,:178,:207,:224,:236,:292,:317,:339-348,:376,:394).

Every detector reads one ``PageStats`` record instead of rescanning the page
for the figures several of them share:

- ``length`` and ``pipes`` (the ``|`` count);
- ``alnum`` and ``common``: the ``str.isalnum`` characters and the
  ``_COMMON_CHARS`` characters. An ASCII page (``str.isascii()``) is counted
  by two ``bytes.translate(None, delete)`` calls; any other page by summing
  the runs of ``[^\W_]`` and of the common-char class. CPython's re
  classifies ``\w`` with the predicate ``str.isalnum`` uses plus ``_``, so
  ``[^\W_]`` matches exactly the isalnum characters (pinned by hypothesis
  tests in test_kernels_detectors);
- ``table_lines``: the stripped lines that start with ``|``, built only when
  the page has at least 2 pipes, since each such line holds one and no
  reader looks at fewer than 2 lines.

``detect_problems`` builds the record once per page and runs the enabled set;
each ``DETECTOR_REGISTRY`` entry stays a ``str -> bool`` that builds the
record itself. Guards in front of the regexes are necessary conditions, so
they skip a page only when the regex could not match it:

- ``empty_tables`` needs 15 pipes: five lines of three literal ``|`` each;
- the table repeat of ``repetitive_numbers`` needs 4 pipes: one before the
  number, one after it and one per repeat, of which there are at least two;
- its text repeat needs a digit, whitespace and a digit (``\d\s+\d``): the
  end of the first number, the gap and the start of the second;
- ``missing_numbers`` needs ``pipes / 4 >= 5``, which is ``pipes >= 20``,
  before it looks for a number;
- ``markdown_images`` needs the literal ``![``.

Two patterns are rewritten so that ``sre`` can skip to the characters a
match starts with instead of trying every position; each accepts exactly
the pages the old form did:

- ``empty_tables``: ``(X){5,}`` is written ``X(?:X){4,}``, which starts
  with a literal ``|``;
- the text repeat writes ``\b\d+`` as ``\d(?<!\w\d)\d*``: a digit is a
  word character, so a boundary before it means "the character before is
  not a word character", which the lookbehind tests.
"""
from __future__ import annotations

import re
from collections import Counter
from typing import Callable, Dict, List, Optional, Tuple

from ..config import DEFAULT_ENABLED_PROBLEMS
from .numbers import has_extractable_number

_EMPTY_TABLE_RE = re.compile(r"\|\s*\|\s*\|.*\n(?:\|\s*\|\s*\|.*\n){4,}")
_REPEAT_CHAR_RE = re.compile(r"(.)\1{9,}")
_REPEAT_CHAR_ALLOWED = {" ", "-", "_", "=", "*", "\n"}
_COMMON_CHARS = set(" \n\t.,;:!?-()[]{}\"'/\\|")
_ALNUM_RUN_RE = re.compile(r"[^\W_]+")
_COMMON_RUN_RE = re.compile("[" + re.escape("".join(sorted(_COMMON_CHARS))) + "]+")
_ASCII_ALNUM = bytes(c for c in range(128) if chr(c).isalnum())
_COMMON_BYTES = "".join(sorted(_COMMON_CHARS)).encode("ascii")
_TABLE_NUM_REPEAT_RE = re.compile(r"\|\s*(\d+(?:[.,]\d+)?)\s*\|(?:\s*\1\s*\|){2,}")
_TEXT_NUM_REPEAT_RE = re.compile(r"(\d(?<!\w\d)\d*(?:[.,]\d+)?)\s+(?:\1\s+){2,}")
_DIGIT_GAP_RE = re.compile(r"\d\s+\d")
_UNKNOWN_CHARS = ["□", "�", "☐", "▯", "▢", "▣"]
_STANDALONE_Q_RE = re.compile(r"\s\?\s")
_MD_IMAGE_RE = re.compile(r"!\[([^\]]*)\]\(([^\)]+)\)")

FINANCIAL_KEYWORDS = [
    "revenue", "expense", "balance", "asset", "liability", "equity",
    "income", "profit", "loss", "debit", "credit", "account",
    "total", "subtotal", "amount", "date", "transaction", "payment",
    "statement", "bank", "financial", "report", "summary",
    "הכנסות", "הוצאות", "יתרה", "חשבון", "סכום",
    'סה"כ', "זכות", "חובה", "תאריך", "עסקה",
    "תשלום", "דוח", "כספי", "מאזן", "רווח", "הפסד",
]


class PageStats:
    """The per-page figures the detectors share, computed once."""

    __slots__ = ("text", "length", "pipes", "alnum", "common", "table_lines")

    def __init__(self, text: str):
        self.text = text
        self.length = len(text)
        self.pipes = text.count("|")
        if text.isascii():
            raw = text.encode("ascii")
            self.alnum = self.length - len(raw.translate(None, _ASCII_ALNUM))
            self.common = self.length - len(raw.translate(None, _COMMON_BYTES))
        else:
            self.alnum = sum(map(len, _ALNUM_RUN_RE.findall(text)))
            self.common = sum(map(len, _COMMON_RUN_RE.findall(text)))
        self.table_lines: Tuple[str, ...] = tuple(
            s for ln in text.split("\n")
            if "|" in ln and (s := ln.strip()).startswith("|")
        ) if self.pipes >= 2 else ()


# name -> the detector over a PageStats record / over the page text
_ON_STATS: Dict[str, Callable[[PageStats], bool]] = {}
DETECTOR_REGISTRY: Dict[str, Callable[[str], bool]] = {}


def _detector(name: str):
    """Register a ``PageStats -> bool`` detector under *name* and return its
    ``str -> bool`` form, which builds the record itself."""
    def register(on_stats: Callable[[PageStats], bool]) -> Callable[[str], bool]:
        _ON_STATS[name] = on_stats

        def on_text(content: str) -> bool:
            return on_stats(PageStats(content))

        on_text.__name__ = on_stats.__name__
        on_text.__doc__ = on_stats.__doc__
        DETECTOR_REGISTRY[name] = on_text
        return on_text
    return register


@_detector("empty_tables")
def detect_empty_tables(p: PageStats) -> bool:
    """>=5 consecutive mostly-empty table lines ``| | |``."""
    return p.pipes >= 15 and _EMPTY_TABLE_RE.search(p.text) is not None


@_detector("low_content_density")
def detect_low_content_density(p: PageStats) -> bool:
    """Fewer than 100 alphanumeric characters (empty content counts)."""
    return p.alnum < 100


@_detector("missing_numbers")
def detect_missing_numbers(p: PageStats) -> bool:
    """Roughly >=5 table rows (pipes/4) but zero extractable numbers."""
    return p.pipes >= 20 and not has_extractable_number(p.text)


@_detector("inconsistent_columns")
def detect_inconsistent_columns(p: PageStats) -> bool:
    """More than 2 distinct per-row column counts among pipe-rows."""
    lines = p.table_lines
    return len(lines) >= 3 and len({ln.count("|") - 1 for ln in lines}) > 2


@_detector("repeated_characters")
def detect_repeated_characters(p: PageStats) -> bool:
    """Same char repeated 10+ times, excluding intentional fillers."""
    return any(
        m not in _REPEAT_CHAR_ALLOWED for m in _REPEAT_CHAR_RE.findall(p.text)
    )


@_detector("garbled_text")
def detect_garbled_text(p: PageStats) -> bool:
    """Special-char to alphanumeric ratio above 0.2."""
    if not p.length:
        return False
    if p.alnum == 0:
        return True
    # every char is alnum XOR common XOR special (common chars are all
    # non-alnum), so special falls out of the two counts
    special = p.length - p.alnum - p.common
    return special / p.alnum > 0.2


@_detector("header_only_tables")
def detect_header_only_tables(p: PageStats) -> bool:
    """Table with a separator row but <=1 data row after it."""
    lines = p.table_lines
    if len(lines) < 2:
        return False
    sep_indices = [i for i, ln in enumerate(lines) if "---" in ln]
    if not sep_indices:
        return False
    return len(lines) - sep_indices[0] - 1 <= 1


@_detector("very_short_pages")
def detect_very_short_pages(p: PageStats) -> bool:
    """Stripped length under 200 characters (empty counts)."""
    return len(p.text.strip()) < 200


@_detector("missing_keywords")
def detect_missing_keywords(p: PageStats) -> bool:
    """Substantial page (>=500 chars) containing no financial keyword."""
    if p.length < 500:
        return False
    lower = p.text.lower()
    return not any(kw in lower for kw in FINANCIAL_KEYWORDS)


@_detector("malformed_structure")
def detect_malformed_structure(p: PageStats) -> bool:
    """A table separator row where >30% of parts aren't dashes/spaces."""
    if len(p.table_lines) < 2:
        return False
    for sep in (ln for ln in p.table_lines if "-" in ln):
        flags = [set(s.strip()) <= {"-", " "} for s in sep.split("|") if s.strip()]
        if flags and sum(flags) / len(flags) < 0.7:
            return True
    return False


@_detector("duplicate_content")
def detect_duplicate_content(p: PageStats) -> bool:
    """Same >50-char paragraph appearing 3+ times."""
    paragraphs = [s.strip() for s in p.text.split("\n\n") if s.strip()]
    if len(paragraphs) < 3:
        return False
    return any(
        count >= 3 and len(para) > 50 for para, count in Counter(paragraphs).items()
    )


@_detector("unknown_characters")
def detect_unknown_characters(p: PageStats) -> bool:
    """Ratio of replacement glyphs + standalone '?' above 5%."""
    if not p.length:
        return False
    unknown = sum(p.text.count(ch) for ch in _UNKNOWN_CHARS)
    unknown += len(_STANDALONE_Q_RE.findall(p.text))
    return unknown / p.length > 0.05


@_detector("repetitive_numbers")
def detect_repetitive_numbers(p: PageStats) -> bool:
    """Same number 3+ times adjacent, in table cells or space-separated text."""
    if p.pipes >= 4 and _TABLE_NUM_REPEAT_RE.search(p.text):
        return True
    return (_DIGIT_GAP_RE.search(p.text) is not None
            and _TEXT_NUM_REPEAT_RE.search(p.text) is not None)


@_detector("markdown_images")
def detect_markdown_images(p: PageStats) -> bool:
    """Any markdown image reference ``![alt](path)``."""
    return "![" in p.text and _MD_IMAGE_RE.search(p.text) is not None


def detect_problems(
    content: str, enabled: Optional[List[str]] = None
) -> List[str]:
    """Return the names of all enabled problems detected in *content*.

    Empty content short-circuits to ``['empty_content']`` (reference:
    problem_detector.py:465-466).
    """
    if not content:
        return ["empty_content"]
    if enabled is None:
        enabled = DEFAULT_ENABLED_PROBLEMS
    stats = PageStats(content)
    return [name for name in enabled
            if name in _ON_STATS and _ON_STATS[name](stats)]
