"""Detector fixtures per FIXTURES.md §4 and
/root/reference/tests/test_validation_service.py:16-62 (semantics only)."""
from pdf_extractor_spark.config import ALL_PROBLEMS
from pdf_extractor_spark.kernels import detectors as d


def test_empty_tables_five_consecutive():
    content = ("| a | b | c |\n" + "|  |  |  |\n" * 5)
    assert d.detect_empty_tables(content)


def test_empty_tables_small_negative():
    content = "| a | b | c |\n" + "|  |  |  |\n" * 3
    assert not d.detect_empty_tables(content)


def test_low_content_density():
    assert d.detect_low_content_density("short")
    assert not d.detect_low_content_density("x" * 100)
    assert d.detect_low_content_density("")


def test_missing_numbers():
    content = "\n".join("| item | name |" for _ in range(10))
    assert d.detect_missing_numbers(content)
    content_with_nums = "\n".join(f"| item | {i} |" for i in range(10))
    assert not d.detect_missing_numbers(content_with_nums)


def test_inconsistent_columns():
    content = "| a | b | c |\n| a | b | c | d |\n| a | b | c | d | e |\n"
    assert d.detect_inconsistent_columns(content)
    consistent = "| a | b |\n| --- | --- |\n| 1 | 2 |\n"
    assert not d.detect_inconsistent_columns(consistent)


def test_repeated_characters():
    assert d.detect_repeated_characters("xxxxxxxxxxxx artifact")
    assert not d.detect_repeated_characters("------------ ruler is fine")
    assert not d.detect_repeated_characters("normal text")


def test_garbled_text():
    assert d.detect_garbled_text("ab@#$%^&*@#$%^&*")
    assert not d.detect_garbled_text("perfectly normal sentence with words 123")


def test_header_only_tables():
    content = "| a | b |\n| --- | --- |\n| 1 | 2 |"
    assert d.detect_header_only_tables(content)  # exactly 1 data row
    content2 = "| a | b |\n| --- | --- |\n| 1 | 2 |\n| 3 | 4 |"
    assert not d.detect_header_only_tables(content2)


def test_very_short_pages():
    assert d.detect_very_short_pages("tiny")
    assert not d.detect_very_short_pages("x" * 200)


def test_missing_keywords():
    filler = ("lorem ipsum dolor sit amet " * 30)
    assert d.detect_missing_keywords(filler)
    assert not d.detect_missing_keywords(filler + " balance")
    assert not d.detect_missing_keywords("short page")  # <500 chars skipped


def test_malformed_structure():
    content = "| a | b |\n| -x- | -y- |\n| 1 | 2 |"
    assert d.detect_malformed_structure(content)
    good = "| a | b |\n| --- | --- |\n| 1 | 2 |"
    assert not d.detect_malformed_structure(good)


def test_duplicate_content():
    para = "this paragraph is certainly longer than fifty characters in total"
    content = "\n\n".join([para, para, para])
    assert d.detect_duplicate_content(content)
    assert not d.detect_duplicate_content("\n\n".join([para, "other", "more"]))


def test_repetitive_numbers_table():
    assert d.detect_repetitive_numbers("| 1000 | 1000 | 1000 |")
    assert d.detect_repetitive_numbers("total 1000 1000 1000 end")
    assert not d.detect_repetitive_numbers("| 1000 | 2000 | 3000 |")


def test_unknown_characters():
    assert d.detect_unknown_characters("□□□ bad □□□")
    assert not d.detect_unknown_characters("clean text entirely")


def test_markdown_images():
    assert d.detect_markdown_images("![img-01.jpeg](img-01.jpeg)")
    assert not d.detect_markdown_images("no images [link](x) here")


def test_detect_problems_empty_content():
    assert d.detect_problems("") == ["empty_content"]


def test_detect_problems_enabled_subset():
    content = "tiny"
    out = d.detect_problems(content, enabled=["very_short_pages"])
    assert out == ["very_short_pages"]


def test_registry_complete():
    assert set(d.DETECTOR_REGISTRY) == set(ALL_PROBLEMS)


# --- C-speed counting parity (the [^\W_] == isalnum equivalence) ---

import re

from hypothesis import example, given, settings
from hypothesis import strategies as st

from pdf_extractor_spark.config import DEFAULT_ENABLED_PROBLEMS
from pdf_extractor_spark.kernels.numbers import extract_numbers

_text = st.text(
    alphabet=st.characters(codec="utf-8"),
    max_size=400,
)
# PageStats counts ASCII pages on bytes and the rest with regex runs
_ascii_text = st.text(alphabet=st.characters(max_codepoint=127), max_size=400)


@given(st.one_of(_text, _ascii_text))
@settings(max_examples=300, deadline=None)
def test_alnum_count_matches_isalnum(s):
    stats = d.PageStats(s)
    assert stats.alnum == sum(c.isalnum() for c in s)
    assert stats.common == sum(c in d._COMMON_CHARS for c in s)


@given(_text)
@settings(max_examples=300, deadline=None)
def test_garbled_matches_per_char_reference(s):
    alnum = sum(c.isalnum() for c in s)
    if not s:
        expect = False
    elif alnum == 0:
        expect = True
    else:
        special = sum(
            (not c.isalnum()) and c not in d._COMMON_CHARS for c in s
        )
        expect = special / alnum > 0.2
    assert d.detect_garbled_text(s) == expect


@given(_text)
@settings(max_examples=300, deadline=None)
def test_low_density_matches_per_char_reference(s):
    expect = True if not s else sum(c.isalnum() for c in s) < 100
    assert d.detect_low_content_density(s) == expect


def test_counting_on_mixed_scripts():
    s = 'דוח כספי 2024 — total: 1,234.56 ₪ (☐□) "quoted"\n| a | b |'
    assert d.PageStats(s).alnum == sum(c.isalnum() for c in s)


# --- fused detectors == the one-regex definitions they replaced ---

def _spec_table_lines(s):
    return [ln.strip() for ln in s.split("\n") if ln.strip().startswith("|")]


def _spec_garbled(s):
    alnum = sum(c.isalnum() for c in s)
    if alnum == 0:
        return True
    special = sum((not c.isalnum()) and c not in d._COMMON_CHARS for c in s)
    return special / alnum > 0.2


def _spec_header_only(s):
    lines = _spec_table_lines(s)
    seps = [i for i, ln in enumerate(lines) if "---" in ln]
    return len(lines) >= 2 and bool(seps) and len(lines) - seps[0] - 1 <= 1


def _spec_malformed(s):
    lines = _spec_table_lines(s)
    if len(lines) < 2:
        return False
    for sep in (ln for ln in lines if "-" in ln):
        flags = [set(p.strip()) <= {"-", " "} for p in sep.split("|") if p.strip()]
        if flags and sum(flags) / len(flags) < 0.7:
            return True
    return False


def _spec_duplicate(s):
    paras = [p.strip() for p in s.split("\n\n") if p.strip()]
    return len(paras) >= 3 and any(
        paras.count(p) >= 3 and len(p) > 50 for p in paras
    )


def _spec_unknown(s):
    unknown = sum(s.count(ch) for ch in "□�☐▯▢▣")
    unknown += len(re.findall(r"\s\?\s", s))
    return unknown / len(s) > 0.05


# each detector as it read before the per-page stats record: one scan of
# the page per figure, with no guards
_SPEC = {
    "empty_tables": lambda s: re.search(r"(\|\s*\|\s*\|.*\n){5,}", s) is not None,
    "low_content_density": lambda s: sum(c.isalnum() for c in s) < 100,
    "missing_numbers": lambda s: s.count("|") / 4 >= 5 and not extract_numbers(s),
    "inconsistent_columns": lambda s: len(_spec_table_lines(s)) >= 3 and len(
        {ln.count("|") - 1 for ln in _spec_table_lines(s)}) > 2,
    "repeated_characters": lambda s: any(
        m not in " -_=*\n" for m in re.findall(r"(.)\1{9,}", s)),
    "garbled_text": _spec_garbled,
    "header_only_tables": _spec_header_only,
    "very_short_pages": lambda s: len(s.strip()) < 200,
    "missing_keywords": lambda s: len(s) >= 500 and not any(
        kw in s.lower() for kw in d.FINANCIAL_KEYWORDS),
    "malformed_structure": _spec_malformed,
    "duplicate_content": _spec_duplicate,
    "unknown_characters": _spec_unknown,
    "repetitive_numbers": lambda s: bool(
        re.search(r"\|\s*(\d+(?:[.,]\d+)?)\s*\|(?:\s*\1\s*\|){2,}", s)
        or re.search(r"\b(\d+(?:[.,]\d+)?)\s+(?:\1\s+){2,}", s)),
    "markdown_images": lambda s: re.search(r"!\[([^\]]*)\]\(([^\)]+)\)", s) is not None,
}

# pieces that reach the table, number and image regexes far more often than
# arbitrary text does: st.characters almost never yields "| 7 | 7 | 7 |"
_PIECES = [
    "|", "|", "| ", " |", "|  |  |  |\n", "---", "-", "7", "7", "42", "0",
    "1,5", "3.25", ".", ",", " ", " ", "  ", "\n", "\n", "\t", "![", "](",
    "]", ")", "x.png", "a", "Ab", "total", "□", "?", " ? ", "ש", "\xa0", "_",
    "-3", "%", "₪",
]
_pages = st.lists(st.sampled_from(_PIECES), max_size=120).map("".join)
_enabled = st.one_of(
    st.just(DEFAULT_ENABLED_PROBLEMS),
    st.lists(st.sampled_from(ALL_PROBLEMS), unique=True),
)


@given(_pages, _enabled)
# pages at the edge of each guard in kernels/detectors.py, which random
# pages seldom hit
@example("|  |  |\n" * 5, ["empty_tables"])  # 15 pipes
@example("| a | b | c | d |\n" * 4, ["missing_numbers"])  # 20 pipes
@example("| 7 | 7 | 7 |", ["repetitive_numbers"])  # 4 pipes
@example("7\t7\n7 ", ["repetitive_numbers"])  # the digit gap is not a space
@example("x7 7 7 _7 7 7 ", ["repetitive_numbers"])  # no boundary before a 7
@example("|---\n|x", ALL_PROBLEMS)  # two table lines from two pipes
@example("![b](c)", ["markdown_images"])
@settings(max_examples=600, deadline=None)
def test_detect_problems_matches_one_regex_spec(page, enabled):
    expect = ["empty_content"] if not page else [
        n for n in enabled if _SPEC[n](page)
    ]
    assert d.detect_problems(page, enabled) == expect
    for name in enabled:
        assert d.DETECTOR_REGISTRY[name](page) == (
            _SPEC[name](page) if page else name in ("low_content_density",
                                                    "very_short_pages")
        )
