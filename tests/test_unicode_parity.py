"""Unicode-edge parity: the code-review findings class — ASCII-only regex
classes silently diverging from Python's Unicode semantics. Pins:

1. the language-ID DuckDB oracle against the Python kernel on non-ASCII
   stopwords ('für'), Hebrew/Arabic/CJK scripts, and NBSP whitespace;
2. the A1 combine expression against the kernel on Unicode whitespace
   (NBSP, NEL, ideographic space, \\x1c-\\x1f separators);
3. ``PY_WHITESPACE`` against ``str.isspace()``, and the JVM strip (the
   combine expression, alone and through ``assemble_conversations``)
   against ``str.strip()`` on every one of its code points and on
   non-whitespace lookalikes.
"""
import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pdf_extractor_spark.config import MARKDOWN_SECTION_SEPARATOR
from pdf_extractor_spark.functions.expressions import (
    PY_WHITESPACE,
    combine_sections_expr,
)
from pdf_extractor_spark.kernels.segment import combine_markdown_sections
from pdf_extractor_spark.kernels.textstats import detect_language, quality_score
from pdf_extractor_spark.plans.pipeline import assemble_conversations

UNICODE_DOCS = [
    "für der die und das von ist den mit auf",          # de incl. non-ASCII
    "the and of to in is that for with was",            # en
    "le la de et les des est dans que une",             # fr
    "שלום עולם זהו מסמך בעברית עם מספיק טקסט כדי לבדוק",  # Hebrew script
    "هذا نص عربي طويل بما يكفي لاختبار الكشف عن اللغة هنا",  # Arabic script
    "这是一个足够长的中文文本用来测试语言检测启发式方法",       # CJK
    "the and of to in is that",  # NBSP-separated
    "no stopwords here xyzzy plugh quux",               # und
    "",                                                  # empty
    # NFD/decomposed accents: combining marks are NOT \w in CPython, so the
    # kernel splits 'thé' at the mark — the oracle must do the same
    "thé lé dé et les des est dans que une",
    "für der die und das von ist den mit auf",  # decomposed 'für'
]


def test_language_oracle_matches_kernel_on_unicode():
    import __spark_entry__ as entry_mod

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame({"doc_id": range(len(UNICODE_DOCS)), "text": UNICODE_DOCS}),
    )
    got = {
        int(r[0]): (r[1], bool(r[2]))
        for r in con.execute(entry_mod.oracle_sql()["language_id"]).fetchall()
    }
    for i, text in enumerate(UNICODE_DOCS):
        expected = (detect_language(text), quality_score(text) > 0.5)
        assert got[i] == expected, (i, text[:30], got[i], expected)


UNICODE_SECTIONS = [
    ["hello ", "world"],
    ["  \x85", "keep"],
    ["\x1c\x1dxx\x1f", "y"],
    ["a", "　", "b"],
    [" line ", "next"],
    ["only one "],
    ["", "  ", "\t"],
    ["שלום עולם ", " המשך"],
]


def test_combine_expr_matches_kernel_on_unicode_whitespace(spark):
    df = spark.createDataFrame(
        [(c,) for c in UNICODE_SECTIONS], "secs array<string>"
    )
    got = [r[0] for r in df.select(combine_sections_expr(F.col("secs"))).collect()]
    expected = [combine_markdown_sections(c) for c in UNICODE_SECTIONS]
    assert got == expected


# zero-width space, Mongolian vowel separator, word joiner, BOM: none of
# them is str.isspace(), so str.strip() keeps them
NON_SPACE_LOOKALIKES = "\u200b\u180e\u2060\ufeff"


def test_py_whitespace_is_every_isspace_code_point():
    assert PY_WHITESPACE == "".join(
        chr(c) for c in range(0x110000) if chr(c).isspace()
    )


# one three-section conversation per character: the character leads and
# trails the first and last sections, sits inside the first, and is all of
# the middle one
STRIP_CASES = [
    [f"{w}{w}a{w}b{w}", w * 3, f"{w}c{w}{w}"]
    for w in PY_WHITESPACE + NON_SPACE_LOOKALIKES
]


def test_jvm_strips_match_str_strip_on_every_whitespace(spark):
    cases = STRIP_CASES
    expected = [combine_markdown_sections(c) for c in cases]
    sep = MARKDOWN_SECTION_SEPARATOR
    # str.strip() drops each whitespace at both ends, keeps it inside, and
    # keeps every lookalike
    assert expected == (
        [f"a{w}b{sep}c" for w in PY_WHITESPACE]
        + [sep.join(c) for c in cases[len(PY_WHITESPACE):]]
    )
    df = spark.createDataFrame(
        [(c,) for c in cases], "secs array<string>"
    )
    got = [r[0] for r in df.select(combine_sections_expr(F.col("secs"))).collect()]
    assert got == expected

    extracted = spark.createDataFrame(
        [(f"c{i:02d}", t, text, 0, [], [])
         for i, secs in enumerate(cases) for t, text in enumerate(secs)],
        "conv_id string, turn_idx int, extracted_text string, n_pages int, "
        "problems array<string>, repaired_pages array<int>",
    )
    # the same strip through the product assembly path
    assembled = {
        r["conv_id"]: r["conversation_markdown"]
        for r in assemble_conversations(extracted).collect()
    }
    assert [assembled[f"c{i:02d}"] for i in range(len(cases))] == expected
