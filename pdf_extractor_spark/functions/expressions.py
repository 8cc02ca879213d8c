"""JVM-side Column expression builders — the fast path.

Everything here stays inside whole-stage codegen: no Python in the hot loop.
Each builder mirrors a kernel function; where byte-parity with the Python
kernel matters (e.g. the Unicode normalizer) the Java-regex flavor is chosen
to match Python semantics and is pinned by tests.
"""
from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..config import (
    DEFAULT_WORKFLOW,
    MARKDOWN_SECTION_SEPARATOR,
    QUERY_WORKFLOW_MAPPING,
    VALIDATION_SAMPLE_RATE,
)


def normalize_for_comparison_expr(col: Column) -> Column:
    """X1: keep only Unicode alphanumerics, lowercase.

    ``\\p{L}\\p{N}`` works identically in Java regex (Spark) and RE2 (DuckDB
    oracle); matches the Python kernel's ``[\\W_]`` complement.
    """
    return F.lower(F.regexp_replace(col, r"[^\p{L}\p{N}]+", ""))


def page_header_expr(page_idx: Column, zero_based: bool = True) -> Column:
    """X6: ``'# Page {n}\\n\\n'`` built from columns."""
    display = (page_idx + 1) if zero_based else page_idx
    return F.concat(F.lit("# Page "), display.cast("string"), F.lit("\n\n"))


def safe_filename_expr(title: Column, max_len: int = 50) -> Column:
    """X7: sanitize to filename (ASCII-alnum/space/dash/underscore kept)."""
    kept = F.regexp_replace(title, r"[^0-9A-Za-z _\-]", "")
    return F.replace(F.trim(F.substring(kept, 1, max_len)), F.lit(" "), F.lit("_"))


def levenshtein_similarity_expr(a: Column, b: Column) -> Column:
    """X13 on pre-normalized inputs: 1 - dist/max_len with empty-edge rules."""
    na, nb = normalize_for_comparison_expr(a), normalize_for_comparison_expr(b)
    la, lb = F.length(na), F.length(nb)
    return (
        F.when((la == 0) & (lb == 0), F.lit(1.0))
        .when((la == 0) | (lb == 0), F.lit(0.0))
        .otherwise(1.0 - F.levenshtein(na, nb) / F.greatest(la, lb))
    )


def jaccard_words_expr(a: Column, b: Column) -> Column:
    """X14 core: word-set Jaccard via array_intersect/array_union."""
    wa = F.array_distinct(F.split(a, r"\s+"))
    wb = F.array_distinct(F.split(b, r"\s+"))
    wa = F.filter(wa, lambda x: x != "")
    wb = F.filter(wb, lambda x: x != "")
    union = F.size(F.array_union(wa, wb))
    return F.when(union == 0, F.lit(1.0)).otherwise(
        F.size(F.array_intersect(wa, wb)) / union
    )


def workflow_router_expr(query: Column, mapping: Optional[Dict[str, str]] = None) -> Column:
    """F2: first query-substring match in the routing table wins, else the
    default workflow. Pure CASE-WHEN chain — constant-folded by Catalyst."""
    mapping = mapping if mapping is not None else QUERY_WORKFLOW_MAPPING
    expr = None
    low = F.lower(F.trim(query))
    for pattern, workflow in mapping.items():
        cond = F.contains(low, F.lit(pattern.lower()))
        expr = F.when(cond, F.lit(workflow)) if expr is None else expr.when(cond, F.lit(workflow))
    default = F.lit(DEFAULT_WORKFLOW)
    if expr is None:
        return default
    return F.when(query.isNull() | (F.trim(query) == ""), default).otherwise(
        expr.otherwise(default)
    )


def sampling_predicate_expr(
    turn_idx: Column, offset: Column, rate: int = VALIDATION_SAMPLE_RATE
) -> Column:
    """F3: validate every Nth page with a deterministic per-doc offset
    (seeded hash replaces the reference's random.randint for rerun
    determinism)."""
    return F.pmod(turn_idx - offset, F.lit(rate)) == 0


def floordiv_sql(a: str, b: int) -> str:
    """SQL floor division over integers — correct for NEGATIVE dividends.
    Spark's ``div`` truncates toward zero (``-4 div 7 = 0``), which for
    calendar bucketing silently merges everything in the week/hour BEFORE
    the epoch into bucket 0 alongside the week/hour after it — a real
    semantic bug even though DuckDB's ``//`` happens to truncate the same
    way. Subtracting the always-non-negative ``pmod`` makes the dividend
    an exact multiple of ``b``, so truncation equals floor — integer-exact,
    no double roundtrip. Pair with :func:`floordiv_duck` on the oracle
    side."""
    return f"((({a}) - pmod(({a}), {b})) div {b})"


def floordiv_duck(a: str, b: int) -> str:
    """The DuckDB twin of :func:`floordiv_sql`. DuckDB's integer ``//``
    ALSO truncates toward zero (``-4 // 7 = 0``) and its ``%`` carries the
    dividend's sign, so floor division must be spelled out there too:
    normalize the remainder to non-negative, subtract, then the exact
    ``//`` of a multiple equals floor. Keep every Spark/oracle bucketing
    pair on these two helpers so neither engine's native negative-division
    semantics is ever load-bearing."""
    return f"((({a}) - (((({a}) % {b}) + {b}) % {b})) // {b})"


def top_k(
    df: DataFrame, k: int, order: Sequence, by: Sequence[str] = ()
) -> DataFrame:
    """The first ``k`` rows of each ``by`` group (of the whole frame when
    ``by`` is empty) under ``order``, numbered 1..k as a bigint ``rk``
    column — the one top-K behind every ranked top-K in the registry.

    One ``row_number()`` window filtered to ``rk <= k``. Spark's
    InferWindowGroupLimit rule (SPARK-37099) plans it as a two-stage
    top-K: a grouped rank gets a ``WindowGroupLimit … Partial`` before the
    Exchange (no task ships more than k rows per group) and a ``Final``
    after it; a whole-frame rank becomes ``TakeOrderedAndProject`` (each
    task keeps its own top k; one task merges them). The rule fires only
    while k <= ``spark.sql.optimizer.windowGroupLimitThreshold`` (default
    1000) and the window spec carries no other function; the largest k in
    the registry is VOCAB_TOP_K = 100. scripts/plan_check.py pins the
    native shape for every caller.

    ``order`` must be a total order (end it on a unique key), or ties make
    the kept rows depend on the partitioning."""
    return (
        df.withColumn(
            "rk", F.row_number().over(Window.partitionBy(*by).orderBy(*order))
        )
        .where(F.col("rk") <= k)
        .withColumn("rk", F.col("rk").cast("long"))
    )


def chunk_id_expr(page_idx: Column, pages_per_chunk: int = 15) -> Column:
    """P3: fixed page-count chunking as a pure projection."""
    return F.floor(page_idx / pages_per_chunk).cast("int")


def token_count_expr(text: Column) -> Column:
    """BPE-ish token count, JVM-side: alpha runs | digit runs | single symbol."""
    return F.size(
        F.filter(
            F.split(F.regexp_replace(text, r"([A-Za-z]+|\d+|[^\sA-Za-z\d])", "$1 "), " "),
            lambda x: F.trim(x) != "",
        )
    )


# Every code point str.isspace() accepts, i.e. what Python's str.strip()
# strips: the Unicode White_Space set plus the \x1c-\x1f separators, which
# are not White_Space. Written out so that no import enumerates 0x110000
# code points; tests/test_unicode_parity.py pins it to that enumeration.
PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680"
    "\u2000\u2001\u2002\u2003\u2004\u2005\u2006\u2007\u2008\u2009\u200a"
    "\u2028\u2029\u202f\u205f\u3000"
)


def py_strip(col: Column) -> Column:
    """Python ``str.strip()`` as a JVM expression. ``btrim`` only looks at the
    two ends; an anchored whitespace regex is tried at every whitespace run
    of the whole text."""
    return F.btrim(col, F.lit(PY_WHITESPACE))


def combine_sections_expr(
    sections_array: Column,
    separator: str = MARKDOWN_SECTION_SEPARATOR,
    empty_message: str = "# No content extracted\n\n",
) -> Column:
    """A1 in pure SQL: strip each, drop empties, join; singleton as-is;
    empty -> message. ``py_strip`` reproduces Python ``str.strip()``
    exactly, including Unicode whitespace."""
    nonempty = F.filter(
        F.transform(sections_array, py_strip), lambda s: s != ""
    )
    return (
        F.when(F.size(sections_array) == 0, F.lit(empty_message))
        .when(F.size(sections_array) == 1, F.element_at(sections_array, 1))
        .otherwise(F.array_join(nonempty, separator))
    )


def cosine_similarity_expr(a: Column, b: Column) -> Column:
    """Embedding cosine similarity over two array<float/double> columns,
    entirely in JVM expressions (zip_with + aggregate)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    norm_a = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))
    norm_b = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, v: acc + v * v))
    return F.when((norm_a == 0) | (norm_b == 0), F.lit(0.0)).otherwise(
        dot / (norm_a * norm_b)
    )


def word_shingles_expr(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles (space-joined), JVM-side.

    Implemented by zipping k shifted copies of the words array rather than
    slicing inside a ``transform`` lambda: a lambda body re-evaluates every
    captured expression per element, which turns split-inside-slide into
    O(words^2) per document. The shifted-zip form evaluates the split k+1
    times per row total.
    """
    assert k == 3, "shifted-zip form below is written for k=3"
    words = F.filter(F.split(text, r"\s+"), lambda x: x != "")
    n = F.size(words)
    z = F.arrays_zip(
        words,
        F.slice(words, 2, F.greatest(n - 1, F.lit(0))),
        F.slice(words, 3, F.greatest(n - 2, F.lit(0))),
    )
    joined = F.transform(
        z, lambda s: F.concat_ws(" ", s["0"], s["1"], s["2"])
    )
    return (
        F.when(n == 0, F.array().cast("array<string>"))
        .when(n < k, F.array(F.array_join(words, " ")))
        .otherwise(F.array_distinct(F.slice(joined, 1, n - (k - 1))))
    )
