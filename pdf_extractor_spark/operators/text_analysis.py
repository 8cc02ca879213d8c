"""Text-analysis operators over ``documents``: token counting, quality
features, md5 fingerprinting (oracle-checked), plus heuristic language ID and
FNV fingerprints (UDF-backed, rows-only checks).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.expressions import (
    nonblank_lines_sql,
    normalize_for_comparison_expr,
    split_words_sql,
    sql_literal,
    token_count_expr,
    top_k,
)
from ..functions.udfs import detect_language_udf, quality_score_udf
from .text_ops import SPLIT_TEST_PCT, SPLIT_VAL_PCT


def _docs(spark, sf_dir):
    from . import load
    return load(spark, sf_dir, "documents")


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token counts, JVM-side regex — no Python."""
    return _docs(spark, sf_dir).select(
        "doc_id", token_count_expr(F.col("text")).alias("n_tokens")
    )


def q_quality_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring feature vector: char/word counts + alpha ratio."""
    docs = _docs(spark, sf_dir)
    n_chars = F.length("text")
    n_words = F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
    n_alpha = F.length(F.regexp_replace("text", r"[^\p{L}]+", ""))
    return docs.select(
        "doc_id",
        n_chars.alias("n_chars_text"),
        n_words.alias("n_words"),
        F.round(n_alpha / n_chars, 6).alias("alpha_ratio"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 document fingerprint over normalized text (dedup/lineage key)."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.md5(normalize_for_comparison_expr(F.col("text"))).alias("fingerprint"),
    )


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic stopword/script language ID through the Arrow kernel UDF;
    the DuckDB oracle re-derives the same decision procedure in SQL
    (generated below from the same stopword tables, so they cannot drift).
    The quality score rides along via the same batch; its arithmetic is
    pinned separately by kernel unit tests and q_quality_features."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        detect_language_udf(F.col("text")).alias("lang_guess"),
        (quality_score_udf(F.col("text")) > 0.5).alias("quality_ok"),
    )


# RE2 equivalents of Python's Unicode-aware \w and str.split() whitespace:
# RE2's \w and \s are ASCII-only, so spelled-out classes are required for
# exact kernel parity (e.g. German 'für' must count as one word).
# NO \p{M}: CPython's \w does NOT match combining marks (verified: U+0301
# fails re.match(r"\w")), so on decomposed text the kernel splits at the mark
# — the oracle must split identically or lang_guess diverges on NFD corpora.
_RE2_WORD = r"[\p{L}\p{N}_]+"
_RE2_PY_WS = (
    r"[\s\x{000b}\x{001c}-\x{001f}\x{0085}\x{00a0}\x{1680}"
    r"\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]+"
)


def _language_id_oracle() -> str:
    """SQL replica of kernels.textstats.detect_language: script-ratio checks
    first, then best stopword hit-count over the sorted language list with
    strict-greater tie-breaking, 'und' below 2 hits."""
    from ..kernels.textstats import STOPWORDS

    hit_cols = []
    for lang in sorted(STOPWORDS):
        terms = " + ".join(
            f"list_contains(ws, '{sw}')::INT" for sw in STOPWORDS[lang]
        )
        hit_cols.append(f"({terms}) AS h_{lang}")
    hit_cols_sql = ", ".join(hit_cols)
    langs = sorted(STOPWORDS)
    best = "greatest(" + ", ".join(f"h_{lg}" for lg in langs) + ")"
    pick = " ".join(
        f"WHEN h_{lg} = {best} THEN '{lg}'" for lg in langs
    )
    lower_words = ("list_distinct(list_transform(list_filter("
                   f"regexp_split_to_array(text, '{_RE2_PY_WS}'), x -> x <> ''), "
                   "x -> lower(x)))")
    en_hits = " + ".join(
        f"list_contains({lower_words}, '{sw}')::INT" for sw in STOPWORDS["en"]
    )
    return f"""
        WITH s AS (
            SELECT doc_id, substring(text, 1, 2000) AS sample,
                   length(substring(text, 1, 2000)) AS n,
                   text
            FROM documents
        ), w AS (
            -- extract BEFORE lowercasing, then lowercase per word: mirrors
            -- the kernel's `w.lower() for w in _WORD_RE.findall(sample)`
            -- (lowercasing first can alter tokenization, e.g. U+0130 -> i
            -- plus a combining dot that \\w-minus-marks splits on)
            SELECT doc_id, sample, n,
                   list_distinct(list_transform(
                       regexp_extract_all(sample, '{_RE2_WORD}'),
                       x -> lower(x))) AS ws
            FROM s
        ), h AS (
            SELECT doc_id, sample, n, {hit_cols_sql}
            FROM w
        )
        SELECT h.doc_id,
               CASE
                 WHEN n = 0 THEN 'und'
                 WHEN len(regexp_extract_all(sample,
                      '[\\x{{0590}}-\\x{{05FF}}]'))::DOUBLE / n > 0.2 THEN 'he'
                 WHEN len(regexp_extract_all(sample,
                      '[\\x{{0600}}-\\x{{06FF}}]'))::DOUBLE / n > 0.2 THEN 'ar'
                 WHEN len(regexp_extract_all(sample,
                      '[\\x{{4E00}}-\\x{{9FFF}}]'))::DOUBLE / n > 0.1 THEN 'zh'
                 WHEN len(regexp_extract_all(sample,
                      '[\\x{{0400}}-\\x{{04FF}}]'))::DOUBLE / n > 0.2 THEN 'ru'
                 WHEN {best} < 2 THEN 'und'
                 {pick}
                 ELSE 'und'
               END AS lang_guess,
               q.quality > 0.5 AS quality_ok
        FROM h
        JOIN (
            SELECT doc_id,
                   CASE WHEN length(text) = 0 THEN 0.0
                        WHEN len(list_filter(regexp_split_to_array(text, '{_RE2_PY_WS}'),
                                             x -> x <> '')) = 0 THEN 0.0
                        ELSE round(
                          0.3 * (length(regexp_replace(text, '[^\\p{{L}}]+', '', 'g'))::DOUBLE
                                 / length(text))
                          + 0.2 * (CASE WHEN
                              length(regexp_replace(text, '{_RE2_PY_WS}', '', 'g'))::DOUBLE
                              / len(list_filter(regexp_split_to_array(text, '{_RE2_PY_WS}'),
                                                x -> x <> ''))
                              BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
                          + 0.3 * least(1.0, length(text) / 200.0)
                          + 0.2 * least(1.0, (
                              {en_hits}
                            ) / 5.0)
                        , 6) END AS quality
            FROM documents
        ) q ON q.doc_id = h.doc_id
    """


WINDOW_TOKENS = 64  # tokens per training-context window
WINDOW_STRIDE = 48  # 25% overlap between consecutive windows


def _tokens_expr(col: str = "text") -> F.Column:
    """BPE-ish token array (alpha runs | digit runs | single symbol),
    shared by token_windows and vocab_top_ngrams. Tokens are TRIMMED: the
    marker-split leaves original whitespace attached to the following
    token ('abc\\ndef' -> '\\ndef'), which would fragment vocabulary counts
    across whitespace-prefixed variants."""
    return F.filter(
        F.transform(
            F.split(
                F.regexp_replace(
                    col, r"([A-Za-z]+|\d+|[^\sA-Za-z\d])", "$1 "
                ),
                r"\s+",
            ),
            F.trim,
        ),
        lambda x: x != "",
    )


# DuckDB twin of _tokens_expr (RE2 split on runs of whitespace + trim)
_DUCK_TOKS = """
            list_filter(
                list_transform(
                    regexp_split_to_array(regexp_replace(text,
                        '([A-Za-z]+|\\d+|[^\\sA-Za-z\\d])', '\\1 ', 'g'),
                        '\\s+'),
                    x -> trim(x)),
                x -> x <> '')
"""


def q_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunking — the standard LLM training-data
    context-window op: each document becomes overlapping windows of
    WINDOW_TOKENS tokens at WINDOW_STRIDE steps (last window may be short).
    Pure JVM expressions: tokenize once, explode a window-index sequence,
    slice per window — no Python, no shuffle (a pure map over the scan)."""
    toks = _tokens_expr()
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", toks.alias("toks"))
        .where(F.size("toks") > 0)
    )
    # stop once a window reaches the document end: a further window would be
    # a strict sub-range of the previous one (a 100%-duplicate chunk)
    n_windows = F.expr(
        f"1 + (greatest(size(toks) - {WINDOW_TOKENS}, 0)"
        f" + {WINDOW_STRIDE} - 1) div {WINDOW_STRIDE}"
    )
    win = F.slice(
        F.col("toks"),
        F.col("window_idx") * WINDOW_STRIDE + 1,
        WINDOW_TOKENS,
    )
    return (
        d.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), n_windows - 1)).alias(
                "window_idx"
            ),
        )
        .select(
            "doc_id",
            F.col("window_idx").cast("long").alias("window_idx"),
            F.size(win).alias("n_tokens"),
            F.array_join(win, " ").alias("window_text"),
        )
    )


_LETTER_RE = r"\p{L}"
_BULLET_RE = r"^[-*•]"


def _sum_chars_sql(ws: str) -> str:
    """Summed word length of the word array ``ws`` as a bigint, SQL text."""
    return (
        f"aggregate(transform({ws}, w -> length(w)), CAST(0 AS BIGINT), "
        "(acc, v) -> acc + v)"
    )


def word_stats_exprs(ws: str = "ws") -> list[str]:
    """The Gopher word statistics (word count, summed word length,
    alphabetic-word count) as aliased SQL text over the word array column
    ``ws`` (``split_words_sql`` of the text) — the single definition
    q_gopher_quality, q_gate_attrition and plans.training_data.curate use.

    Stage ``ws`` in its own projection and select these over it: the
    three statistics then share one split per row, because CollapseProject
    keeps a non-cheap alias its consumer references more than once."""
    return [
        f"size({ws}) AS n_words",
        f"{_sum_chars_sql(ws)} AS sum_chars",
        f"size(filter({ws}, w -> w RLIKE {sql_literal(_LETTER_RE)})) "
        "AS n_alpha_words",
    ]


def _gopher_line_stats(df: DataFrame, *keep: str) -> DataFrame:
    """``keep`` columns plus the word statistics and the non-blank /
    bullet line counts of ``text``, for the Gopher document rules. The
    word and line arrays are staged once, in their own projection."""
    return df.selectExpr(
        *keep,
        f"{split_words_sql('text')} AS ws",
        f"{nonblank_lines_sql('text')} AS lines",
    ).selectExpr(
        *keep,
        *word_stats_exprs("ws"),
        "size(lines) AS n_lines",
        f"size(filter(lines, ln -> trim(ln) RLIKE {sql_literal(_BULLET_RE)})) "
        "AS n_bullet_lines",
    )


# Gopher document rules, cross-multiplied integer form (SQL text).
GOPHER_KEEP_SQL = (
    "n_words >= 5 AND n_words <= 100000"
    " AND sum_chars >= 3 * n_words AND sum_chars <= 10 * n_words"
    " AND 5 * n_alpha_words >= 4 * n_words"
    " AND 10 * n_bullet_lines < 9 * n_lines"
)


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, public):
    word-count bounds, mean-word-length bounds, bullet-line fraction,
    alphabetic-word fraction. Every ratio test is a CROSS-MULTIPLIED
    integer comparison (e.g. ``3*n_words <= sum_chars <= 10*n_words``), so
    the keep decision is exact and engine-independent — no float ratios
    near thresholds. Pure JVM map over the scan."""
    d = _gopher_line_stats(_docs(spark, sf_dir), "doc_id")
    return d.selectExpr(
        "doc_id",
        "n_words",
        "sum_chars",
        "n_alpha_words",
        "n_lines",
        "n_bullet_lines",
        f"{GOPHER_KEEP_SQL} AS keep",
    )


VOCAB_TOP_K = 100


def q_vocab_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary building: corpus-wide token unigram + bigram counts,
    top-K per n with deterministic ordering (count desc, gram asc). The
    heavy lifting is one explode + hash-groupBy (map-side partial counts
    make the shuffle carry one row per distinct gram per mapper); bigrams
    come from zipping the token array with its shifted self — never a
    per-element lambda over a recomputed split (CLAUDE.md perf rule).

    The rank is :func:`top_k` by n — at 100 TB the distinct gram count is
    O(billions), and its partial WindowGroupLimit keeps each map task to
    VOCAB_TOP_K rows per n before the two n groups meet in two tasks."""
    d = _docs(spark, sf_dir).select(_tokens_expr().alias("toks"))
    n = F.size("toks")
    uni = d.select(F.explode("toks").alias("gram")).withColumn(
        "n", F.lit(1)
    )
    shifted = d.select(
        "toks",
        F.slice("toks", 2, F.greatest(n - 1, F.lit(0))).alias("next"),
    )
    bi = (
        shifted.select(
            F.explode(F.arrays_zip(F.col("toks"), F.col("next"))).alias("p")
        )
        .where(F.col("p.next").isNotNull())
        .select(F.concat_ws(" ", "p.toks", "p.next").alias("gram"))
        .withColumn("n", F.lit(2))
    )
    counts = (
        uni.unionByName(bi)
        .groupBy("n", "gram")
        .agg(F.count("*").alias("cnt"))
    )
    order = (F.desc("cnt"), F.asc("gram"))
    return top_k(counts, VOCAB_TOP_K, order, by=["n"]).select(
        "n", "rk", "gram", "cnt"
    )


# Gopher repetition thresholds (Rae et al. 2021, Table A1): the fraction of
# word characters covered by the single most frequent n-gram must not exceed
# pct/100 for n = 2/3/4, and characters inside 5-grams occurring >= 2 times
# (each occurrence counted, the MassiveText approximation) must not exceed
# DUP5_PCT/100. Expressed as integer (num, den) cross-multiplies so the keep
# bit is exact in both engines.
REP_TOP_PCT = {2: 20, 3: 18, 4: 16}
REP_DUP5_PCT = 15


def repetition_filters(
    docs: DataFrame, words: F.Column | None = None
) -> DataFrame:
    """Gopher-style repetition removal signals: per document, the character
    coverage of the most frequent 2/3/4-gram and of all duplicated 5-grams,
    plus word-diversity counts, with the keep decision as all-integer
    cross-multiplied comparisons (no float ratios near thresholds).

    Coverage is counted in WORD characters (gram length minus its n-1
    separators, times occurrence count) against the document's summed word
    length — whitespace runs never enter either side, so the measure is
    layout-independent.

    Scale shape: ZERO shuffles. The former (doc_id, n, gram) groupBy was a
    corpus-of-gram-TEXT shuffle for a key that is doc-scoped — per-doc gram
    frequencies never need to leave the row. Each n's grams are built once
    by shifted-zip and sorted in place (equal grams become adjacent; only
    equality grouping matters, so collation is irrelevant); run boundaries
    are then extracted as an INDEX array (one flat compare-with-previous
    transform + filter), and coverage is per-RUN zip_with arithmetic over
    (starts, next-starts). Everything per element is flat — element_at on
    a materialized column + string equality + integer ops. A struct-fold
    formulation of the same run-length pass (4-field accumulator rebuilt
    per element) measured 16 s of a 20 s stage at 1M turns vs ~4 s for
    build+sort — the interpreted-HOF rule from cdc_chunk_dedup, again.
    No joins, no windows, no aggregation exchange. Callers feeding a
    compute-dense tiny file should pre-spread partitions
    (``spread_for_cpu_map``).

    CONSUMER HAZARD: filter on ``keep`` (or prune to a column subset)
    only AFTER materializing this frame (localCheckpoint / cache — the
    output is 8 scalars per doc, so that is cheap; plans.training_data
    does). Pushing a predicate through the staged projections substitutes
    the sorted-gram alias trees into the condition, where the zip_with
    lambdas re-evaluate the captured sort per ELEMENT — a measured >40x
    blowup on the bench corpus (the full-output plan evaluates each
    sort_array once; the pushed-down one evaluated it 32 times per row,
    quadratically).

    ``words`` optionally supplies the tokenized array<string> expression
    (e.g. a split the caller already materialized — plans.training_data
    shares one split across gates); default splits ``text`` on whitespace.

    Driver side, each staged projection is SQL text in one ``selectExpr``,
    which the JVM parses in one call. Built from ``F.*`` Columns, the same
    trees cost several py4j round trips per node (pyspark 4 records the
    call site of every function call): about 3,000 round trips and half a
    second per call for this operator's 19 lambdas, before its job
    started. The SQL builds the same expressions node for node."""
    ws0 = words if words is not None else F.expr(split_words_sql("text"))
    # separate projection so `ws` materializes once per row: CollapseProject
    # keeps a non-cheap alias referenced many times in its own project
    base = docs.select("doc_id", ws0.alias("ws"))

    def gram_array(n: int) -> str:
        # Shifted-zip gram build (the _positional_shingles_col pattern
        # generalized): n slices of the words array happen ONCE per doc,
        # not once per gram — a per-element slice inside the transform
        # lambda would be the interpreted-HOF re-slice tax.
        # All zip inputs are expressions so arrays_zip names them "0".."k".
        shifted = ", ".join(
            f"slice(ws, {k + 1}, greatest(size(ws) - {k}, 0))"
            for k in range(n)
        )
        fields = ", ".join(f"s['{k}']" for k in range(n))
        grams = f"transform(arrays_zip({shifted}), s -> concat_ws(' ', {fields}))"
        # cut the trailing arrays_zip pad entries (partial grams)
        return f"slice({grams}, 1, greatest(size(ws) - {n - 1}, 0))"

    ns = (*REP_TOP_PCT, 5)
    # proj 2: sorted gram arrays materialized as columns — every later
    # element_at/capture is a cheap attribute reference, never a re-sort
    sorted_grams = base.selectExpr(
        "doc_id",
        "size(ws) AS n_words",
        "size(array_distinct(ws)) AS n_distinct_words",
        f"{_sum_chars_sql('ws')} AS sum_chars",
        *[f"sort_array({gram_array(n)}) AS g{n}" for n in ns],
    )

    # proj 3: run-start index arrays — the 0-based indexes where a new run
    # of equal grams begins (per-element work: one element_at + one string
    # compare). The greatest(i, 1) keeps element_at in range at i=0 (the
    # i = 0 arm wins there regardless of what the compare evaluates to).
    with_starts = sorted_grams.selectExpr(
        "doc_id",
        "n_words",
        "n_distinct_words",
        "sum_chars",
        *[f"g{n}" for n in ns],
        *[
            f"filter(transform(g{n}, (x, i) -> CASE WHEN i = 0 OR "
            f"x != element_at(g{n}, greatest(i, 1)) THEN i ELSE -1 END), "
            f"v -> v >= 0) AS s{n}"
            for n in ns
        ],
    )

    def run_chars(n: int) -> str:
        """Word characters a run of equal n-grams covers, over the lambda
        pair (a, b) = (run start, next run start): (b - a) occurrences times
        (gram chars - the n-1 separators)."""
        return f"CAST(b - a AS BIGINT) * (length(element_at(g{n}, a + 1)) - {n - 1})"

    def per_run(n: int, body: str) -> str:
        """``body`` per run: runs are the zip of starts with shifted starts
        (the last run ends at size(g))."""
        g, s = f"g{n}", f"s{n}"
        nexts = f"concat(slice({s}, 2, greatest(size({s}) - 1, 0)), array(size({g})))"
        return f"zip_with({s}, {nexts}, (a, b) -> {body})"

    zero = "CAST(0 AS BIGINT)"
    # proj 4: per-run rollups (top for 2/3/4, duplicated-coverage for 5)
    dup_runs = per_run(5, f"CASE WHEN b - a >= 2 THEN {run_chars(5)} ELSE {zero} END")
    d = with_starts.selectExpr(
        "doc_id",
        "n_words",
        "n_distinct_words",
        "sum_chars",
        *[
            f"coalesce(array_max({per_run(n, run_chars(n))}), {zero}) AS top{n}_cover"
            for n in REP_TOP_PCT
        ],
        f"coalesce(aggregate({dup_runs}, {zero}, (acc, v) -> acc + v), {zero}) "
        "AS dup5_cover",
    )
    keep = " AND ".join(
        [f"top{n}_cover * 100 <= sum_chars * {pct}" for n, pct in REP_TOP_PCT.items()]
        + [f"dup5_cover * 100 <= sum_chars * {REP_DUP5_PCT}"]
    )
    return d.withColumn("keep", F.expr(keep))


def q_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import spread_for_cpu_map

    # the whole rollup is now a compute-dense per-row map — a one-split
    # parquet file must not become one task
    return repetition_filters(spread_for_cpu_map(_docs(spark, sf_dir)))


def _repetition_oracle() -> str:
    """Replays q_repetition_filters: same gram construction (1-based word
    slices joined by one space), same word-char coverage arithmetic, same
    integer threshold cross-multiplies."""
    # One UNION ALL block per constant n: DuckDB's binder cannot resolve a
    # LATERAL range() that references a VALUES alias column.
    gram_blocks = "\n            UNION ALL\n".join(
        f"""
            SELECT doc_id, {n} AS n,
                   array_to_string(ws[r.i : r.i + {n - 1}], ' ') AS gram
            FROM w, LATERAL (
                SELECT unnest(range(1, len(ws) - {n} + 2)) AS i
            ) r"""
        for n in (*REP_TOP_PCT, 5)
    )
    top_cols = ",\n               ".join(
        f"coalesce(max(CASE WHEN n = {n} THEN top_cover END), 0)::BIGINT"
        f" AS top{n}_cover"
        for n in REP_TOP_PCT
    )
    keep = " AND ".join(
        f"100 * coalesce(top{n}_cover, 0) <= {pct} * sum_chars"
        for n, pct in REP_TOP_PCT.items()
    )
    return f"""
        WITH w AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> '') AS ws
            FROM documents
        ), s AS (
            SELECT doc_id, len(ws) AS n_words,
                   len(list_distinct(ws)) AS n_distinct_words,
                   coalesce(list_sum(list_transform(ws, x -> length(x))), 0)
                       ::BIGINT AS sum_chars
            FROM w
        ), g AS ({gram_blocks}
        ), c AS (
            SELECT doc_id, n, gram, count(*) AS cnt
            FROM g GROUP BY 1, 2, 3
        ), cov AS (
            SELECT doc_id, n,
                   max(cnt * (length(gram) - (n - 1))) AS top_cover,
                   sum(CASE WHEN cnt >= 2
                            THEN cnt * (length(gram) - (n - 1))
                            ELSE 0 END) AS dup_cover
            FROM c GROUP BY 1, 2
        ), p AS (
            SELECT doc_id,
               {top_cols},
               coalesce(max(CASE WHEN n = 5 THEN dup_cover END), 0)::BIGINT
                   AS dup5_cover
            FROM cov GROUP BY 1
        )
        SELECT s.doc_id, s.n_words, s.n_distinct_words, s.sum_chars,
               coalesce(top2_cover, 0)::BIGINT AS top2_cover,
               coalesce(top3_cover, 0)::BIGINT AS top3_cover,
               coalesce(top4_cover, 0)::BIGINT AS top4_cover,
               coalesce(dup5_cover, 0)::BIGINT AS dup5_cover,
               ({keep}
                AND 100 * coalesce(dup5_cover, 0)
                    <= {REP_DUP5_PCT} * sum_chars) AS keep
        FROM s LEFT JOIN p USING (doc_id)
    """


_QUANTILES = (25, 50, 75, 90, 99)


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language document-length distribution: nearest-rank percentiles
    of ``n_chars`` (type-1, value at rank ceil(q*n/100)) — all-integer math,
    so the result is deterministic across engines (no float interpolation).

    Scale: one window shuffle keyed on lang. At 100 TB the exact twin of
    this is ``approx_percentile`` (t-digest, partial-mergeable, no full
    sort); this query is the exact-replay form the oracle gate can check."""
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("lang")
    d = (
        _docs(spark, sf_dir)
        .select("lang", "n_chars", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count("*").over(wn))
    )
    # ceil(q*n/100) in integer math: (q*n + 99) div 100
    aggs = [
        F.max(
            F.when(
                F.col("rn") == F.expr(f"(n * {q} + 99) div 100"),
                F.col("n_chars"),
            )
        ).alias(f"p{q}")
        for q in _QUANTILES
    ]
    return d.groupBy("lang").agg(
        F.max("n").alias("n_docs"), *aggs
    )


# Character-trigram LM fluency bins: a trigram's conditional probability
# P(c3 | c2-prefix) = cnt(tri)/cnt(prefix) is bucketed by the thresholds
# 1/256, 1/64, 1/16, 1/4 via integer cross-multiplication (cnt_tri * k >=
# cnt_pre), so the score is exact in both engines — no cross-engine log()
# (CCNet's perplexity needs floats whose last-ulp behavior differs between
# JVM Math.log and libm; the bin form keeps the same ranking signal exact).
_FLUENCY_BINS = (4, 16, 64, 256)


def _char_trigrams(col: str = "text") -> F.Column:
    """Every char trigram of ``col`` as array<string> (empty when the text
    is shorter than 3 chars — Spark's sequence() would otherwise descend).
    substr-per-index inside the transform is O(1) per element (a column
    ref, not a recomputed parse), unlike the split-in-lambda trap."""
    n = F.length(col)
    return F.when(
        n >= 3,
        F.transform(
            F.sequence(F.lit(1), n - 2),
            lambda i: F.col(col).substr(i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def lm_fluency(docs: DataFrame) -> DataFrame:
    """Character-trigram language-model fluency scoring — the CCNet-style
    "perplexity filter" slot in a curation pipeline (Wenzek et al. 2020
    filter web text by LM perplexity; Brown et al. GPT-3 use an LM-based
    quality score). The corpus itself is the LM training set: pass 1
    counts every char trigram; pass 2 scores each document by how probable
    its trigrams are under those counts, as exact integer probability bins
    (see _FLUENCY_BINS). Low fluency = improbable character sequences =
    mojibake / binary spill / wrong-language residue.

    Scale shape: the model table is bounded by charset^3 (a few hundred K
    rows at Unicode-subset worst case, ~20k here) regardless of corpus
    size, so it is localCheckpointed once (c3 feeds both its own rows and
    the prefix rollup — the self-join-recompute rule) and BROADCAST into
    the scoring join; scoring is one corpus scan -> explode -> broadcast
    hash join -> doc-keyed groupBy. No corpus-sized shuffle anywhere: the
    trigram count shuffle carries one row per distinct trigram per mapper
    (map-side combine into a bounded key space). In production the model
    is fit once and persisted; inline here so the query is self-contained.

    Output: doc_id, n_tri, fluency (sum of per-trigram bins 0..4),
    n_rare (trigrams below every threshold)."""
    # the trigram explode is an interpreted higher-order-function map —
    # spread the scan across cores when it under-splits
    from . import spread_for_cpu_map

    tri = spread_for_cpu_map(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(_char_trigrams()).alias("tri")
    )
    c3 = (
        tri.groupBy("tri")
        .agg(F.count("*").alias("c3"))
        .localCheckpoint(eager=True)
    )
    c2 = (
        c3.groupBy(F.col("tri").substr(1, 2).alias("pre"))
        .agg(F.sum("c3").alias("c2"))
    )
    model = c3.join(c2, c3["tri"].substr(1, 2) == c2["pre"]).select(
        "tri", "c3", "c2"
    )
    bin_col = sum(
        (F.col("c3") * k >= F.col("c2")).cast("int") for k in _FLUENCY_BINS
    )
    return (
        tri.join(F.broadcast(model), "tri")
        .select("doc_id", bin_col.alias("bin"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tri"),
            F.sum("bin").alias("fluency"),
            F.sum((F.col("bin") == 0).cast("int")).cast("long").alias("n_rare"),
        )
    )


def q_lm_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lm_fluency(_docs(spark, sf_dir))


def _fluency_oracle() -> str:
    bins = " + ".join(
        f"(m.c3 * {k} >= m.c2)::INT" for k in _FLUENCY_BINS
    )
    return f"""
        WITH tri AS (
            SELECT doc_id, substring(text, i, 3) AS tri
            FROM documents,
                 LATERAL (SELECT unnest(range(1, length(text) - 1)) AS i)
            WHERE length(text) >= 3
        ), c3 AS (
            SELECT tri, count(*)::BIGINT AS c3 FROM tri GROUP BY tri
        ), c2 AS (
            SELECT substring(tri, 1, 2) AS pre, sum(c3)::BIGINT AS c2
            FROM c3 GROUP BY pre
        ), model AS (
            SELECT c3.tri, c3.c3, c2.c2
            FROM c3 JOIN c2 ON substring(c3.tri, 1, 2) = c2.pre
        ), scored AS (
            SELECT t.doc_id, ({bins}) AS bin
            FROM tri t JOIN model m ON t.tri = m.tri
        )
        SELECT doc_id, count(*)::BIGINT AS n_tri,
               sum(bin)::BIGINT AS fluency,
               sum((bin = 0)::INT)::BIGINT AS n_rare
        FROM scored GROUP BY doc_id
    """


POSTINGS_K = 20  # doc_ids kept per posting list


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped inverted index over the token stream — the corpus-search
    primitive (duplicate-query lookup, contamination audits, "which docs
    contain X" debugging all ride on it): per token, document frequency,
    total occurrences, and the first POSTINGS_K doc_ids ascending as a
    comma-joined posting list.

    Scale shape: the (token, doc) rollup is ONE map-side-combined groupBy
    whose key space is token×doc — a corpus-hot token is spread across its
    documents, so no reducer sees a single hot key. That rollup is the
    index-build intermediate a production job persists anyway; here it is
    localCheckpointed once so the stats aggregate and the postings rank
    share it instead of re-exploding the corpus per side (the self-join
    recompute rule). Postings are the first K doc_ids per token via
    :func:`top_k`: a token with a hundred-million-doc posting list never
    sorts in one task, and the collect only ever sees the ≤ K
    survivors."""
    td = (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(_tokens_expr()).alias("tok"))
        .groupBy("tok", "doc_id")
        .agg(F.count("*").alias("c"))
        .localCheckpoint(eager=True)
    )
    stats = td.groupBy("tok").agg(
        F.count("*").alias("df"), F.sum("c").alias("cnt")
    )
    postings = (
        top_k(td, POSTINGS_K, ["doc_id"], by=["tok"])
        .groupBy("tok")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
                ",",
            ).alias("postings")
        )
    )
    return stats.join(postings, "tok")


def _inverted_index_oracle() -> str:
    return f"""
        WITH toks AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ), tok AS (
            SELECT doc_id, unnest(toks) AS tok FROM toks
        ), td AS (
            SELECT tok, doc_id, count(*)::BIGINT AS c
            FROM tok GROUP BY tok, doc_id
        ), stats AS (
            SELECT tok, count(*)::BIGINT AS df, sum(c)::BIGINT AS cnt
            FROM td GROUP BY tok
        ), ranked AS (
            SELECT tok, doc_id,
                   row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rk
            FROM td
        ), post AS (
            SELECT tok,
                   string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)
                       AS postings
            FROM ranked WHERE rk <= {POSTINGS_K} GROUP BY tok
        )
        SELECT s.tok, s.df, s.cnt, p.postings
        FROM stats s JOIN post p USING (tok)
    """




def q_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus dashboard in one pass: per (source, lang) the doc count,
    exact token/char totals, token min/max, distinct-content count (md5 of
    normalized text — the exact-dedup key, so `n_docs - n_distinct` IS the
    intra-cell duplicate count), and the train-split share under the
    deterministic holdout buckets. One hash-groupBy over a pure map —
    map-side combined, no windows, no joins; the report any curation run
    prints before and after its gates.

    All-integer outputs (exact across engines)."""
    from .text_ops import holdout_split_expr

    docs = _docs(spark, sf_dir)
    return (
        docs.select(
            "source",
            "lang",
            token_count_expr(F.col("text")).cast("long").alias("t"),
            F.length("text").cast("long").alias("c"),
            F.md5(normalize_for_comparison_expr(F.col("text"))).alias("k"),
            (holdout_split_expr(F.col("doc_id")) == "train")
            .cast("long")
            .alias("is_train"),
        )
        .groupBy("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("t").alias("n_tokens"),
            F.min("t").alias("min_tokens"),
            F.max("t").alias("max_tokens"),
            F.sum("c").alias("n_chars"),
            F.countDistinct("k").alias("n_distinct"),
            F.sum("is_train").alias("n_train"),
        )
    )



HASH_DIM = 64  # hashed-feature dimensionality (matches the ANN suite's D)


def q_hashed_tf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing (the hashing trick, Weinberger et al. ICML'09):
    text becomes a fixed-dim sparse vector with NO vocabulary artifact —
    each word hashes to a dimension (first 4 md5 hex chars mod HASH_DIM)
    and contributes a hashed sign (+-1 from the next hex char), so
    collisions cancel in expectation. This is the engine's text->vector
    bridge: the output feeds the ANN/k-means/PQ suite without a trained
    embedding model, and the md5-derived hash is engine-portable (the
    holdout-split recipe), unlike xxhash64 which DuckDB cannot replay.

    Pure map + one (doc_id, dim)-keyed sum — map-side combined, no
    windows, integer outputs. Sparse rows (doc_id, dim, val); densify
    downstream only where an operator needs arrays.

    Output: doc_id, dim, val (signed integer count)."""
    docs = _docs(spark, sf_dir)
    words = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split("text", r"\s+"), lambda x: x != "")
        ).alias("w"),
    )
    h = F.md5(F.col("w"))
    dim = F.conv(F.substring(h, 1, 4), 16, 10).cast("long") % HASH_DIM
    sign = F.when(
        F.conv(F.substring(h, 5, 1), 16, 10).cast("long") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        words.select("doc_id", dim.alias("dim"), sign.alias("s"))
        .groupBy("doc_id", "dim")
        .agg(F.sum("s").cast("long").alias("val"))
        .where(F.col("val") != 0)
    )

ORACLES = {
    "hashed_tf_vectors": f"""
        WITH w AS (
            SELECT doc_id, unnest(list_filter(
                       regexp_split_to_array(text, '\\s+'),
                       x -> x <> '')) AS w
            FROM documents
        ), h AS (
            SELECT doc_id,
                   ('0x' || substring(md5(w), 1, 4))::BIGINT % {HASH_DIM}
                       AS dim,
                   CASE WHEN ('0x' || substring(md5(w), 5, 1))::BIGINT % 2
                             = 0
                        THEN 1 ELSE -1 END AS s
            FROM w
        )
        SELECT doc_id, dim, sum(s)::BIGINT AS val
        FROM h GROUP BY 1, 2 HAVING sum(s) <> 0
    """,
    "corpus_report": f"""
        WITH s AS (
            SELECT source, lang,
                   len(list_filter(
                       string_split(regexp_replace(text,
                           '([A-Za-z]+|\\d+|[^\\sA-Za-z\\d])', '\\1 ', 'g'),
                           ' '),
                       x -> trim(x) <> ''))::BIGINT AS t,
                   length(text)::BIGINT AS c,
                   md5(lower(regexp_replace(text,
                       '[^\\p{{L}}\\p{{N}}]+', '', 'g'))) AS k,
                   CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 4))
                             ::BIGINT % 100
                             >= {SPLIT_VAL_PCT + SPLIT_TEST_PCT}
                        THEN 1 ELSE 0 END AS is_train
            FROM documents
        )
        SELECT source, lang, count(*) AS n_docs,
               sum(t)::BIGINT AS n_tokens,
               min(t) AS min_tokens, max(t) AS max_tokens,
               sum(c)::BIGINT AS n_chars,
               count(DISTINCT k) AS n_distinct,
               sum(is_train)::BIGINT AS n_train
        FROM s GROUP BY 1, 2
    """,

    "inverted_index": _inverted_index_oracle(),
    "lm_fluency": _fluency_oracle(),
    "language_id": _language_id_oracle(),
    "repetition_filters": _repetition_oracle(),
    "gopher_quality": """
        WITH d AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> '') AS ws,
                   list_filter(string_split(text, chr(10)),
                               x -> trim(x) <> '') AS lines
            FROM documents
        ), c AS (
            SELECT doc_id,
                   len(ws) AS n_words,
                   coalesce(list_sum(list_transform(ws, w -> length(w))), 0)
                       ::BIGINT AS sum_chars,
                   len(list_filter(ws, w -> regexp_matches(w, '\\p{L}')))
                       AS n_alpha_words,
                   len(lines) AS n_lines,
                   len(list_filter(lines,
                       ln -> regexp_matches(trim(ln), '^[-*\u2022]')))
                       AS n_bullet_lines
            FROM d
        )
        SELECT doc_id, n_words, sum_chars, n_alpha_words, n_lines,
               n_bullet_lines,
               (n_words >= 5 AND n_words <= 100000
                AND sum_chars >= 3 * n_words AND sum_chars <= 10 * n_words
                AND 5 * n_alpha_words >= 4 * n_words
                AND 10 * n_bullet_lines < 9 * n_lines) AS keep
        FROM c
    """,
    "vocab_top_ngrams": f"""
        WITH toks AS (
            SELECT doc_id,
                   {_DUCK_TOKS} AS toks
            FROM documents
        ), uni AS (
            SELECT 1 AS n, unnest(toks) AS gram FROM toks
        ), bi AS (
            SELECT 2 AS n, toks[i] || ' ' || toks[i + 1] AS gram
            FROM toks, LATERAL (SELECT unnest(range(1, len(toks))) AS i) r
            WHERE len(toks) >= 2
        ), counts AS (
            SELECT n, gram, count(*) AS cnt
            FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
            GROUP BY 1, 2
        )
        SELECT n, rk, gram, cnt FROM (
            SELECT n, gram, cnt,
                   row_number() OVER (PARTITION BY n
                                      ORDER BY cnt DESC, gram ASC) AS rk
            FROM counts
        ) WHERE rk <= {VOCAB_TOP_K}
    """,
    "token_windows": f"""
        WITH toks AS (
            SELECT doc_id,
                   {_DUCK_TOKS} AS toks
            FROM documents
        ), d AS (
            SELECT doc_id, toks, len(toks) AS n FROM toks WHERE len(toks) > 0
        )
        SELECT doc_id,
               r.w AS window_idx,
               len(list_slice(toks, r.w * {WINDOW_STRIDE} + 1,
                              r.w * {WINDOW_STRIDE} + {WINDOW_TOKENS}))
                   AS n_tokens,
               array_to_string(
                   list_slice(toks, r.w * {WINDOW_STRIDE} + 1,
                              r.w * {WINDOW_STRIDE} + {WINDOW_TOKENS}), ' ')
                   AS window_text
        FROM d, LATERAL (
            SELECT unnest(range(1 + (greatest(n - {WINDOW_TOKENS}, 0)
                                     + {WINDOW_STRIDE} - 1)
                                    // {WINDOW_STRIDE})) AS w) r
    """,
    "length_quantiles": f"""
        WITH d AS (
            SELECT lang, n_chars,
                   row_number() OVER (PARTITION BY lang
                                      ORDER BY n_chars, doc_id) AS rn,
                   count(*) OVER (PARTITION BY lang) AS n
            FROM documents
        )
        SELECT lang, max(n) AS n_docs,
               {", ".join(
                   f"max(CASE WHEN rn = (n * {q} + 99) // 100 "
                   f"THEN n_chars END) AS p{q}"
                   for q in _QUANTILES
               )}
        FROM d GROUP BY lang
    """,
    "token_count": """
        SELECT doc_id,
               len(list_filter(
                   string_split(regexp_replace(text,
                       '([A-Za-z]+|\\d+|[^\\sA-Za-z\\d])', '\\1 ', 'g'), ' '),
                   x -> trim(x) <> '')) AS n_tokens
        FROM documents
    """,
    "quality_features": """
        SELECT doc_id,
               length(text) AS n_chars_text,
               len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))
                   AS n_words,
               round(length(regexp_replace(text, '[^\\p{L}]+', '', 'g'))::DOUBLE
                     / length(text), 6) AS alpha_ratio
        FROM documents
    """,
    "fingerprint": """
        SELECT doc_id,
               md5(lower(regexp_replace(text, '[^\\p{L}\\p{N}]+', '', 'g')))
                   AS fingerprint
        FROM documents
    """,
}

KEYWORDS_K = 3
KEYWORDS_SCALE = 10**6
_KW_D38 = "DECIMAL(38,0)"


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction — the corpus-exploration twin of
    bm25_top_k: each document's KEYWORDS_K most characteristic terms by
    tf-idf, with the idf carried as the BM25 module's exact rational
    (2N - 2df + 1) / (2df + 1) (Robertson smoothing, log dropped —
    monotone in df) in KEYWORDS_SCALE fixed point, so the ranking is
    integer-exact in both engines. Terms are alpha-only, length >= 3 (the
    classic keyword filter), pruned on the exploded rows BEFORE any
    shuffle.

    Scale shape: one (doc, term) hash count, one term-keyed df aggregate
    joined back on the TERM key (vocabulary-sized — deliberately NOT
    broadcast, unlike bm25's query-filtered df), one per-doc window
    bounded by the doc's distinct terms. DECIMAL(38,0) headroom: at
    10^12 docs the numerator is ~tf(1e4) x 2N(2e12) x SCALE(1e6) ~ 1e22
    — past int64, inside 38 digits."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(_tokens_expr()).alias("term")
    ).where(F.col("term").rlike(r"^[A-Za-z]{3,}$"))
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    score = F.expr(
        f"cast(div(cast(tf as {_KW_D38})"
        f"          * cast(2 * n_docs - 2 * df + 1 as {_KW_D38})"
        f"          * cast({KEYWORDS_SCALE} as {_KW_D38}),"
        f"        cast(2 * df + 1 as {_KW_D38})) as bigint)"
    )
    scored = (
        tf.join(dft, "term")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", "tf", "df", score.alias("score"))
    )
    order = (F.desc("score"), F.asc("term"))
    return top_k(scored, KEYWORDS_K, order, by=["doc_id"]).select(
        "doc_id", "rk", "term", "tf", "df", "score"
    )


PMI_WINDOW = 5       # co-occurrence window (tokens ahead)
PMI_MIN_PAIR = 5     # min pair count — kills one-off noise
PMI_MIN_TERM = 20    # min unigram count for a term to participate
PMI_TOP_K = 20
PMI_SCALE = 10**6


def q_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed co-occurrence PMI pairs — the statistic behind
    word-embedding corpora (word2vec/GloVe build exactly this matrix):
    unordered token pairs co-occurring within PMI_WINDOW positions,
    ranked by a fixed-point PMI numerator div(n_xy * T * SCALE, c_x*c_y)
    (monotone in pmi = log of that ratio — log dropped, the doc_keywords
    idf trick). Count floors (pair >= PMI_MIN_PAIR, term >= PMI_MIN_TERM)
    keep the matrix out of the hapax tail.

    Scale shape: pair generation is a pure MAP — shifted-slice arrays_zip
    per distance (never a positional self-join, the repo's
    zip-shifted-arrays rule) — feeding one (x, y) hash count; unigram
    counts join back on the TERM key (vocabulary-sized, not broadcast);
    the global top-K is :func:`top_k`. DECIMAL(38,0) numerators carry
    10^12-token corpora."""
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.filter(
            _tokens_expr(), lambda t: t.rlike(r"^[A-Za-z]{3,}$")
        ).alias("toks")
    )
    n = F.size("toks")
    uni = (
        toks.select(F.explode("toks").alias("x"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    total = uni.agg(F.sum("c").alias("t_tokens"))
    pair_frames = []
    for d in range(1, PMI_WINDOW + 1):
        ln = F.greatest(n - d, F.lit(0))
        sel = toks.select(
            F.slice("toks", 1, ln).alias("a"),
            F.slice("toks", d + 1, ln).alias("b"),
        )
        pair_frames.append(
            sel.select(F.explode(F.arrays_zip("a", "b")).alias("p")).select(
                F.least("p.a", "p.b").alias("x"),
                F.greatest("p.a", "p.b").alias("y"),
            ).where(F.col("x") != F.col("y"))
        )
    pairs = pair_frames[0]
    for f in pair_frames[1:]:
        pairs = pairs.unionByName(f)
    pc = (
        pairs.groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .where(F.col("n_xy") >= PMI_MIN_PAIR)
    )
    kept = uni.where(F.col("c") >= PMI_MIN_TERM)
    scored = (
        pc.join(kept.select(F.col("x"), F.col("c").alias("cx")), "x")
        .join(
            kept.select(F.col("x").alias("y"), F.col("c").alias("cy")), "y"
        )
        .crossJoin(F.broadcast(total))
        .select(
            "x",
            "y",
            "n_xy",
            F.expr(
                f"cast(div(cast(n_xy as decimal(38,0))"
                f"          * cast(t_tokens as decimal(38,0))"
                f"          * cast({PMI_SCALE} as decimal(38,0)),"
                f"        cast(cx as decimal(38,0))"
                f"          * cast(cy as decimal(38,0))) as bigint)"
            ).alias("score"),
        )
    )
    order = (F.desc("score"), F.asc("x"), F.asc("y"))
    return top_k(scored, PMI_TOP_K, order).select(
        "rk", "x", "y", "n_xy", "score"
    )


ORACLES["cooccurrence_pmi"] = f"""
        WITH toks AS (
            SELECT list_filter({_DUCK_TOKS},
                               t -> regexp_full_match(t, '[A-Za-z]{{3,}}'))
                       AS toks
            FROM documents
        ), uni AS (
            SELECT x, count(*) AS c FROM (
                SELECT unnest(toks) AS x FROM toks
            ) GROUP BY 1
        ), tt AS (
            SELECT sum(c)::BIGINT AS t_tokens FROM uni
        ), pr AS (
            SELECT least(toks[i + 1], toks[i + d + 1]) AS x,
                   greatest(toks[i + 1], toks[i + d + 1]) AS y
            FROM toks,
                 LATERAL (SELECT unnest(range(len(toks))) AS i) p,
                 LATERAL (SELECT unnest(range(1, {PMI_WINDOW + 1}))
                              AS d) q
            WHERE i + d < len(toks)
              AND toks[i + 1] <> toks[i + d + 1]
        ), pc AS (
            SELECT x, y, count(*) AS n_xy FROM pr GROUP BY 1, 2
            HAVING count(*) >= {PMI_MIN_PAIR}
        ), scored AS (
            SELECT pc.x, pc.y, pc.n_xy,
                   (pc.n_xy::HUGEINT * tt.t_tokens::HUGEINT
                    * {PMI_SCALE}::HUGEINT
                    // (ux.c::HUGEINT * uy.c::HUGEINT))::BIGINT AS score
            FROM pc
            JOIN uni ux ON ux.x = pc.x
            JOIN uni uy ON uy.x = pc.y, tt
            WHERE ux.c >= {PMI_MIN_TERM} AND uy.c >= {PMI_MIN_TERM}
        )
        SELECT row_number() OVER (ORDER BY score DESC, x, y) AS rk,
               x, y, n_xy, score
        FROM scored
        ORDER BY score DESC, x, y
        LIMIT {PMI_TOP_K}
"""


ORACLES["doc_keywords"] = f"""
        WITH toks AS (
            SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents
        ), n AS (
            SELECT count(*) AS n_docs FROM documents
        ), tf AS (
            SELECT doc_id, term, count(*) AS tf FROM (
                SELECT doc_id, unnest(toks) AS term FROM toks
            )
            WHERE regexp_full_match(term, '[A-Za-z]{{3,}}')
            GROUP BY 1, 2
        ), dft AS (
            SELECT term, count(*) AS df FROM tf GROUP BY 1
        ), scored AS (
            SELECT tf.doc_id, tf.term, tf.tf, dft.df,
                   (tf.tf::HUGEINT
                    * (2 * n.n_docs - 2 * dft.df + 1)::HUGEINT
                    * {KEYWORDS_SCALE}::HUGEINT
                    // (2 * dft.df + 1)::HUGEINT)::BIGINT AS score
            FROM tf JOIN dft USING (term), n
        )
        SELECT doc_id, rk, term, tf, df, score FROM (
            SELECT doc_id, term, tf, df, score,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, term) AS rk
            FROM scored
        ) WHERE rk <= {KEYWORDS_K}
"""


# --- per-source distinctive terms (lift) -------------------------------------
# Dataset-card / drift-monitor op: which terms are over-represented in a
# source vs the whole corpus. Lift = (c/ts)/(cg/tg) thresholded as an exact
# DECIMAL cross-multiply (c*tg*DEN >= ts*cg*NUM) so the flag is
# engine-independent even exactly ON the boundary; the reported lift value
# is one division of identical integer operands (IEEE-identical).
LIFT_NUM, LIFT_DEN = 4, 3   # flag terms with lift >= 4/3
LIFT_MIN_COUNT = 10         # ignore rare terms (noise floor)


def q_source_term_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, term) over-representation: term count in the source,
    the source/global totals, and the lift, for terms with count >=
    LIFT_MIN_COUNT and lift >= LIFT_NUM/LIFT_DEN.

    Scale shape: one (source, term)-keyed count with map-side combine,
    source totals broadcast back (sources are bounded), global term counts
    joined back TERM-keyed (the doc_keywords df-join shape), corpus total a
    1-row broadcast. No windows, no Python. The DECIMAL(38,0)
    cross-multiply keeps the flag exact at any corpus size."""
    big = lambda c: c.cast("decimal(38,0)")  # noqa: E731

    d = _docs(spark, sf_dir).select(
        "source", F.explode(_tokens_expr()).alias("term")
    )
    s = d.groupBy("source", "term").agg(F.count("*").alias("c"))
    st = s.groupBy("source").agg(F.sum("c").alias("ts"))
    g = s.groupBy("term").agg(F.sum("c").alias("cg"))
    gt = g.agg(F.sum("cg").alias("tg"))
    flagged = (
        s.join(F.broadcast(st), "source")
        .join(g, "term")
        .crossJoin(F.broadcast(gt))
        .where(
            (F.col("c") >= LIFT_MIN_COUNT)
            & (
                big(F.col("c")) * big(F.col("tg")) * LIFT_DEN
                >= big(F.col("ts")) * big(F.col("cg")) * LIFT_NUM
            )
        )
    )
    return flagged.select(
        "source",
        "term",
        "c",
        "ts",
        "cg",
        "tg",
        F.round(
            (F.col("c") * F.col("tg")) / (F.col("ts") * F.col("cg")), 4
        ).alias("lift"),
    )


ORACLES["source_term_lift"] = f"""
        WITH w AS (
            SELECT source, unnest({_DUCK_TOKS}) AS term FROM documents
        ), s AS (
            SELECT source, term, count(*) AS c FROM w GROUP BY 1, 2
        ), st AS (
            SELECT source, sum(c)::BIGINT AS ts FROM s GROUP BY 1
        ), g AS (
            SELECT term, sum(c)::BIGINT AS cg FROM s GROUP BY 1
        ), gt AS (
            SELECT sum(cg)::BIGINT AS tg FROM g
        )
        SELECT s.source, s.term, s.c, st.ts, g.cg, gt.tg,
               round((s.c * gt.tg) / (st.ts * g.cg), 4) AS lift
        FROM s
        JOIN st USING (source)
        JOIN g USING (term), gt
        WHERE s.c >= {LIFT_MIN_COUNT}
          AND s.c::HUGEINT * gt.tg * {LIFT_DEN}
              >= st.ts::HUGEINT * g.cg * {LIFT_NUM}
"""


QUERIES = {
    "cooccurrence_pmi": q_cooccurrence_pmi,
    "source_term_lift": q_source_term_lift,
    "doc_keywords": q_doc_keywords,
    "inverted_index": q_inverted_index,
    "lm_fluency": q_lm_fluency,
    "token_count": q_token_count,
    "corpus_report": q_corpus_report,
    "hashed_tf_vectors": q_hashed_tf_vectors,
    "quality_features": q_quality_features,
    "fingerprint": q_fingerprint,
    "language_id": q_language_id,
    "length_quantiles": q_length_quantiles,
    "token_windows": q_token_windows,
    "vocab_top_ngrams": q_vocab_top_ngrams,
    "gopher_quality": q_gopher_quality,
    "repetition_filters": q_repetition_filters,
}


# --- Blocklist (C4 badwords) gate --------------------------------------------
# The C4 pipeline drops any page containing a term from the "List of Dirty,
# Naughty, Obscene or Otherwise Bad Words" (Raffel et al. 2020 §2.2). A bare
# any-hit rule is too blunt for a corpus where flagged terms also occur in
# legitimate prose, so production filters (Dolma, FineWeb) rate-threshold
# instead: drop when hits exceed BLOCKLIST_PERMILLE of the token stream OR
# any single term from the hard sublist appears. Terms here stand in for the
# real list (synthetic corpus vocabulary); the mechanism is list-agnostic.
BLOCKLIST_SOFT = ("slow", "big")       # rate-limited terms
BLOCKLIST_HARD = ("crash", "panic")    # any-hit terms (absent in corpus:
                                       # the zero-hit path stays exercised)
BLOCKLIST_PERMILLE = 60


def q_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style blocklist gate: tokenize on non-alpha runs, count soft- and
    hard-list hits, keep unless the soft rate crosses BLOCKLIST_PERMILLE or
    any hard term appears; zero-token docs drop (strict < makes 0 < 0 false —
    a doc with no alphabetic tokens has nothing worth keeping). Counting is
    cross-multiplied integer (hits*1000 vs n_tokens*permille) — no division
    until the reported rate.

    Scale shape: a pure per-row map (split + two array filters against
    broadcast-literal lists, each a handful of entries); no shuffle, no
    Python, corpus scanned once. The token split is ASCII [^a-z]+ on
    lowered text — identical semantics in Java regex and RE2, so the oracle
    needs no dialect shims."""
    from . import load

    toks = F.filter(
        F.split(F.lower("text"), "[^a-z]+"), lambda t: t != F.lit("")
    )
    soft = F.lit(list(BLOCKLIST_SOFT))
    hard = F.lit(list(BLOCKLIST_HARD))
    base = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.filter(toks, lambda t: F.array_contains(soft, t))).alias(
            "n_soft_hits"
        ),
        F.size(F.filter(toks, lambda t: F.array_contains(hard, t))).alias(
            "n_hard_hits"
        ),
    )
    return base.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_soft_hits").cast("long").alias("n_soft_hits"),
        F.col("n_hard_hits").cast("long").alias("n_hard_hits"),
        F.when(F.col("n_tokens") == 0, F.lit(0))
        .otherwise(F.expr("(n_soft_hits * 1000) div n_tokens"))
        .cast("long")
        .alias("soft_permille"),
        (
            (F.col("n_hard_hits") == 0)
            & (
                F.col("n_soft_hits") * 1000
                < F.col("n_tokens") * BLOCKLIST_PERMILLE
            )
        )
        .cast("long")
        .alias("keep"),
    )


QUERIES["blocklist_filter"] = q_blocklist_filter

_BL_SOFT_DUCK = ", ".join(f"'{t}'" for t in BLOCKLIST_SOFT)
_BL_HARD_DUCK = ", ".join(f"'{t}'" for t in BLOCKLIST_HARD)

ORACLES["blocklist_filter"] = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '[^a-z]+'),
                           t -> t <> '') AS toks
        FROM documents
    ), counted AS (
        SELECT doc_id,
               len(toks)::BIGINT AS n_tokens,
               len(list_filter(toks, t -> t IN ({_BL_SOFT_DUCK})))::BIGINT
                   AS n_soft_hits,
               len(list_filter(toks, t -> t IN ({_BL_HARD_DUCK})))::BIGINT
                   AS n_hard_hits
        FROM toks
    )
    SELECT doc_id, n_tokens, n_soft_hits, n_hard_hits,
           (CASE WHEN n_tokens = 0 THEN 0
                 ELSE (n_soft_hits * 1000) // n_tokens END)::BIGINT
               AS soft_permille,
           (n_hard_hits = 0
            AND n_soft_hits * 1000 < n_tokens * {BLOCKLIST_PERMILLE})::BIGINT
               AS keep
    FROM counted
"""


# --- Curation-funnel attrition card ----------------------------------------------
ATTRITION_MIN_CHARS = 50
ATTRITION_MAX_CHARS = 100_000
ATTRITION_LANGS = ("en", "de", "fr")


def q_gate_attrition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation-funnel attrition card: per source, how many documents
    survive each successive gate — length bounds, then the Gopher quality
    rules, then the language allowlist — the Sankey numbers every
    published dataset card reports (what fraction of each crawl source
    the pipeline actually keeps, and which gate eats it). Gates are
    CUMULATIVE (a doc must pass every earlier gate to count), so the
    columns are monotone non-increasing left to right.

    Scale shape: all gates evaluate in ONE pass over the scan (the gate
    predicates are pure expressions — the same word statistics and rules
    as q_gopher_quality, whose statistics curate() shares), and the funnel is one map-side-
    combined groupBy on source with conditional sums. Adding a gate adds
    a column, never a scan. Output: source, n_docs, n_after_len,
    n_after_gopher, n_after_lang, keep_permille."""
    d = _gopher_line_stats(_docs(spark, sf_dir), "source", "lang", "n_chars")
    len_ok = (F.col("n_chars") >= ATTRITION_MIN_CHARS) & (
        F.col("n_chars") <= ATTRITION_MAX_CHARS
    )
    gopher_ok = F.expr(GOPHER_KEEP_SQL)
    lang_ok = F.col("lang").isin(*ATTRITION_LANGS)
    g1 = len_ok.cast("long")
    g2 = (len_ok & gopher_ok).cast("long")
    g3 = (len_ok & gopher_ok & lang_ok).cast("long")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(g1).alias("n_after_len"),
            F.sum(g2).alias("n_after_gopher"),
            F.sum(g3).alias("n_after_lang"),
        )
        .withColumn(
            "keep_permille", F.expr("n_after_lang * 1000 div n_docs")
        )
    )


QUERIES["gate_attrition"] = q_gate_attrition

ORACLES["gate_attrition"] = f"""
    WITH d AS (
        SELECT source, lang, n_chars,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS ws,
               list_filter(string_split(text, chr(10)),
                           x -> trim(x) <> '') AS lines
        FROM documents
    ), c AS (
        SELECT source, lang, n_chars,
               len(ws) AS n_words,
               coalesce(list_sum(list_transform(ws, w -> length(w))), 0)
                   ::BIGINT AS sum_chars,
               len(list_filter(ws, w -> regexp_matches(w, '\\p{{L}}')))
                   AS n_alpha_words,
               len(lines) AS n_lines,
               len(list_filter(lines,
                   ln -> regexp_matches(trim(ln), '^[-*•]')))
                   AS n_bullet_lines
        FROM d
    ), f AS (
        SELECT source,
               (n_chars >= {ATTRITION_MIN_CHARS}
                AND n_chars <= {ATTRITION_MAX_CHARS}) AS len_ok,
               (n_words >= 5 AND n_words <= 100000
                AND sum_chars >= 3 * n_words AND sum_chars <= 10 * n_words
                AND 5 * n_alpha_words >= 4 * n_words
                AND 10 * n_bullet_lines < 9 * n_lines) AS gopher_ok,
               lang IN ('en', 'de', 'fr') AS lang_ok
        FROM c
    )
    SELECT source, count(*)::BIGINT AS n_docs,
           sum(len_ok::BIGINT)::BIGINT AS n_after_len,
           sum((len_ok AND gopher_ok)::BIGINT)::BIGINT AS n_after_gopher,
           sum((len_ok AND gopher_ok AND lang_ok)::BIGINT)::BIGINT
               AS n_after_lang,
           sum((len_ok AND gopher_ok AND lang_ok)::BIGINT)::BIGINT * 1000
               // count(*) AS keep_permille
    FROM f GROUP BY source
"""


# --- Pareto (skyline) front ---------------------------------------------------------
PARETO_SALT = 16


def q_pareto_front(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline / Pareto-front query (Börzsönyi et al., ICDE 2001): the
    documents not strictly dominated on (length, vocabulary richness) —
    the trade-off front a curation pipeline picks exemplars from when no
    single score orders candidates ("longest AND least repetitive";
    richness = distinct-token permille, which naturally decays with
    length, so the front is a real curve, not a single maximum). Domination
    is >= on both axes and > on at least one; exact (x, y) ties collapse
    to the smallest doc_id so the front is a set of distinct maximal
    points.

    Scale shape: the skyline DISTRIBUTES like top-K — a point dominated
    nowhere is dominated in no subset, so stage 1 computes each salt
    partition's local skyline (sort by x desc within salt, keep rows
    whose y exceeds the running max — one window per salt, never a
    global sort of the corpus) and stage 2 runs the same scan over the
    tiny union of survivors. Unlike a top-K, Spark cannot limit the
    running-max window, so the salt stays; plan_check pins its pmod and
    names the final window's bound in BOUNDED_GLOBAL_WINDOW. Output:
    doc_id, n_chars, uniq_permille."""
    ws = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    d = (
        _docs(spark, sf_dir)
        .select("doc_id", "n_chars", ws.alias("ws"))
        .select(
            "doc_id",
            "n_chars",
            F.expr(
                "size(array_distinct(ws)) * 1000"
                " div nullif(size(ws), 0)"
            ).alias("uniq_permille"),
        )
        .where(F.col("uniq_permille").isNotNull())
    )
    pts = d.groupBy("n_chars", "uniq_permille").agg(
        F.min("doc_id").alias("doc_id")
    )

    def skyline(frame, part_cols):
        w = Window.partitionBy(*part_cols).orderBy(
            F.desc("n_chars"), F.desc("uniq_permille")
        )
        mx = F.max("uniq_permille").over(
            w.rowsBetween(Window.unboundedPreceding, -1)
        )
        return frame.withColumn("mx", mx).where(
            F.col("mx").isNull() | (F.col("mx") < F.col("uniq_permille"))
        ).drop("mx")

    survivors = skyline(
        pts.withColumn(
            "salt", F.pmod(F.xxhash64("doc_id"), F.lit(PARETO_SALT))
        ),
        ["salt"],
    ).drop("salt")
    return skyline(survivors, []).select(
        "doc_id", "n_chars", "uniq_permille"
    )


QUERIES["pareto_front"] = q_pareto_front

ORACLES["pareto_front"] = """
    WITH d0 AS (
        SELECT doc_id, n_chars,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS ws
        FROM documents
    ), d AS (
        SELECT doc_id, n_chars,
               len(list_distinct(ws)) * 1000
                   // nullif(len(ws), 0) AS uniq_permille
        FROM d0
        WHERE len(ws) > 0
    ), pts AS (
        SELECT n_chars, uniq_permille, min(doc_id) AS doc_id
        FROM d GROUP BY 1, 2
    )
    SELECT doc_id, n_chars, uniq_permille
    FROM pts p
    WHERE NOT EXISTS (
        SELECT 1 FROM pts q
        WHERE q.n_chars >= p.n_chars
          AND q.uniq_permille >= p.uniq_permille
          AND (q.n_chars > p.n_chars
               OR q.uniq_permille > p.uniq_permille)
    )
"""


# --- Luhn checksum card audit (round 4) --------------------------------------------
def q_luhn_card_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn (mod-10) checksum validation of card-shaped numbers — the
    precision stage behind PII card redaction: a 16-digit match is only a
    real card candidate if its check digit verifies, cutting the false-
    positive rate on order ids / timestamps that merely LOOK like cards.
    Candidates are synthesized deterministically from order keys (last
    digit = o_orderkey % 10, so ~1/10 verify). The checksum is a pure
    integer fold over a bounded 16-position sequence — JVM-side
    ``aggregate(sequence(...))``, no Python, no shuffle.

    Output: order_key, card, luhn_valid."""
    from . import load

    orders = load(spark, sf_dir, "orders")
    card = F.concat(
        F.lpad(
            ((F.col("o_orderkey") * 7919 + 12345) % F.lit(10**15))
            .cast("string"),
            15,
            "0",
        ),
        (F.col("o_orderkey") % 10).cast("string"),
    )
    luhn_sum = (
        "aggregate(sequence(0, 15), 0, (acc, i) -> acc + "
        "CASE WHEN i % 2 = 1 THEN "
        "  IF(2 * (ascii(substring(card, 16 - i, 1)) - 48) > 9, "
        "     2 * (ascii(substring(card, 16 - i, 1)) - 48) - 9, "
        "     2 * (ascii(substring(card, 16 - i, 1)) - 48)) "
        "ELSE ascii(substring(card, 16 - i, 1)) - 48 END)"
    )
    return (
        orders.select(F.col("o_orderkey").alias("order_key"),
                      card.alias("card"))
        .withColumn("luhn_valid", F.expr(f"({luhn_sum}) % 10 = 0"))
    )


QUERIES["luhn_card_audit"] = q_luhn_card_audit

ORACLES["luhn_card_audit"] = """
    WITH c AS (
        SELECT o_orderkey AS order_key,
               lpad(((o_orderkey * 7919 + 12345)
                     % 1000000000000000)::VARCHAR, 15, '0')
                   || (o_orderkey % 10)::VARCHAR AS card
        FROM orders
    ), digits AS (
        SELECT order_key, card, ii.i AS i,
               ascii(substring(card, 16 - ii.i, 1)) - 48 AS d
        FROM c, LATERAL (SELECT unnest(range(0, 16)) AS i) ii
    )
    SELECT order_key, any_value(card) AS card,
           sum(CASE WHEN i % 2 = 1
                    THEN CASE WHEN 2 * d > 9 THEN 2 * d - 9 ELSE 2 * d END
                    ELSE d END) % 10 = 0 AS luhn_valid
    FROM digits GROUP BY order_key
"""
