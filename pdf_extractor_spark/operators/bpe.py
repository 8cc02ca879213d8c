"""Distributed BPE tokenizer training (Sennrich et al. 2016): learn the
merge table from the corpus, iteratively taking the highest-weight adjacent
symbol pair and fusing it.

The load-bearing trick is classical and is what makes this scale: BPE
never iterates over the corpus — it iterates over the WORD-FREQUENCY
table. One corpus scan builds (word, count); every merge step is then a
small groupBy over per-word symbol pairs weighted by count, a 1-row argmax
collect, and a pure map rewriting each word's symbol array. At 10^12-turn
scale the word table is capped to the top-V words by
``functions.expressions.top_k`` (the standard fastBPE-style cut; uncapped here — the driver corpus
vocabulary is tiny).

Merge semantics (pinned identically in both engines): repeated LEFTMOST
replacement of the pair until none remains, which equals a single greedy
left-to-right pairing pass — a merged symbol is the concatenation l||r and
can never equal l or r, so a replacement cannot create a new occurrence to
its left. Spark implements the single pass as an ``aggregate`` fold with a
(out, pending) accumulator; the DuckDB oracle implements leftmost-replace
as a recursive CTE per step using an exact LITERAL splice
(position + substring concat — never regexp_replace: a learned symbol
containing a regex metacharacter like '(' or '.' would break the pattern
or, worse, diverge from the literal position() guard and recurse forever),
with the chosen pair cross-joined in. Ties on pair weight break by
(count desc, left asc, right asc), so every step is deterministic.

Output: step (1-based), lft, rgt, pair_count — the merge table a tokenizer
ships."""
from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

N_MERGES = 6
END_MARK = "</w>"


def _merge_pair(syms: F.Column, l: str, r: str) -> F.Column:
    """One greedy left-to-right merge pass of (l, r) over a symbol array —
    the fold keeps a pending symbol; (pending==l, current==r) fuses."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc, s):
        return (
            F.when(
                acc["pend"].isNull(),
                F.struct(acc["out"].alias("out"), s.alias("pend")),
            )
            .when(
                (acc["pend"] == l) & (s == r),
                F.struct(
                    F.concat(acc["out"], F.array(F.lit(l + r))).alias("out"),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc["out"], F.array(acc["pend"])).alias("out"),
                    s.alias("pend"),
                )
            )
        )

    def fin(acc):
        return F.when(acc["pend"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["pend"]))
        )

    return F.aggregate(syms, init, step, fin)


def _pair_counts(state: DataFrame) -> DataFrame:
    """Adjacent symbol pairs weighted by word count — shifted-zip form
    (no slice-in-lambda), one small groupBy."""
    n = F.size("syms")
    z = F.slice(
        F.arrays_zip(
            F.col("syms"), F.slice("syms", 2, F.greatest(n - 1, F.lit(0)))
        ),
        1,
        F.greatest(n - 1, F.lit(0)),
    )
    return (
        state.select("cnt", F.explode(z).alias("p"))
        .select("cnt", F.col("p.syms").alias("l"), F.col("p.1").alias("r"))
        .groupBy("l", "r")
        .agg(F.sum("cnt").alias("pc"))
    )


def _fit_state(docs: DataFrame, n_merges: int):
    """Shared fit loop: returns (merge list, final per-word symbol state).
    The state frame carries the word key so the encode side can use it as
    the word -> tokens vocabulary directly."""
    words = (
        docs.select(
            F.explode(
                F.filter(F.split("text", r"\s+"), lambda x: x != "")
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    chars = F.concat(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ),
        F.array(F.lit(END_MARK)),
    )
    state = words.select("word", "cnt", chars.alias("syms")).localCheckpoint(
        eager=True
    )
    merges = []
    for step_no in range(1, n_merges + 1):
        best = (
            _pair_counts(state)
            .orderBy(F.desc("pc"), F.asc("l"), F.asc("r"))
            .limit(1)
            .collect()
        )
        if not best:
            raise ValueError(
                f"vocabulary exhausted after {step_no - 1} merges"
            )
        l, r, pc = best[0]["l"], best[0]["r"], int(best[0]["pc"])
        merges.append((step_no, l, r, pc))
        state = state.select(
            "word", "cnt", _merge_pair(F.col("syms"), l, r).alias("syms")
        ).localCheckpoint(eager=True)
    return merges, state


def bpe_fit(docs: DataFrame, n_merges: int = N_MERGES) -> DataFrame:
    """Learn ``n_merges`` BPE merges from the corpus; returns the merge
    table (step, lft, rgt, pair_count). Raises if the vocabulary merges to
    single symbols before ``n_merges`` steps (pick a smaller n)."""
    merges, _ = _fit_state(docs, n_merges)
    return docs.sparkSession.createDataFrame(
        merges, "step long, lft string, rgt string, pair_count long"
    )


def bpe_encode(docs: DataFrame, n_merges: int = N_MERGES) -> DataFrame:
    """Encode the corpus with the learned tokenizer — the apply side of
    ``bpe_fit``. The fit's final per-word state IS the encoding vocabulary
    (word -> merged symbol array), so encoding never re-runs merges per
    token occurrence: the corpus explodes into (doc_id, pos, word), each
    occurrence resolves its tokens through a BROADCAST hash join on the
    vocabulary-bounded word table, and one doc-keyed groupBy reassembles
    tokens in word order.

    Scale shape: the merge folds run over the word-frequency table (the
    same one scan as the fit), the vocab broadcast is bounded by |vocab|
    not the corpus, and the only corpus-sized shuffle is the doc-keyed
    regroup (state bounded by document length). At open-vocabulary scale
    the vocab is capped to the top-V words (salted top-K) and OOV words
    fall back to applying the merge chain directly to their char split —
    the standard fastBPE layout; uncapped here (driver vocabulary is
    tiny, hence closed).

    Output: doc_id, n_tokens, tokens (space-joined token string)."""
    _, state = _fit_state(docs, n_merges)
    vocab = state.select("word", "syms")
    occ = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split("text", r"\s+"), lambda x: x != "")
        ).alias("pos", "word"),
    )
    toks = F.flatten(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "syms"))),
            lambda x: x["syms"],
        )
    )
    return (
        occ.join(F.broadcast(vocab), "word")
        .groupBy("doc_id")
        .agg(toks.alias("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.array_join("toks", " ").alias("tokens"),
        )
    )


def q_bpe_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import load

    return bpe_fit(load(spark, sf_dir, "documents"))


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import load

    return bpe_encode(load(spark, sf_dir, "documents"))


def _bpe_oracle(n_merges: int = N_MERGES) -> str:
    """Per-step exact replay: pair counts -> 1-row argmax -> recursive
    leftmost replace, chained n_merges times."""
    parts = [
        """
        WITH RECURSIVE wc AS (
            SELECT word, count(*) AS cnt FROM (
                SELECT unnest(list_filter(
                    regexp_split_to_array(text, '\\s+'), x -> x <> ''
                )) AS word
                FROM documents
            ) GROUP BY word
        ), st0 AS (
            SELECT cnt,
                   ' ' || array_to_string(list_transform(
                       range(1, length(word) + 1),
                       i -> substring(word, i, 1)), ' ')
                   || ' </w> ' AS s
            FROM wc
        )"""
    ]
    for m in range(1, n_merges + 1):
        parts.append(f"""
        , p{m} AS (
            SELECT l, r, sum(cnt)::BIGINT AS pc FROM (
                SELECT cnt, syms[i] AS l, syms[i + 1] AS r
                FROM (SELECT cnt, list_filter(string_split(s, ' '),
                                              x -> x <> '') AS syms
                      FROM st{m - 1}),
                     LATERAL (SELECT unnest(range(1, len(syms))) AS i)
            ) GROUP BY l, r
        ), b{m} AS (
            SELECT l, r, pc FROM p{m} ORDER BY pc DESC, l, r LIMIT 1
        ), rec{m} AS (
            SELECT cnt, s FROM st{m - 1}
            UNION ALL
            SELECT cnt,
                   substring(s, 1,
                             position(' ' || b.l || ' ' || b.r || ' ' IN s) - 1)
                   || ' ' || b.l || b.r || ' '
                   || substring(s,
                        position(' ' || b.l || ' ' || b.r || ' ' IN s)
                        + length(' ' || b.l || ' ' || b.r || ' '))
            FROM rec{m}, b{m} b
            WHERE position(' ' || b.l || ' ' || b.r || ' ' IN s) > 0
        ), st{m} AS (
            SELECT cnt, s FROM rec{m}, b{m} b
            WHERE position(' ' || b.l || ' ' || b.r || ' ' IN s) = 0
        )""")
    selects = " UNION ALL ".join(
        f"SELECT {m}::BIGINT AS step, l AS lft, r AS rgt, pc AS pair_count "
        f"FROM b{m}"
        for m in range(1, n_merges + 1)
    )
    return "".join(parts) + "\n        " + selects


def _encode_oracle(n_merges: int = N_MERGES) -> str:
    """Encode replay: the fit's per-step leftmost-replace chain with the
    word key carried through every state, then a (doc_id, pos, word)
    explode joined against the final state — exactly the Spark layout
    (vocabulary join, not per-occurrence re-merging)."""
    parts = [
        """
        WITH RECURSIVE wc AS (
            SELECT word, count(*) AS cnt FROM (
                SELECT unnest(list_filter(
                    regexp_split_to_array(text, '\\s+'), x -> x <> ''
                )) AS word
                FROM documents
            ) GROUP BY word
        ), st0 AS (
            SELECT word, cnt,
                   ' ' || array_to_string(list_transform(
                       range(1, length(word) + 1),
                       i -> substring(word, i, 1)), ' ')
                   || ' </w> ' AS s
            FROM wc
        )"""
    ]
    for m in range(1, n_merges + 1):
        parts.append(f"""
        , p{m} AS (
            SELECT l, r, sum(cnt)::BIGINT AS pc FROM (
                SELECT cnt, syms[i] AS l, syms[i + 1] AS r
                FROM (SELECT cnt, list_filter(string_split(s, ' '),
                                              x -> x <> '') AS syms
                      FROM st{m - 1}),
                     LATERAL (SELECT unnest(range(1, len(syms))) AS i)
            ) GROUP BY l, r
        ), b{m} AS (
            SELECT l, r, pc FROM p{m} ORDER BY pc DESC, l, r LIMIT 1
        ), rec{m} AS (
            SELECT word, cnt, s FROM st{m - 1}
            UNION ALL
            SELECT word, cnt,
                   substring(s, 1,
                             position(' ' || b.l || ' ' || b.r || ' ' IN s) - 1)
                   || ' ' || b.l || b.r || ' '
                   || substring(s,
                        position(' ' || b.l || ' ' || b.r || ' ' IN s)
                        + length(' ' || b.l || ' ' || b.r || ' '))
            FROM rec{m}, b{m} b
            WHERE position(' ' || b.l || ' ' || b.r || ' ' IN s) > 0
        ), st{m} AS (
            SELECT word, cnt, s FROM rec{m}, b{m} b
            WHERE position(' ' || b.l || ' ' || b.r || ' ' IN s) = 0
        )""")
    parts.append(f"""
        , dw AS (
            SELECT doc_id, i AS pos, words[i] AS word
            FROM (SELECT doc_id,
                         list_filter(regexp_split_to_array(text, '\\s+'),
                                     x -> x <> '') AS words
                  FROM documents),
                 LATERAL (SELECT unnest(range(1, len(words) + 1)) AS i)
        )
        SELECT doc_id,
               sum(len(list_filter(string_split(s, ' '),
                                   x -> x <> '')))::BIGINT AS n_tokens,
               string_agg(trim(s), ' ' ORDER BY pos) AS tokens
        FROM dw JOIN st{n_merges} USING (word)
        GROUP BY doc_id""")
    return "".join(parts)


QUERIES = {"bpe_fit": q_bpe_fit, "bpe_encode": q_bpe_encode}
ORACLES = {"bpe_fit": _bpe_oracle(), "bpe_encode": _encode_oracle()}


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language — tokens per 1000 words under the
    LEARNED BPE vocabulary. The multilingual-fairness statistic (cf. the
    fertility tables of Rust et al., ACL 2021 and the XGLM/BLOOM tokenizer
    analyses): a tokenizer trained on a skewed mix fragments
    under-represented languages into more tokens per word, which taxes
    their effective context length and training compute. Integer permille
    so both engines agree exactly.

    Scale shape: rides bpe_encode (vocab broadcast + one doc-keyed
    regroup), one doc-keyed equi-join to the language column, and a final
    hash aggregate over the tiny language domain."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    enc = bpe_encode(docs)
    words = docs.select(
        "doc_id",
        "lang",
        F.size(
            F.filter(F.split("text", r"\s+"), lambda x: x != "")
        ).cast("long").alias("n_words"),
    )
    return (
        enc.join(words, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .withColumn(
            "fertility_permille",
            F.expr("div(n_tokens * 1000, n_words)"),
        )
    )


def _fertility_oracle() -> str:
    return f"""
    WITH enc AS ({_encode_oracle()}),
    words AS (
        SELECT doc_id, lang,
               len(list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> ''))::BIGINT AS n_words
        FROM documents
    ), agg AS (
        SELECT w.lang,
               count(*) AS n_docs,
               sum(w.n_words)::BIGINT AS n_words,
               sum(e.n_tokens)::BIGINT AS n_tokens
        FROM enc e JOIN words w USING (doc_id)
        GROUP BY 1
    )
    SELECT lang, n_docs, n_words, n_tokens,
           (n_tokens * 1000) // n_words AS fertility_permille
    FROM agg
    """


QUERIES["tokenizer_fertility"] = q_tokenizer_fertility
ORACLES["tokenizer_fertility"] = _fertility_oracle()
