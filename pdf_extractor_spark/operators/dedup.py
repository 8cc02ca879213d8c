"""Deduplication operators over the ``documents`` table — the training-data
pipeline extensions: exact hash dedup, MinHash+LSH banding, n-gram Jaccard
pairs, and SimHash bucketing.

Scale design: every method avoids the O(n^2) cross join. Exact dedup is one
hash-groupBy; MinHash/LSH and shingle-Jaccard turn the pair search into
equi-joins on band/shingle keys (shuffle keyed on content, so true duplicates
co-locate); SimHash prefixes bucket near-dups. MinHash uses md5-based hashes
so the DuckDB oracle can reproduce signatures bit-for-bit.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.expressions import (
    normalize_for_comparison_expr,
    sql_literal,
    word_shingles_expr,
)
from ..functions.udfs import simhash_udf

N_MINHASH = 8  # one hash per band -> P(band collision) == per-hash Jaccard

# Document-frequency cut for pair-generating buckets: a band value / shingle
# shared by more than this many documents is dropped before pair generation.
# Rationale (standard MinHash-dedup practice, cf. SpotSigs and Broder-style
# shingling systems): a stop-phrase shingle or a degenerate band value (e.g.
# near-empty docs sharing a signature) would otherwise collect_list millions
# of doc_ids into ONE task (executor OOM) and emit O(k^2) pairs. High-DF
# features carry almost no near-dup signal, so the cut loses little recall
# while bounding per-task state to MAX_BUCKET_DOCS ids and per-bucket output
# to ~MAX_BUCKET_DOCS^2/2 pairs. Drops are observable, never silent.
MAX_BUCKET_DOCS = 50


def _capped_buckets(
    buckets: DataFrame, observation=None, cap: int = MAX_BUCKET_DOCS
) -> DataFrame:
    """Apply the DF-cut to a bucket frame with an ``ids`` array column; when
    an ``Observation`` is passed, records n_buckets_dropped / n_ids_dropped
    so callers can log what the cap removed."""
    if observation is not None:
        buckets = buckets.observe(
            observation,
            F.sum((F.size("ids") > cap).cast("long")).alias(
                "n_buckets_dropped"
            ),
            F.sum(
                F.when(F.size("ids") > cap, F.size("ids")).otherwise(0)
            ).alias("n_ids_dropped"),
        )
    return buckets.where(F.size("ids").between(2, cap))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on md5 of the normalized text: one canonical doc per
    cluster + cluster size. Single hash-groupBy, no joins."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    key = F.md5(normalize_for_comparison_expr(F.col("text")))
    return (
        docs.select(key.alias("content_key"), "doc_id")
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("cluster_size"),
        )
    )


def _minhash_from_shingles(exploded: DataFrame) -> DataFrame:
    """doc_id + N_MINHASH md5-based minhash columns from an exploded
    shingle frame (any frame with doc_id + sh columns)."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"mh{i}")
        for i in range(N_MINHASH)
    ]
    return exploded.groupBy("doc_id").agg(*aggs)


def _minhash_frame(docs: DataFrame) -> DataFrame:
    """doc_id + N_MINHASH md5-based minhash columns over word 3-shingles."""
    return _minhash_from_shingles(
        docs.select(
            "doc_id", F.explode(word_shingles_expr(F.col("text"))).alias("sh")
        )
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (md5-min per seed) — oracle-checkable bit-for-bit."""
    from . import load

    return _minhash_frame(load(spark, sf_dir, "documents")).select(
        "doc_id", "mh0", "mh1", "mh2", "mh3"
    )


def _bucket_pairs(ids):
    """All (i < j) pairs from a sorted array of structs — generates each
    bucket's candidate pairs without a self-join, so the upstream (shingle /
    signature) subtree is computed once instead of once per join side."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("a"), y.alias("b")),
            ),
        )
    )


def _lsh_band_buckets(sigs: DataFrame) -> DataFrame:
    """Pre-cap LSH bucket frame from a signature frame (doc_id, mh0..mhN):
    band explode -> (band, hash)-keyed buckets with sorted member arrays."""
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band"), F.col(f"mh{i}").alias("h"))
                for i in range(N_MINHASH)
            ])
        ).alias("b"),
    ).select("doc_id", F.col("b.band").alias("band"), F.col("b.h").alias("h"))
    return bands.groupBy("band", "h").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ids")
    )


def _lsh_pairs_from_buckets(buckets: DataFrame) -> DataFrame:
    """Distinct candidate pairs from a CAPPED bucket frame whose ``ids``
    arrays hold doc ids (in-bucket pair gen, never a self-join)."""
    return (
        buckets.select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .distinct()
    )


def _lsh_pairs_from_sigs(sigs: DataFrame, observation=None) -> DataFrame:
    """LSH candidate pairs from a signature frame (doc_id, mh0..mhN): band
    explode -> (band, hash)-keyed buckets -> DF-cut -> in-bucket pair gen."""
    return _lsh_pairs_from_buckets(
        _capped_buckets(_lsh_band_buckets(sigs), observation)
    )


def minhash_lsh_pairs(docs: DataFrame, observation=None) -> DataFrame:
    """LSH banding: candidate pairs sharing >= 1 of N_MINHASH single-hash
    bands. The shuffle is keyed on (band, hash) — true duplicates co-locate;
    pairs are generated inside each bucket (bounded by the MAX_BUCKET_DOCS
    DF-cut), never via a cross join, and the signature subtree is evaluated
    once."""
    return _lsh_pairs_from_sigs(_minhash_frame(docs), observation)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str, observation=None) -> DataFrame:
    from . import load

    return minhash_lsh_pairs(load(spark, sf_dir, "documents"), observation)


def _incremental_pair_plan(
    new_docs: DataFrame, stored_sigs: DataFrame, observation=None
):
    """Shared incremental-dedup plan: signatures are computed ONLY for the
    new batch (docs already present in ``stored_sigs`` are treated as OLD
    via an anti-join — the retry guard), unioned with the stored
    signatures, and candidate pairs are kept only where at least one side
    is new (old-vs-old pairs were found in previous runs). Each batch costs
    O(new) signature compute + one bucketed shuffle over the union keys —
    never a corpus-wide recompute.

    Returns ``(new_sigs, pairs)``. ``new_sigs`` is eagerly materialized
    (localCheckpoint) because it feeds the pair plan on three branches and,
    in the store-backed caller, the store extension."""
    new_sigs = (
        _minhash_frame(new_docs)
        .join(stored_sigs.select("doc_id"), "doc_id", "left_anti")
        .localCheckpoint(eager=True)
    )
    new_ids = new_sigs.select("doc_id").withColumn("is_new", F.lit(True))
    all_sigs = stored_sigs.unionByName(new_sigs)
    pairs = _lsh_pairs_from_sigs(all_sigs, observation)
    flagged = (
        pairs.join(new_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left")
        .withColumnRenamed("is_new", "a_new")
        .join(new_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left")
        .withColumnRenamed("is_new", "b_new")
    )
    out = flagged.where(
        F.coalesce("a_new", F.lit(False)) | F.coalesce("b_new", F.lit(False))
    ).select("doc_a", "doc_b")
    return new_sigs, out


def incremental_lsh_pairs(
    new_docs: DataFrame,
    signature_store: str,
    observation=None,
    pairs_output: str | None = None,
) -> DataFrame:
    """Incremental dedup — the production daily-batch pattern over a
    persisted corpus signature store (see ``_incremental_pair_plan`` for
    the plan shape; pair semantics are exactly ``minhash_lsh_pairs(all
    docs)`` filtered to pairs involving a new doc, pinned by
    tests/test_dedup_pipeline.py).

    Commit protocol: extending the store before the batch's pairs are
    durable is a data-loss window — if the driver dies in between, the
    retry's anti-join treats the batch as old and its pairs are never
    emitted again. Two modes:

    * ``pairs_output`` given (the production form): the pairs are written
      to ``pairs_output`` FIRST — a retry that finds the output already
      COMMITTED (``_SUCCESS`` present, not merely "directory exists": a
      crashed attempt leaves debris without the marker) skips the write
      instead of clobbering it; an uncommitted leftover is overwritten in
      place. Only then is the store extended. Every crash window replays
      correctly: die before/during the pairs commit → full recompute over
      the debris; die between pairs commit and store append → recompute
      finds the same batch new, the committed output is kept, the append
      completes; die after both → the anti-join yields nothing and the
      committed output is returned as-is. ``pairs_output`` must be unique
      per batch (e.g. a dated batch directory).
    * ``pairs_output`` None (library/composition mode): the pair frame is
      eagerly materialized before the store append, so evaluating the
      returned frame cannot fail after the append within this driver; a
      driver death between the append and the caller's own persist can
      still lose the batch — use ``pairs_output`` when pairs must survive
      the driver.

    Retry-safety of the store itself: docs already present are anti-joined
    away, so a re-submitted batch cannot duplicate store rows, emit
    self-pairs, or inflate bucket counts past the DF-cut."""
    from ..plans import fsio

    spark = new_docs.sparkSession
    # pin the snapshot by file list, so the append later in the batch
    # cannot leak into this read; [] is a legitimate first batch
    files = fsio.parquet_files(spark, signature_store)
    if files:
        stored = spark.read.parquet(*files)
    else:
        # first batch: empty store -> every incoming doc is new
        stored = _minhash_frame(new_docs.limit(0))
    new_sigs, out = _incremental_pair_plan(new_docs, stored, observation)
    if pairs_output is not None:
        if not fsio.committed(spark, pairs_output):
            # nothing durable here yet — either a fresh batch or the
            # half-written debris of a crashed attempt; (re)write it.
            # mode=error would misread that debris as a commit.
            out.write.mode("overwrite").parquet(pairs_output)
        new_sigs.write.mode("append").parquet(signature_store)
        return spark.read.parquet(pairs_output)
    out = out.localCheckpoint(eager=True)
    new_sigs.write.mode("append").parquet(signature_store)
    return out


def q_corpus_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus merge with provenance — the "merge multiple
    crawls" op: documents from all sources collapse onto their normalized-
    content fingerprint; each surviving row keeps the canonical doc (min
    doc_id), how many sources contributed, and the sorted source list.
    One hash-groupBy keyed on content — scales like exact dedup."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    key = F.md5(normalize_for_comparison_expr(F.col("text")))
    return (
        docs.select(key.alias("fingerprint"), "doc_id", "source")
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("canonical_id"),
            F.count("*").alias("n_copies"),
            F.array_join(
                F.array_distinct(F.sort_array(F.collect_list("source"))), ","
            ).alias("sources"),
        )
    )


BENCHMARK_DOCS = 20  # docs playing the held-out benchmark set


def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every corpus doc, how many of its
    word 3-shingles appear anywhere in the benchmark set (the first
    BENCHMARK_DOCS doc_ids stand in for a held-out eval set). Emits exact
    integer counts (n_shingles, n_contaminated) — the removal policy
    (e.g. drop when ratio > 0.1) stays a cheap downstream filter.

    Scale shape: benchmark shingles are DISTINCT (bounded by the benchmark
    size, not the corpus) and the match is a left-semi-style join keyed on
    the shingle — contaminated counts come from one equi-keyed aggregation,
    never a doc×doc comparison."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.explode(word_shingles_expr(F.col("text"))).alias("sh")
    )
    bench = (
        sh.where(F.col("doc_id") < BENCHMARK_DOCS)
        .select("sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = sh.where(F.col("doc_id") >= BENCHMARK_DOCS)
    joined = corpus.join(bench, "sh", "left")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum(F.coalesce("hit", F.lit(0))).alias("n_contaminated"),
    )


def _positional_shingles_col() -> F.Column:
    """Word 3-shingles WITH their 0-based start positions implied by array
    order (index i = shingle starting at word i) — the span-level sibling
    of ``word_shingles_expr`` (which is distinct and position-less).
    Shifted-zip form per the lambda-re-evaluation rule; the trailing
    partial windows arrays_zip pads are sliced off so entry i is always a
    full 3-word shingle."""
    words = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    n = F.size(words)
    z = F.arrays_zip(
        words,
        F.slice(words, 2, F.greatest(n - 1, F.lit(0))),
        F.slice(words, 3, F.greatest(n - 2, F.lit(0))),
    )
    sh = F.transform(z, lambda s: F.concat_ws(" ", s["0"], s["1"], s["2"]))
    return F.slice(sh, 1, F.greatest(n - 2, F.lit(0)))


def decontaminate_spans(corpus_sh: DataFrame, bench_sh: DataFrame, base: DataFrame) -> DataFrame:
    """Span-level benchmark decontamination (the surgical variant of
    ``contamination_check``'s doc-level counts): instead of dropping a
    contaminated document, remove exactly the words covered by any
    benchmark-overlapping 3-shingle and reassemble the rest in order —
    PaLM / GPT-3 style eval-overlap scrubbing that keeps the clean 99% of
    a long document.

    ``corpus_sh``/``bench_sh`` are (doc_id, start, sh) / (sh) frames;
    ``base`` is (doc_id, ws array<string>). Scale shape: the bench shingle
    set is DISTINCT and bounded by the benchmark suite (not the corpus),
    so the overlap join broadcasts it; covered word indices aggregate
    per doc (rows only for contaminated docs — a shuffle bounded by the
    contamination volume, not the corpus); the final join back to the
    corpus is doc_id-keyed and AQE converts it to broadcast whenever the
    contaminated-doc set is small (no unconditional corpus-sized
    broadcast). Word removal itself is a pure per-row array filter.

    Output: doc_id, n_words, n_removed, clean_text."""
    cont = corpus_sh.join(F.broadcast(bench_sh), "sh").select("doc_id", "start")
    cov = cont.groupBy("doc_id").agg(
        F.array_distinct(
            F.flatten(
                F.collect_list(
                    F.array(
                        F.col("start"),
                        F.col("start") + F.lit(1),
                        F.col("start") + F.lit(2),
                    )
                )
            )
        ).alias("covered")
    )
    joined = base.join(cov, "doc_id", "left")
    covered = F.coalesce(F.col("covered"), F.array().cast("array<int>"))
    indexed = F.transform(
        F.col("ws"), lambda w, i: F.struct(w.alias("w"), i.alias("i"))
    )
    kept = F.filter(indexed, lambda s: ~F.array_contains(covered, s["i"]))
    return joined.select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        (F.size("ws") - F.size(kept)).cast("long").alias("n_removed"),
        F.array_join(F.transform(kept, lambda s: s["w"]), " ").alias(
            "clean_text"
        ),
    )


def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checkable span decontamination: the first BENCHMARK_DOCS
    doc_ids play the held-out benchmark (as in contamination_check), the
    rest are scrubbed. The bench side derives from the same table only for
    self-containment — in production it is a separate small eval-suite
    table, which is exactly why the broadcast in decontaminate_spans is
    sound."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", F.posexplode(_positional_shingles_col()).alias("start", "sh")
    )
    bench_sh = (
        sh.where(F.col("doc_id") < BENCHMARK_DOCS).select("sh").distinct()
    )
    corpus_sh = sh.where(F.col("doc_id") >= BENCHMARK_DOCS)
    base = docs.where(F.col("doc_id") >= BENCHMARK_DOCS).select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("ws"),
    ).where(F.size("ws") > 0)
    return decontaminate_spans(corpus_sh, bench_sh, base)


# Content-defined chunking parameters: W-char rolling window, Horner-mod
# polynomial hash (base B mod M), cut where hash % CDC_K == 0 -> expected
# chunk length ~CDC_K chars. All-integer arithmetic, bit-identical across
# engines (prototyped: Spark aggregate() and DuckDB list_reduce() agree).
CDC_W = 8
CDC_B = 257
CDC_M = 1 << 20
CDC_K = 64


def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking partial-duplicate detection (the LBFS /
    FastCDC idea applied to corpus curation): chunk boundaries are placed
    where a W-char rolling hash hits 0 mod CDC_K, so boundaries RESYNC
    after insertions — two documents sharing a shifted block still produce
    identical chunks where whole-doc hashing and fixed word windows both
    miss. Chunks are fingerprinted (md5), counted corpus-wide, and each
    doc reports how many of its bytes sit in chunks that appear elsewhere.

    Scale shape: hashing is a pure per-row map, O(W) per char with W a
    constant 8 (a codegen rolling update would be O(1)/char; this form
    keeps it expressible as exact SQL in both engines — still
    corpus-linear). Two hard-won constants of that map: (1) the window
    hash is a FLAT 8-term polynomial with pre-modded power constants —
    mathematically identical to the Horner fold, but an
    aggregate-over-slice lambda nest is interpreted per element and
    measured ~100x slower than flat arithmetic in the same lambda; (2)
    the frame is repartitioned before the map ONLY when the scan yields
    fewer splits than cores: this kernel costs ~1000x CPU per input byte
    vs a normal scan, so byte-balanced splits under-parallelize it at
    small inputs (one 5 MB file = one task = minutes), while at corpus
    scale the scan's own splits already parallelize and no shuffle is
    paid; the explicit numPartitions repartition survives AQE
    coalescing. The
    chunk frame (~1 row per CDC_K chars) is localCheckpointed once — it
    is the index-build intermediate a production job would persist — and
    both the fingerprint count and the per-doc rollup read it; the count
    shuffle carries md5 digests with map-side combine. No self-joins,
    nothing quadratic.

    Output: doc_id, n_chunks, total_chars, dup_chars."""
    from . import load

    n = F.length("text")
    codes = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.ascii(F.col("text").substr(i, F.lit(1))).cast("long"),
    )
    from . import spread_for_cpu_map

    d = spread_for_cpu_map(
        load(spark, sf_dir, "documents").select("doc_id", "text")
    ).withColumn("codes", codes)
    # (sum_j c_{i+j} * (B^(W-1-j) % M)) % M == the Horner fold mod M; max
    # intermediate 8 * 255 * M < 2^42, no overflow
    pows = [pow(CDC_B, CDC_W - 1 - j, CDC_M) for j in range(CDC_W)]

    def win_hash(i):
        acc = F.lit(0).cast("long")
        for j, p in enumerate(pows):
            acc = acc + F.element_at(F.col("codes"), i + j) * F.lit(p)
        return acc % CDC_M

    cutpos = F.transform(
        F.filter(
            F.when(n >= CDC_W, F.sequence(F.lit(1), n - CDC_W + 1)).otherwise(
                F.array().cast("array<int>")
            ),
            lambda i: win_hash(i) % CDC_K == 0,
        ),
        lambda i: (i + CDC_W - 1).cast("int"),
    )
    d = d.withColumn(
        "bounds",
        F.concat(
            F.array(F.lit(0).cast("int")), cutpos, F.array(n.cast("int"))
        ),
    )
    chunks = F.filter(
        F.transform(
            F.sequence(F.lit(1), F.size("bounds") - 1),
            lambda j: F.col("text").substr(
                F.element_at(F.col("bounds"), j) + 1,
                F.element_at(F.col("bounds"), j + 1)
                - F.element_at(F.col("bounds"), j),
            ),
        ),
        lambda c: c != "",
    )
    chunk_rows = (
        d.select("doc_id", F.explode(chunks).alias("chunk"))
        .select("doc_id", F.md5("chunk").alias("fp"), F.length("chunk").alias("len"))
        .localCheckpoint(eager=True)
    )
    counts = chunk_rows.groupBy("fp").agg(F.count("*").alias("cnt"))
    return (
        chunk_rows.join(counts, "fp")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("len").alias("total_chars"),
            F.sum(F.when(F.col("cnt") >= 2, F.col("len")).otherwise(0)).alias(
                "dup_chars"
            ),
        )
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str, observation=None) -> DataFrame:
    """Driver-checkable incremental dedup: the corpus's first 80% of doc_ids
    play the already-stored batch, the last 20% arrive as the new batch.
    Result = the full LSH pair set restricted to pairs involving a new doc.

    The stored-batch signatures are an IN-PLAN subtree (exactly how the
    oracle models them, materialized once like a store read would be), so
    this registered query performs no filesystem mutation and cannot race a
    concurrent run on the same sf_dir. The store-backed production form is
    ``incremental_lsh_pairs``, exercised by tests/test_dedup_pipeline.py."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    split = docs.agg(
        F.expr("(max(doc_id) * 4) div 5").alias("s")
    ).first()["s"]
    old = docs.where(F.col("doc_id") < split)
    new = docs.where(F.col("doc_id") >= split)
    stored = _minhash_frame(old).localCheckpoint(eager=True)
    _, pairs = _incremental_pair_plan(new, stored, observation)
    return pairs


# C4-style passage dedup: a passage (fixed PARA_WORDS-word window standing in
# for a paragraph — the corpus carries no newlines) occurring at least
# MIN_PARA_COUNT times across the corpus is boilerplate and is removed from
# every document; remaining passages reassemble in order.
PARA_WORDS = 12
MIN_PARA_COUNT = 3


def paragraph_dedup(
    docs: DataFrame,
    min_count: int = MIN_PARA_COUNT,
    passages: F.Column | None = None,
    joiner: str = " ",
) -> DataFrame:
    """Corpus-wide repeated-passage removal (the C4 "discard any line seen
    three times" rule; Raffel et al. 2020, RefinedWeb): documents split into
    passages, passage frequencies counted corpus-wide, hot passages dropped
    from every document, survivors reassembled in order.

    ``passages`` is the array<string> expression defining a passage; the
    default is fixed PARA_WORDS-word windows over ``text`` (the driver
    corpus carries no newlines). Corpora with real line structure pass
    e.g. non-blank ``split(text, '\\n')`` with ``joiner='\\n'`` — the C4
    rule verbatim (plans.training_data.curate does).

    Scale shape: passage TEXT never crosses a shuffle. The explode carries
    only (doc_id, p_idx, md5 digest); the frequency count is ONE map-side-
    combined hash groupBy on the digest (DuckDB has md5, so the key
    survives the oracle); the hot-position rollup regroups only the HOT
    rows' (doc_id, p_idx) pairs — typically a tiny fraction of the corpus —
    into a per-doc sorted index array; the full passage arrays stay on
    their own rows and are filtered in place by index. The former shape
    shuffled every passage's text twice (digest join-back + collect_list
    reassembly); this one moves 32-byte digests and integers. No
    self-joins, nothing quadratic, no driver materialization. (The
    index-membership filter is O(paras * hot-in-doc) per doc — linear in
    practice since hot lines per doc are few; a doc that is ENTIRELY
    boilerplate still only pays paras^2 integer compares on its own row.)

    Output: doc_id, n_paras, n_removed, clean_text."""
    if passages is None:
        # materialize the split ONCE: split inside the transform lambda
        # would re-split the text per window element (HOF re-eval rule)
        docs = docs.selectExpr("doc_id", "split(text, ' ') AS _ws")
        passages = F.expr(
            f"transform(sequence(0, CAST(ceil(size(_ws) / {PARA_WORDS}) AS INT)"
            f" - 1), i -> array_join(slice(_ws, i * {PARA_WORDS} + 1, "
            f"{PARA_WORDS}), ' '))"
        )
    # keep the passage array on the doc row; everything shuffled is derived
    # from the digest array. The projections below are SQL text: one py4j
    # call each, where Column trees cost several per node.
    base = docs.select("doc_id", passages.alias("_paras"))
    keys = base.selectExpr(
        "doc_id", "posexplode(transform(_paras, p -> md5(p))) AS (p_idx, pkey)"
    )
    hot = (
        keys.groupBy("pkey")
        .agg(F.expr("count(1) AS cnt"))
        .where(f"cnt >= {min_count}")
        .select("pkey")
    )
    hot_idx = (
        keys.join(hot, "pkey")
        .groupBy("doc_id")
        .agg(F.expr("sort_array(collect_list(p_idx)) AS _hot"))
    )
    # zero-passage docs were invisible to the former groupBy-after-explode
    # shape; keep that contract (callers treat absence as nothing-to-clean)
    joined = (
        base.where("size(_paras) >= 1")
        .join(hot_idx, "doc_id", "left")
        .selectExpr(
            "doc_id", "_paras", "coalesce(_hot, CAST(array() AS ARRAY<INT>)) AS _hot"
        )
    )
    return joined.selectExpr(
        "doc_id",
        "CAST(size(_paras) AS BIGINT) AS n_paras",
        "CAST(size(_hot) AS BIGINT) AS n_removed",
        "array_join(filter(_paras, (p, i) -> array_position(_hot, i) = 0), "
        f"{sql_literal(joiner)}) AS clean_text",
    )


# 12-word boilerplate banner injected on every 5th doc so the removal path
# has guaranteed work on the driver corpus (its small-vocab texts also
# produce some natural 12-gram repeats; both kinds are removed by the same
# frequency rule) — mirrored verbatim in the oracle.
_PARA_BANNER = (
    "subscribe to our newsletter terms of service all rights reserved "
    "privacy policy"
)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from . import load

    docs = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit(_PARA_BANNER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return paragraph_dedup(docs)


def lsh_score_pipeline(
    docs: DataFrame,
    checkpoint_path: str,
    threshold: float = 0.5,
    observation=None,
) -> DataFrame:
    """The production dedup sequence: LSH banding (candidate filter) followed
    by MinHash-Jaccard scoring (agreeing-position fraction), with the
    signature frame materialized ONCE at ``checkpoint_path``. The band
    explode and BOTH sides of the score join read the materialization, so
    the shingle->md5->min signature subtree is computed exactly once per
    document — the checkpoint-at-scale story as wiring, not as a docstring
    claim (see tests/test_dedup_pipeline.py, which asserts the scored plan
    contains no signature recomputation)."""
    sigs = _minhash_frame(docs)
    sigs.write.mode("overwrite").parquet(checkpoint_path)
    sigs_m = docs.sparkSession.read.parquet(checkpoint_path)

    pairs = _lsh_pairs_from_sigs(sigs_m, observation)
    a = sigs_m.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_MINHASH)],
    )
    b = sigs_m.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_MINHASH)],
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(N_MINHASH)
    )
    return (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(agree / N_MINHASH, 4).alias("jaccard_est"),
        )
        .where(F.col("jaccard_est") >= threshold)
    )


def _shingle_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, n_sh, sh): each document's shingle-set size riding along
    with every shingle row — one pass yields shared counts AND set sizes
    downstream, no post-hoc size joins."""
    return docs.select(
        "doc_id", word_shingles_expr(F.col("text")).alias("shingles")
    ).select(
        "doc_id",
        F.size("shingles").alias("n_sh"),
        F.explode("shingles").alias("sh"),
    )


def _shingle_buckets(sh: DataFrame) -> DataFrame:
    """Pre-cap shingle bucket frame: one bucket per shingle, members as a
    sorted array of (doc_id, n_sh) structs."""
    return sh.groupBy("sh").agg(
        F.sort_array(F.collect_list(F.struct("doc_id", "n_sh"))).alias("ids")
    )


def _shared_from_buckets(buckets: DataFrame) -> DataFrame:
    """(doc_a, doc_b, na, nb, shared) from a CAPPED shingle bucket frame
    via in-bucket pair generation — never a self-join."""
    pairs = buckets.select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
    return pairs.groupBy(
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.n_sh").alias("na"),
        F.col("p.b.n_sh").alias("nb"),
    ).agg(F.count(F.lit(1)).alias("shared"))


def _shared_counts(sh: DataFrame, observation=None) -> DataFrame:
    """(doc_a, doc_b, na, nb, shared) from a shingle frame via the
    certified capped buckets + in-bucket pair generation — never a
    self-join; only shingles passing the MAX_BUCKET_DOCS DF-cut contribute
    to the shared count (a stop-phrase shingle would otherwise be a
    quadratic bomb)."""
    return _shared_from_buckets(
        _capped_buckets(_shingle_buckets(sh), observation)
    )


def _jaccard_expr(shared: str, na: str, nb: str):
    """THE Jaccard scoring expression — round(|A∩B| / |A∪B|, 4) — used by
    the standalone query, the suite parts, and the fused suite summary so
    the three stay value-identical by construction."""
    return F.round(
        F.col(shared) / (F.col(na) + F.col(nb) - F.col(shared)), 4
    )


def _jaccard_select(shared: DataFrame) -> DataFrame:
    return shared.select(
        "doc_a", "doc_b",
        _jaccard_expr("shared", "na", "nb").alias("jaccard"),
    ).where(F.col("jaccard") >= 0.2)


def ngram_jaccard_pairs(docs: DataFrame, observation=None) -> DataFrame:
    """Shingle-bucket Jaccard: pairs sharing shingles, scored
    |A∩B| / (|A|+|B|-|A∩B|), threshold 0.2. Set sizes count ALL of a
    doc's shingles; see _shingle_frame/_shared_counts for the one-pass,
    no-self-join shape."""
    return _jaccard_select(_shared_counts(_shingle_frame(docs), observation))


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str, observation=None) -> DataFrame:
    from . import load

    return ngram_jaccard_pairs(load(spark, sf_dir, "documents"), observation)


# Truth threshold for the pair audit: the corpus separates cleanly (true
# near-dups sit at j ~ 0.99, background pairs <= 0.03), so 0.5 is far from
# any rounding boundary in both engines.
AUDIT_JACCARD_T = 0.5


def q_dedup_pair_audit(spark: SparkSession, sf_dir: str, observation=None) -> DataFrame:
    """Honest-metrics audit of the LSH candidate filter — the dedup analog
    of ann_recall: exact shingle-Jaccard pairs at >= AUDIT_JACCARD_T are the
    ground truth, the MinHash-LSH banding is the prediction, and the output
    is one row of integer counts (n_true, n_pred, n_hits) from which recall
    = hits/true and precision = hits/pred follow exactly.

    Both sides reuse the certified capped builders (ngram_jaccard_pairs /
    minhash_lsh_pairs), so the audit measures the production path itself,
    cap semantics included. At corpus scale the two pair sets would read a
    materialized signature/shingle table (the lsh_score_pipeline pattern)
    rather than recompute; the final combine is two bounded aggregates and
    a 1-row broadcast cross join."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    truth = (
        ngram_jaccard_pairs(docs)
        .where(F.col("jaccard") >= AUDIT_JACCARD_T)
        .select("doc_a", "doc_b")
    )
    pred = minhash_lsh_pairs(docs, observation).select("doc_a", "doc_b")
    hit = truth.join(
        pred.withColumn("h", F.lit(1)), ["doc_a", "doc_b"], "left"
    )
    t_agg = hit.agg(
        F.count("*").alias("n_true"),
        F.sum(F.coalesce("h", F.lit(0))).alias("n_hits"),
    )
    p_agg = pred.agg(F.count("*").alias("n_pred"))
    return t_agg.crossJoin(F.broadcast(p_agg)).select(
        "n_true", "n_pred", "n_hits"
    )


def q_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard estimator: fraction of agreeing signature positions
    approximates the true Jaccard (E[agree] = J). Evaluated over adjacent
    doc pairs; the LSH banding in q_dedup_minhash_lsh is the candidate
    filter, this is the scorer that follows it at scale.

    Deliberately a self-join (the signature subtree IS evaluated twice): the
    lag/lead alternative needs a global Window.orderBy(doc_id) — a single-
    partition sort that cannot scale — and at production scale the signature
    table would be checkpointed once and the join sides would read the
    materialization, not recompute."""
    from . import load

    sigs = _minhash_frame(load(spark, sf_dir, "documents"))
    a, b = sigs.alias("a"), sigs.alias("b")
    agree = sum(
        (F.col(f"a.mh{i}") == F.col(f"b.mh{i}")).cast("int")
        for i in range(N_MINHASH)
    )
    return (
        a.join(b, F.col("a.doc_id") + 1 == F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.round(agree / N_MINHASH, 4).alias("jaccard_est"),
        )
    )


def q_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup bucketing (12-bit prefix). The kernel's simhash64 is
    md5-based, so the bucket — the top 12 bits, i.e. the per-bit vote over
    each word-hash's first 3 md5 hex nibbles — is reproducible in DuckDB SQL
    (oracle below); the full-width UDF stays for Hamming-distance use."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    sim = simhash_udf(F.col("text"))
    return (
        docs.select(F.shiftrightunsigned(sim, 52).alias("bucket"), "doc_id")
        .groupBy("bucket")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc"))
    )


EMB_NEAR_DUP_THRESHOLD = 0.35

# A label block larger than this is first REFINED (sub-blocked by the 8-bit
# sign-bucket key — near-identical vectors share sign bits, so true near-dups
# stay co-blocked) and any refined block still over the bound is dropped with
# observable counts, exactly like the LSH/shingle DF-cut. Without this, one
# hot label (at 100 TB a coarse cluster can hold 1e8 vectors) makes the
# within-block pair generation quadratic.
MAX_EMB_BLOCK_DOCS = 100


def embedding_cosine_pairs(emb: DataFrame, observation=None) -> DataFrame:
    """Embedding-cosine near-dup pairs over (vec_id, label, emb), blocked by
    the label column (the coarse-cluster key). Labels above MAX_EMB_BLOCK_DOCS
    are sub-blocked by the sign-bucket key before pair generation; refined
    blocks are hard-capped with drops recorded on ``observation``. Pairs come
    from groupBy + collect_list + in-block pair generation (bounded state:
    <= MAX_EMB_BLOCK_DOCS vectors per group), never a self-join — the scan
    and blocking subtree run once. Cosine is pure JVM expressions."""
    from ..functions.expressions import cosine_similarity_expr
    from .similarity_search import _sign_bucket

    counts = emb.groupBy("label").agg(F.count("*").alias("n_label"))
    keyed = emb.join(F.broadcast(counts), "label").select(
        "label",
        F.when(
            F.col("n_label") > MAX_EMB_BLOCK_DOCS, _sign_bucket(F.col("emb"))
        )
        .otherwise(F.lit(0))
        .alias("blk"),
        "vec_id",
        "emb",
    )
    blocks = keyed.groupBy("label", "blk").agg(
        F.sort_array(F.collect_list(F.struct("vec_id", "emb"))).alias("ids")
    )
    pairs = _capped_buckets(blocks, observation, cap=MAX_EMB_BLOCK_DOCS).select(
        F.explode(_bucket_pairs(F.col("ids"))).alias("p")
    )
    sim = F.round(
        cosine_similarity_expr(F.col("p.a.emb"), F.col("p.b.emb")), 4
    )
    return pairs.select(
        F.col("p.a.vec_id").alias("vec_a"),
        F.col("p.b.vec_id").alias("vec_b"),
        sim.alias("sim"),
    ).where(F.col("sim") >= EMB_NEAR_DUP_THRESHOLD)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str, observation=None) -> DataFrame:
    from . import load

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    return embedding_cosine_pairs(emb, observation)


def q_semantic_dedup(spark: SparkSession, sf_dir: str, observation=None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means the embedding space, then drop
    near-duplicates WITHIN each learned cluster — the cluster id replaces
    the given coarse label as the blocking key, so semantically-close
    vectors are compared even when their source labels differ. Retention is
    the deterministic greedy rule: a vector is dropped iff it has a
    same-cluster neighbor with cosine >= EMB_NEAR_DUP_THRESHOLD and a
    smaller vec_id (one survivor per similarity chain, no RNG).

    Scale shape: the fit is the broadcast-Lloyd layout certified by
    kmeans_fit (per-iteration traffic = K x D centroid ints); assignment is
    a pure map over one localCheckpointed scan; pair generation reuses
    embedding_cosine_pairs — groupBy + collect_list with sign-bucket
    sub-blocking for hot clusters and a hard cap with drops recorded on
    ``observation``. At 100 TB, K grows ~N/target_cluster_size (the paper's
    regime) so expected block size stays constant; the cap bounds the worst
    cluster regardless. The final verdict join is a broadcast of the
    distinct dropped ids (bounded by the capped pair set)."""
    from . import load
    from .similarity_search import (
        KMEANS_DIM,
        KMEANS_ITERS,
        N_CENTROIDS,
        _VQ_SCALE,
        _lloyd,
        _quantize,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    vq = F.transform(
        "emb",
        lambda x: F.round(x * F.lit(float(_VQ_SCALE)), 0).cast("long"),
    )
    base = (
        emb.withColumn("vq", vq)
        .where(F.size("vq") == KMEANS_DIM)
        .localCheckpoint(eager=True)
    )
    cents = _lloyd(
        base.select("vec_id", "vq"), 1, N_CENTROIDS, KMEANS_ITERS
    )[0]
    labeled = _quantize(base, [cents]).selectExpr(
        "a0.cid AS label", "vec_id", "emb"
    )
    pairs = embedding_cosine_pairs(labeled, observation)
    drops = pairs.select(F.col("vec_b").alias("vec_id")).distinct()
    return (
        labeled.join(
            F.broadcast(drops.withColumn("dropped", F.lit(True))),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.col("label").alias("cluster"),
            F.col("dropped").isNull().alias("keep"),
        )
    )


_DUCK_SHINGLES = """
        WITH words AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS ws
            FROM documents
        ), sh AS (
            SELECT doc_id,
                   CASE WHEN len(ws) = 0 THEN []
                        WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                        ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                             i -> array_to_string(list_slice(ws, i, i + 2), ' ')))
                   END AS shingles
            FROM words
        ), ex AS (
            SELECT doc_id, unnest(shingles) AS sh FROM sh
        )
"""

_DUCK_MINHASH = _DUCK_SHINGLES + """
        , sigs AS (
            SELECT doc_id,
                   min(md5('0:' || sh)) AS mh0, min(md5('1:' || sh)) AS mh1,
                   min(md5('2:' || sh)) AS mh2, min(md5('3:' || sh)) AS mh3,
                   min(md5('4:' || sh)) AS mh4, min(md5('5:' || sh)) AS mh5,
                   min(md5('6:' || sh)) AS mh6, min(md5('7:' || sh)) AS mh7
            FROM ex GROUP BY doc_id
        )
"""

ORACLES = {
    "corpus_merge": """
        SELECT md5(lower(regexp_replace(text, '[^\\p{L}\\p{N}]+', '', 'g')))
                   AS fingerprint,
               min(doc_id) AS canonical_id,
               count(*) AS n_copies,
               array_to_string(list_distinct(list_sort(list(source))), ',')
                   AS sources
        FROM documents GROUP BY 1
    """,
    "dedup_exact": """
        SELECT md5(lower(regexp_replace(text, '[^\\p{L}\\p{N}]+', '', 'g')))
                   AS content_key,
               min(doc_id) AS canonical_id,
               count(*) AS cluster_size
        FROM documents GROUP BY 1
    """,
    "minhash_signatures": _DUCK_MINHASH + """
        SELECT doc_id, mh0, mh1, mh2, mh3 FROM sigs
    """,
    "dedup_minhash_lsh": _DUCK_MINHASH + f"""
        , bands AS (
            SELECT doc_id, b.band, b.h FROM sigs,
            LATERAL (SELECT unnest([
                {{'band': 0, 'h': mh0}}, {{'band': 1, 'h': mh1}},
                {{'band': 2, 'h': mh2}}, {{'band': 3, 'h': mh3}},
                {{'band': 4, 'h': mh4}}, {{'band': 5, 'h': mh5}},
                {{'band': 6, 'h': mh6}}, {{'band': 7, 'h': mh7}}
            ], recursive := true)) b(band, h)
        ), kept AS (
            -- DF-cut mirror of MAX_BUCKET_DOCS
            SELECT band, h FROM bands GROUP BY band, h
            HAVING count(*) BETWEEN 2 AND {MAX_BUCKET_DOCS}
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN kept k ON a.band = k.band AND a.h = k.h
        JOIN bands b ON a.band = b.band AND a.h = b.h
        WHERE a.doc_id < b.doc_id
    """,
    # incremental = the full pair set restricted to pairs involving a
    # "new" doc (last 20% of doc_ids)
    "contamination_check": _DUCK_SHINGLES + f"""
        , bench AS (
            SELECT DISTINCT sh FROM ex WHERE doc_id < {BENCHMARK_DOCS}
        )
        SELECT e.doc_id,
               count(*) AS n_shingles,
               sum(CASE WHEN b.sh IS NOT NULL THEN 1 ELSE 0 END)
                   ::BIGINT AS n_contaminated
        FROM ex e LEFT JOIN bench b ON e.sh = b.sh
        WHERE e.doc_id >= {BENCHMARK_DOCS}
        GROUP BY 1
    """,
    "dedup_incremental": _DUCK_MINHASH + f"""
        , bands AS (
            SELECT doc_id, b.band, b.h FROM sigs,
            LATERAL (SELECT unnest([
                {{'band': 0, 'h': mh0}}, {{'band': 1, 'h': mh1}},
                {{'band': 2, 'h': mh2}}, {{'band': 3, 'h': mh3}},
                {{'band': 4, 'h': mh4}}, {{'band': 5, 'h': mh5}},
                {{'band': 6, 'h': mh6}}, {{'band': 7, 'h': mh7}}
            ], recursive := true)) b(band, h)
        ), kept AS (
            SELECT band, h FROM bands GROUP BY band, h
            HAVING count(*) BETWEEN 2 AND {MAX_BUCKET_DOCS}
        ), split AS (
            SELECT (max(doc_id) * 4) // 5 AS s FROM documents
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN kept k ON a.band = k.band AND a.h = k.h
        JOIN bands b ON a.band = b.band AND a.h = b.h
        WHERE a.doc_id < b.doc_id
          AND (a.doc_id >= (SELECT s FROM split)
               OR b.doc_id >= (SELECT s FROM split))
    """,
    "dedup_ngram_jaccard": _DUCK_SHINGLES + f"""
        , sizes AS (
            SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id
        ), kept AS (
            -- DF-cut mirror of MAX_BUCKET_DOCS
            SELECT sh FROM ex GROUP BY sh
            HAVING count(*) BETWEEN 2 AND {MAX_BUCKET_DOCS}
        ), shared AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
            FROM ex a
            JOIN kept k ON a.sh = k.sh
            JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b,
               round(shared::DOUBLE / (sa.n_sh + sb.n_sh - shared), 4) AS jaccard
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(shared::DOUBLE / (sa.n_sh + sb.n_sh - shared), 4) >= 0.2
    """,
}

# SimHash bucket replay: bucket = bits 52..63 of the 64-bit simhash. Bit b
# lives in md5-hex nibble 15 - b//4 (nibble 15 = first hex char), bit b%4
# within it; votes are +1/-1 per word per the kernel (textstats.simhash64).
# Docs with no words hash to 0 -> bucket 0 (left join + coalesce).
ORACLES["cdc_chunk_dedup"] = f"""
        WITH d AS (
            SELECT doc_id, text, length(text) AS n,
                   list_transform(range(1, length(text) + 1),
                       j -> ord(substring(text, j, 1))::BIGINT) AS codes
            FROM documents
        ), cut AS (
            SELECT doc_id, text, n,
                   list_transform(
                       list_filter(
                           CASE WHEN n >= {CDC_W}
                                THEN range(1, n - {CDC_W} + 2)
                                ELSE [] END,
                           i -> list_reduce(
                                    list_prepend(0::BIGINT,
                                        codes[i : i + {CDC_W} - 1]),
                                    (a, c) -> (a * {CDC_B} + c) % {CDC_M}
                                ) % {CDC_K} = 0),
                       i -> i + {CDC_W} - 1) AS cutpos
            FROM d
        ), b AS (
            SELECT doc_id, text,
                   list_concat(list_concat([0], cutpos), [n]) AS bounds
            FROM cut
        ), ch AS (
            SELECT doc_id, chunk FROM (
                SELECT doc_id,
                       unnest(list_filter(
                           list_transform(range(1, len(bounds)),
                               j -> substring(text, bounds[j] + 1,
                                              bounds[j + 1] - bounds[j])),
                           c -> c <> '')) AS chunk
                FROM b
            )
        ), rows_ AS (
            SELECT doc_id, md5(chunk) AS fp, length(chunk)::BIGINT AS len
            FROM ch
        ), cnts AS (
            SELECT fp, count(*) AS cnt FROM rows_ GROUP BY fp
        )
        SELECT r.doc_id,
               count(*)::BIGINT AS n_chunks,
               sum(r.len)::BIGINT AS total_chars,
               sum(CASE WHEN c.cnt >= 2 THEN r.len ELSE 0 END)
                   ::BIGINT AS dup_chars
        FROM rows_ r JOIN cnts c USING (fp)
        GROUP BY r.doc_id
"""

ORACLES["decontaminate_spans"] = f"""
        WITH words AS (
            SELECT doc_id,
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> '') AS ws
            FROM documents
        ), psh AS (
            SELECT doc_id, i - 1 AS start,
                   array_to_string(list_slice(ws, i, i + 2), ' ') AS sh
            FROM words,
                 LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i)
        ), bench AS (
            SELECT DISTINCT sh FROM psh WHERE doc_id < {BENCHMARK_DOCS}
        ), cov AS (
            SELECT DISTINCT p.doc_id, p.start + o.o AS idx
            FROM psh p JOIN bench b USING (sh),
                 LATERAL (SELECT unnest([0, 1, 2]) AS o) o
            WHERE p.doc_id >= {BENCHMARK_DOCS}
        ), wp AS (
            SELECT doc_id, ws[i] AS w, i - 1 AS idx
            FROM words,
                 LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS i)
            WHERE doc_id >= {BENCHMARK_DOCS}
        )
        SELECT wp.doc_id,
               count(*)::BIGINT AS n_words,
               sum((c.idx IS NOT NULL)::INT)::BIGINT AS n_removed,
               coalesce(string_agg(CASE WHEN c.idx IS NULL THEN wp.w END,
                                   ' ' ORDER BY wp.idx), '') AS clean_text
        FROM wp LEFT JOIN cov c ON wp.doc_id = c.doc_id AND wp.idx = c.idx
        GROUP BY wp.doc_id
"""

ORACLES["paragraph_dedup"] = f"""
        WITH d AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0
                        THEN '{_PARA_BANNER} ' || text ELSE text END AS text
            FROM documents
        ), w AS (
            SELECT doc_id, string_split(text, ' ') AS words FROM d
        ), p AS (
            SELECT doc_id, r.i AS p_idx,
                   md5(array_to_string(
                       words[r.i * {PARA_WORDS} + 1 : (r.i + 1) * {PARA_WORDS}],
                       ' ')) AS pkey,
                   array_to_string(
                       words[r.i * {PARA_WORDS} + 1 : (r.i + 1) * {PARA_WORDS}],
                       ' ') AS para
            FROM w, LATERAL (
                SELECT unnest(range(
                    CAST(ceil(len(words) / {PARA_WORDS}.0) AS BIGINT)
                )) AS i
            ) r
        ), f AS (
            SELECT pkey, count(*) AS cnt FROM p GROUP BY 1
        )
        SELECT p.doc_id,
               count(*) AS n_paras,
               sum(CASE WHEN f.cnt >= {MIN_PARA_COUNT} THEN 1 ELSE 0 END)::BIGINT
                   AS n_removed,
               coalesce(
                   string_agg(
                       CASE WHEN f.cnt < {MIN_PARA_COUNT} THEN p.para END,
                       ' ' ORDER BY p.p_idx),
                   '') AS clean_text
        FROM p JOIN f USING (pkey)
        GROUP BY 1
"""

ORACLES["simhash_buckets"] = """
        WITH words AS (
            SELECT doc_id,
                   unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                      x -> x <> '')) AS w
            FROM documents
        ), nib AS (
            SELECT doc_id,
                   strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1 AS n15,
                   strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1 AS n14,
                   strpos('0123456789abcdef', substr(md5(w), 3, 1)) - 1 AS n13
            FROM words
        ), votes AS (
            SELECT doc_id, r.bit,
                   sum(CASE WHEN ((CASE r.bit // 4
                                     WHEN 15 THEN n15
                                     WHEN 14 THEN n14
                                     ELSE n13 END
                                   >> (r.bit % 4)) & 1) = 1
                            THEN 1 ELSE -1 END) AS v
            FROM nib, LATERAL (SELECT unnest(range(52, 64)) AS bit) r
            GROUP BY doc_id, r.bit
        ), sims AS (
            SELECT doc_id,
                   sum(CASE WHEN v > 0 THEN 1 << (bit - 52) ELSE 0 END)::BIGINT
                       AS bucket
            FROM votes GROUP BY doc_id
        )
        SELECT coalesce(s.bucket, 0) AS bucket,
               count(*) AS n_docs,
               min(d.doc_id) AS min_doc
        FROM documents d LEFT JOIN sims s ON d.doc_id = s.doc_id
        GROUP BY 1
"""

ORACLES["minhash_jaccard_estimate"] = _DUCK_MINHASH + """
        SELECT a.doc_id AS doc_id,
               round((
                 (a.mh0 = b.mh0)::INT + (a.mh1 = b.mh1)::INT
                 + (a.mh2 = b.mh2)::INT + (a.mh3 = b.mh3)::INT
                 + (a.mh4 = b.mh4)::INT + (a.mh5 = b.mh5)::INT
                 + (a.mh6 = b.mh6)::INT + (a.mh7 = b.mh7)::INT
               ) / 8.0, 4) AS jaccard_est
        FROM sigs a JOIN sigs b ON a.doc_id + 1 = b.doc_id
"""

# Sign-bucket sub-key for hot labels, mirroring similarity_search._sign_bucket
_DUCK_SIGN_BUCKET = " + ".join(
    f"(CASE WHEN emb[{i + 1}] > 0 THEN {1 << i} ELSE 0 END)" for i in range(8)
)

# Rounded cosine over pair aliases a/b — the SQL twin of
# functions.expressions.cosine_similarity_expr, shared by the label-blocked
# and the learned-cluster (semantic) pair oracles.
_DUCK_PAIR_SIM = """round(
                     CASE WHEN sqrt(list_sum(list_transform(a.emb, x -> x * x))) = 0
                            OR sqrt(list_sum(list_transform(b.emb, x -> x * x))) = 0
                          THEN 0.0
                          ELSE list_sum(list_transform(range(1, len(a.emb) + 1),
                                   i -> a.emb[i] * b.emb[i]))
                               / (sqrt(list_sum(list_transform(a.emb, x -> x * x)))
                                  * sqrt(list_sum(list_transform(b.emb, x -> x * x))))
                     END, 4)"""

ORACLES["dedup_embedding_cosine"] = f"""
        WITH e AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
        ), cnt AS (
            SELECT label, count(*) AS n_label FROM e GROUP BY 1
        ), keyed AS (
            -- hot labels sub-block by the 8-bit sign bucket; small labels
            -- keep blk = 0 (mirror of MAX_EMB_BLOCK_DOCS refinement)
            SELECT e.vec_id, e.label, e.emb,
                   CASE WHEN c.n_label > {MAX_EMB_BLOCK_DOCS}
                        THEN {_DUCK_SIGN_BUCKET}
                        ELSE 0 END AS blk
            FROM e JOIN cnt c ON e.label = c.label
        ), kept AS (
            -- DF-cut mirror of the refined-block hard cap
            SELECT label, blk FROM keyed GROUP BY 1, 2
            HAVING count(*) BETWEEN 2 AND {MAX_EMB_BLOCK_DOCS}
        ), pairs AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   {_DUCK_PAIR_SIM} AS sim
            FROM keyed a
            JOIN kept k ON a.label = k.label AND a.blk = k.blk
            JOIN keyed b ON a.label = b.label AND a.blk = b.blk
                        AND a.vec_id < b.vec_id
        )
        SELECT vec_a, vec_b, sim FROM pairs
        WHERE sim >= {EMB_NEAR_DUP_THRESHOLD}
"""


def _semantic_dedup_oracle() -> str:
    """Replay the Lloyd fit (shared CTE chain), re-block the pair generation
    by the TRAINED cluster id, and derive the greedy min-id retention."""
    from .similarity_search import _kmeans_cte_chain

    prefix, _last = _kmeans_cte_chain()
    return prefix + f"""
        , cellsSD AS (
            SELECT vec_id, cid FROM asgF WHERE rk = 1
        ), eSD AS (
            SELECT c.vec_id, c.cid AS label, e.embedding::DOUBLE[] AS emb
            FROM cellsSD c JOIN embeddings e ON e.vec_id = c.vec_id
        ), cntSD AS (
            SELECT label, count(*) AS n_label FROM eSD GROUP BY 1
        ), keyedSD AS (
            SELECT e.vec_id, e.label, e.emb,
                   CASE WHEN c.n_label > {MAX_EMB_BLOCK_DOCS}
                        THEN {_DUCK_SIGN_BUCKET}
                        ELSE 0 END AS blk
            FROM eSD e JOIN cntSD c ON e.label = c.label
        ), keptSD AS (
            SELECT label, blk FROM keyedSD GROUP BY 1, 2
            HAVING count(*) BETWEEN 2 AND {MAX_EMB_BLOCK_DOCS}
        ), pairsSD AS (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   {_DUCK_PAIR_SIM} AS sim
            FROM keyedSD a
            JOIN keptSD k ON a.label = k.label AND a.blk = k.blk
            JOIN keyedSD b ON a.label = b.label AND a.blk = b.blk
                          AND a.vec_id < b.vec_id
        ), dropsSD AS (
            SELECT DISTINCT vec_b FROM pairsSD
            WHERE sim >= {EMB_NEAR_DUP_THRESHOLD}
        )
        SELECT e.vec_id, e.label AS cluster, (d.vec_b IS NULL) AS keep
        FROM eSD e LEFT JOIN dropsSD d ON d.vec_b = e.vec_id
    """


ORACLES["semantic_dedup"] = _semantic_dedup_oracle()

ORACLES["dedup_pair_audit"] = _DUCK_MINHASH + f"""
        , sizes AS (
            SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id
        ), kn AS (
            SELECT sh FROM ex GROUP BY sh
            HAVING count(*) BETWEEN 2 AND {MAX_BUCKET_DOCS}
        ), sharedA AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
            FROM ex a
            JOIN kn k ON a.sh = k.sh
            JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), truth AS (
            SELECT doc_a, doc_b FROM sharedA
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE round(shared::DOUBLE / (sa.n_sh + sb.n_sh - shared), 4)
                  >= {AUDIT_JACCARD_T}
        ), bands AS (
            SELECT doc_id, b.band, b.h FROM sigs,
            LATERAL (SELECT unnest([
                {{'band': 0, 'h': mh0}}, {{'band': 1, 'h': mh1}},
                {{'band': 2, 'h': mh2}}, {{'band': 3, 'h': mh3}},
                {{'band': 4, 'h': mh4}}, {{'band': 5, 'h': mh5}},
                {{'band': 6, 'h': mh6}}, {{'band': 7, 'h': mh7}}
            ], recursive := true)) b(band, h)
        ), kb AS (
            SELECT band, h FROM bands GROUP BY band, h
            HAVING count(*) BETWEEN 2 AND {MAX_BUCKET_DOCS}
        ), pred AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM bands a
            JOIN kb k ON a.band = k.band AND a.h = k.h
            JOIN bands b ON a.band = b.band AND a.h = b.h
            WHERE a.doc_id < b.doc_id
        )
        SELECT (SELECT count(*) FROM truth) AS n_true,
               (SELECT count(*) FROM pred) AS n_pred,
               (SELECT count(*) FROM truth t
                JOIN pred p ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b)
                   AS n_hits
"""

QUERIES = {
    "dedup_exact": q_dedup_exact,
    "minhash_signatures": q_minhash_signatures,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_incremental": q_dedup_incremental,
    "contamination_check": q_contamination_check,
    "decontaminate_spans": q_decontaminate_spans,
    "cdc_chunk_dedup": q_cdc_chunk_dedup,
    "corpus_merge": q_corpus_merge,
    "paragraph_dedup": q_paragraph_dedup,
    "simhash_buckets": q_simhash_buckets,
    "dedup_embedding_cosine": q_dedup_embedding_cosine,
    "semantic_dedup": q_semantic_dedup,
    "dedup_pair_audit": q_dedup_pair_audit,
    "minhash_jaccard_estimate": q_minhash_jaccard_estimate,
}


# Exact-substring dedup window width (tokens). Lee et al., "Deduplicating
# Training Data Makes Language Models Better" (ACL 2022) uses 50 BPE tokens
# over a suffix array; the distributed re-expression below uses fixed-width
# rolling token windows hashed and counted corpus-wide — 8 words here so the
# synthetic corpus (avg ~54 words/doc) exercises multi-window span merging.
SUB_W = 8


def _token_window_hashes(toks, n):
    """md5 digests of all SUB_W-token rolling windows, index i = window
    starting at token i (0-based). Shifted-zip form per the
    lambda-re-evaluation rule (zip SUB_W shifted slices instead of slicing
    inside the lambda); trailing arrays_zip partials sliced off."""
    # every input an EXPRESSION (i=0 included) so arrays_zip names the
    # fields "0".."7" uniformly (a bare column keeps its own name)
    slices = [
        F.slice(toks, i + 1, F.greatest(n - i, F.lit(0)))
        for i in range(SUB_W)
    ]
    z = F.arrays_zip(*slices)
    win = F.transform(
        z,
        lambda s: F.md5(
            F.concat_ws(" ", *[s[str(i)] for i in range(SUB_W)])
        ),
    )
    return F.slice(win, 1, F.greatest(n - (SUB_W - 1), F.lit(0)))


def _window_frame(docs: DataFrame) -> DataFrame:
    """Shared SUB_W rolling-window frame over documents: one row per
    token window as (doc_id, n_tokens, s, h). localCheckpointed eagerly
    because every consumer reads it at least twice (the hash-occurrence
    aggregate and the join back)."""
    toks = F.filter(F.split("text", r"\s+"), lambda x: x != "")
    base = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            "toks",
        )
        .where(F.col("n_tokens") >= SUB_W)
    )
    return base.select(
        "doc_id",
        "n_tokens",
        F.posexplode(
            _token_window_hashes(F.col("toks"), F.size("toks"))
        ).alias("s", "h"),
    ).localCheckpoint(eager=True)


def q_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication spans (the ExactSubstr dedup of Lee et
    al. 2022, re-expressed for Spark): every SUB_W-token rolling window is
    hashed; windows whose hash occurs in >= 2 DISTINCT documents are
    duplicated text; per document, overlapping/adjacent duplicated windows
    merge into maximal spans (gaps-and-islands: a window starting more
    than SUB_W tokens after its predecessor opens a new span — any smaller
    gap keeps coverage contiguous). Output per affected doc: span count,
    duplicated-token total, and the integer-permille duplicated fraction —
    the per-doc removal budget an ExactSubstr scrub would cut.

    Distinct from paragraph_dedup (paragraph granularity, corpus-hot
    lines), cdc_chunk_dedup (content-defined chunks, resync after edits),
    and decontaminate_spans (corpus-vs-benchmark, not corpus-internal).

    Scale shape: the window frame is the shingle explode every MinHash
    system already pays (corpus-linear, ~1 row/token), localCheckpointed
    once because both the hash count and the join back read it; the hot
    set is a keyed hash aggregate with map-side combine; the join back is
    equi-keyed on the digest; island merging is a per-doc window bounded
    by document length. Nothing quadratic, no self-recompute.
    """
    from . import load, spread_for_cpu_map

    wins = _window_frame(spread_for_cpu_map(load(spark, sf_dir, "documents")))
    hot = (
        wins.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    dup = wins.join(hot.select("h"), "h").select("doc_id", "n_tokens", "s")
    wd = Window.partitionBy("doc_id").orderBy("s")
    flagged = dup.withColumn(
        "f",
        F.when(
            F.lag("s").over(wd).isNull()
            | (F.col("s") - F.lag("s").over(wd) > SUB_W),
            1,
        ).otherwise(0),
    )
    isl = flagged.withColumn(
        "island",
        F.sum("f").over(
            wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("s").alias("st"),
        (F.max("s") + F.lit(SUB_W - 1)).alias("en"),
        F.max("n_tokens").alias("n_tokens"),
    )
    return (
        spans.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("en") - F.col("st") + 1).alias("dup_tokens"),
            F.max("n_tokens").alias("n_tokens"),
        )
        .withColumn(
            "dup_permille", F.expr("div(dup_tokens * 1000, n_tokens)")
        )
    )


ORACLES["substring_dup_spans"] = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), base AS (
        SELECT doc_id, len(t)::BIGINT AS n_tokens, t
        FROM toks WHERE len(t) >= {SUB_W}
    ), w AS (
        SELECT doc_id, n_tokens, ss.s AS s,
               md5(array_to_string(t[ss.s + 1: ss.s + {SUB_W}], ' ')) AS h
        FROM base,
             LATERAL (SELECT unnest(range(0, n_tokens - {SUB_W - 1}))
                      AS s) ss
    ), hot AS (
        SELECT h FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2
    ), dup AS (
        SELECT w.doc_id, w.n_tokens, w.s FROM w JOIN hot USING (h)
    ), flg AS (
        SELECT doc_id, n_tokens, s,
               CASE WHEN lag(s) OVER win IS NULL
                         OR s - lag(s) OVER win > {SUB_W}
                    THEN 1 ELSE 0 END AS f
        FROM dup WINDOW win AS (PARTITION BY doc_id ORDER BY s)
    ), isl AS (
        SELECT doc_id, n_tokens, s,
               sum(f) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS UNBOUNDED PRECEDING) AS island
        FROM flg
    ), spans AS (
        SELECT doc_id, island, min(s) AS st,
               max(s) + {SUB_W - 1} AS en,
               max(n_tokens) AS n_tokens
        FROM isl GROUP BY 1, 2
    )
    SELECT doc_id, count(*) AS n_spans,
           sum(en - st + 1)::BIGINT AS dup_tokens,
           max(n_tokens) AS n_tokens,
           (sum(en - st + 1)::BIGINT * 1000) // max(n_tokens)
               AS dup_permille
    FROM spans GROUP BY doc_id
"""

QUERIES["substring_dup_spans"] = q_substring_dup_spans


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-aware n-gram novelty — the memorization/leakage audit for an
    INCREMENTALLY ingested corpus (cf. the train/test overlap analyses of
    Lee et al. 2022 §6 and the GPT-3 appendix): treating doc_id order as
    ingestion order, each document reports how many of its SUB_W-token
    rolling windows already occurred in any EARLIER document, and the
    integer-permille novelty ratio. A late document with low novelty is a
    rehash of already-ingested text — exactly what an order-aware dedup
    or an eval-set contamination review wants ranked first.

    Distinct from substring_dup_spans (symmetric duplication, span
    geometry) and contamination_check (vs a fixed benchmark set): this is
    directional (earlier-wins) and corpus-internal.

    Scale shape: one window explode (shared construction with
    substring_dup_spans, localCheckpointed once), one digest-keyed
    min(doc_id) aggregate with map-side combine (the first-occurrence
    index — at production scale this is the persisted artifact an
    incremental pipeline maintains, dedup_incremental-style), and one
    equi-join back; per-doc rollup is a doc-keyed hash aggregate. Nothing
    quadratic; a corpus-hot window inflates only the count aggregate."""
    from . import load, spread_for_cpu_map

    wins = _window_frame(
        spread_for_cpu_map(load(spark, sf_dir, "documents"))
    ).drop("n_tokens")
    first_seen = wins.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        wins.join(first_seen, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(
                (F.col("first_doc") < F.col("doc_id")).cast("long")
            ).alias("n_seen_before"),
        )
        .withColumn(
            "novelty_permille",
            F.expr("div((n_windows - n_seen_before) * 1000, n_windows)"),
        )
    )


ORACLES["ngram_novelty"] = f"""
    WITH toks AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), base AS (
        SELECT doc_id, len(t)::BIGINT AS n_tokens, t
        FROM toks WHERE len(t) >= {SUB_W}
    ), w AS (
        SELECT doc_id, ss.s AS s,
               md5(array_to_string(t[ss.s + 1: ss.s + {SUB_W}], ' ')) AS h
        FROM base,
             LATERAL (SELECT unnest(range(0, n_tokens - {SUB_W - 1}))
                      AS s) ss
    ), first_seen AS (
        SELECT h, min(doc_id) AS first_doc FROM w GROUP BY h
    )
    , per_doc AS (
        SELECT w.doc_id,
               count(*) AS n_windows,
               sum((f.first_doc < w.doc_id)::BIGINT)::BIGINT
                   AS n_seen_before
        FROM w JOIN first_seen f USING (h)
        GROUP BY w.doc_id
    )
    SELECT doc_id, n_windows, n_seen_before,
           ((n_windows - n_seen_before) * 1000) // n_windows
               AS novelty_permille
    FROM per_doc
"""

QUERIES["ngram_novelty"] = q_ngram_novelty

def q_split_leakage(spark: SparkSession, sf_dir: str, observation=None) -> DataFrame:
    """Train/holdout leakage audit: embedding near-dup pairs that CROSS the
    deterministic train/val/test boundary — the "eval contamination via
    near-duplicates" number model-card data sections report (cf. Lee et al.
    2022 §6's train/test overlap analysis, SemDeDup's cross-split check).
    Composes two certified pieces: ``embedding_cosine_pairs`` (label-blocked,
    sign-bucket refined, hard-capped pair generation — never a self-join)
    and ``holdout_split_expr`` (content-stable md5-bucket split).

    Each side's split is a pure expression over the pair's own id — NO join
    back to the corpus: the split is a function of the id hash, so at 100 TB
    the audit costs one extra projection over the (tiny) pair frame instead
    of two corpus-sized broadcast joins. Output: every cross-split near-dup
    pair with both splits and whether it leaks the train set into an eval
    split (``leaks_train``)."""
    from . import load
    from .text_ops import holdout_split_expr

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    pairs = embedding_cosine_pairs(emb, observation)
    return (
        pairs.select(
            "vec_a",
            "vec_b",
            "sim",
            holdout_split_expr(F.col("vec_a")).alias("split_a"),
            holdout_split_expr(F.col("vec_b")).alias("split_b"),
        )
        .where(F.col("split_a") != F.col("split_b"))
        .withColumn(
            "leaks_train",
            (F.col("split_a") == "train") | (F.col("split_b") == "train"),
        )
    )


def _split_leakage_oracle() -> str:
    from .text_ops import SPLIT_TEST_PCT, SPLIT_VAL_PCT

    lo, hi = SPLIT_VAL_PCT, SPLIT_VAL_PCT + SPLIT_TEST_PCT
    return f"""
    WITH pairs AS ({ORACLES["dedup_embedding_cosine"]}
    ), b AS (
        SELECT vec_a, vec_b, sim,
               ('0x' || substring(md5(vec_a::VARCHAR), 1, 4))::BIGINT
                   % 100 AS ba,
               ('0x' || substring(md5(vec_b::VARCHAR), 1, 4))::BIGINT
                   % 100 AS bb
        FROM pairs
    ), s AS (
        SELECT vec_a, vec_b, sim,
               CASE WHEN ba < {lo} THEN 'val'
                    WHEN ba < {hi} THEN 'test'
                    ELSE 'train' END AS split_a,
               CASE WHEN bb < {lo} THEN 'val'
                    WHEN bb < {hi} THEN 'test'
                    ELSE 'train' END AS split_b
        FROM b
    )
    SELECT vec_a, vec_b, sim, split_a, split_b,
           (split_a = 'train' OR split_b = 'train') AS leaks_train
    FROM s WHERE split_a <> split_b
"""


ORACLES["split_leakage"] = _split_leakage_oracle()
QUERIES["split_leakage"] = q_split_leakage


# --- Cross-source content-overlap matrix ---------------------------------------
def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card source-overlap matrix: for every pair of sources, how
    many distinct word 3-shingles they share, and the overlap coefficient
    (shared / smaller source's shingle set, integer permille) — the
    corpus-level view of cross-source contamination that doc-level dedup
    pairs don't aggregate (which mirror of CommonCrawl duplicates which,
    which source is a strict subset of another).

    Scale shape: the shingle frame is distinct (source, shingle) — one
    hash-groupBy; per-shingle source lists are BOUNDED BY THE SOURCE
    COUNT (tens, not documents — no DF-cut needed, unlike doc-id
    buckets), so in-bucket pair generation via the shared _bucket_pairs
    helper is O(sources^2) per shingle worst case with a tiny constant;
    per-source set sizes broadcast back for the containment divisor. No
    self-join: the shingle subtree evaluates once.

    Output: source_a, source_b, n_shared, containment_permille."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    sh = docs.select(
        "source", F.explode(word_shingles_expr(F.col("text"))).alias("sh")
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    buckets = (
        sh.groupBy("sh")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
        .where(F.size("srcs") >= 2)
    )
    pairs = buckets.select(
        F.explode(_bucket_pairs(F.col("srcs"))).alias("p")
    )
    counts = pairs.groupBy(
        F.col("p.a").alias("source_a"), F.col("p.b").alias("source_b")
    ).agg(F.count(F.lit(1)).alias("n_shared"))
    sz_a = sizes.select(
        F.col("source").alias("source_a"), F.col("sz").alias("sz_a")
    )
    sz_b = sizes.select(
        F.col("source").alias("source_b"), F.col("sz").alias("sz_b")
    )
    return (
        counts.join(F.broadcast(sz_a), "source_a")
        .join(F.broadcast(sz_b), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            F.expr("n_shared * 1000 div least(sz_a, sz_b)").alias(
                "containment_permille"
            ),
        )
    )


QUERIES["source_overlap_matrix"] = q_source_overlap_matrix

ORACLES["source_overlap_matrix"] = _DUCK_SHINGLES.replace(
    "SELECT doc_id,", "SELECT doc_id, source,", 1
).replace(
    "SELECT doc_id,\n                   CASE",
    "SELECT doc_id, source,\n                   CASE",
).replace(
    "SELECT doc_id, unnest(shingles) AS sh FROM sh",
    "SELECT DISTINCT source, unnest(shingles) AS sh FROM sh",
) + """
    , sizes AS (
        SELECT source, count(*)::BIGINT AS sz FROM ex GROUP BY source
    ), shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*)::BIGINT AS n_shared
        FROM ex a JOIN ex b ON a.sh = b.sh AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           n_shared * 1000 // least(za.sz, zb.sz) AS containment_permille
    FROM shared
    JOIN sizes za ON za.source = source_a
    JOIN sizes zb ON zb.source = source_b
"""


# --- Winnowing fingerprints (round 4) ----------------------------------------------
WIN_W = 4           # winnowing window over consecutive shingle hashes
WIN_POS_BITS = 20   # position packed into the low bits for rightmost ties


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD'03 — the MOSS algorithm): word 3-shingle hashes, and from every
    window of WIN_W consecutive hashes the minimum is selected (ties to
    the RIGHTMOST position, the paper's rule), giving a position-robust
    fingerprint set with guaranteed density >= 1/WIN_W. The tie-break
    rides a single packed integer — key = h * 2^20 + (2^20-1-pos) — so
    one plain ``min`` window implements (min hash, rightmost pos) in both
    engines with no struct comparison (positions bounded by 2^20 per doc;
    a longer doc would raise WIN_POS_BITS — a constant, not a scan).

    Scale shape: posexplode -> ONE per-doc bounded window (min over
    WIN_W-1 following rows) -> distinct -> digest-keyed corpus count for
    the sharing signal -> keyed join-backs. No self-joins, no global
    windows. Output per doc: doc_id, n_shingles, n_windows, n_fps,
    density_permille, n_shared (fingerprint hashes seen in >= 2 docs)."""
    from . import load

    docs = load(spark, sf_dir, "documents")
    pos_mod = 1 << WIN_POS_BITS
    # Overflow guard: the packed key reserves WIN_POS_BITS low bits for the
    # (reversed) position; a doc with >= 2^WIN_POS_BITS shingles would make
    # (pos_mod-1 - pos) negative and silently corrupt the extracted
    # hash/position on BOTH engines — fail loudly instead (raise
    # WIN_POS_BITS for such corpora; it is a constant, not a scan).
    pos_checked = F.when(F.col("pos") < pos_mod, F.col("pos")).otherwise(
        F.raise_error(
            F.lit(
                "winnow_fingerprints: document has >= 2^"
                f"{WIN_POS_BITS} shingles — raise WIN_POS_BITS"
            )
        )
    )
    sh = docs.select(
        "doc_id", F.posexplode(_positional_shingles_col()).alias("pos", "sh")
    ).select(
        "doc_id",
        "pos",
        (
            F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("long")
            * pos_mod
            + (F.lit(pos_mod - 1) - pos_checked)
        ).alias("key"),
    )
    wmin = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WIN_W - 1)
    n_sh = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    fps = (
        sh.withColumn("mk", F.min("key").over(wmin))
        .join(n_sh, "doc_id")
        .where(F.col("pos") <= F.col("n_shingles") - WIN_W)
        .select(
            "doc_id",
            F.expr(f"mk DIV {pos_mod}").alias("h"),
            (F.lit(pos_mod - 1) - F.col("mk") % pos_mod).alias("fp_pos"),
        )
        .distinct()
    )
    fp_hashes = fps.select("doc_id", "h").distinct()
    hot = (
        fp_hashes.groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    shared = (
        fp_hashes.join(hot, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    per_doc = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fps"))
    return (
        docs.select("doc_id")
        .join(n_sh, "doc_id", "left")
        .join(per_doc, "doc_id", "left")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).alias("n_shingles"),
            F.greatest(
                F.coalesce("n_shingles", F.lit(0)) - (WIN_W - 1),
                F.lit(0).cast("long"),
            ).alias("n_windows"),
            F.coalesce("n_fps", F.lit(0)).alias("n_fps"),
            F.expr(
                "coalesce(coalesce(n_fps, 0) * 1000 div "
                f"nullif(greatest(coalesce(n_shingles, 0) - {WIN_W - 1}, 0),"
                " 0), -1)"
            ).alias("density_permille"),
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
        )
    )


QUERIES["winnow_fingerprints"] = q_winnow_fingerprints

ORACLES["winnow_fingerprints"] = f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS t
        FROM documents
    ), sh AS MATERIALIZED (
        SELECT doc_id,
               ss.s AS pos,
               ('0x' || substring(
                    md5(array_to_string(t[ss.s + 1: ss.s + 3], ' ')),
                    1, 8))::BIGINT * {1 << WIN_POS_BITS}
                   + ({(1 << WIN_POS_BITS) - 1} - ss.s) AS key
        FROM toks,
             LATERAL (SELECT unnest(range(0, greatest(len(t) - 2, 0)))
                      AS s) ss
    ), ns AS (
        SELECT doc_id, count(*)::BIGINT AS n_shingles FROM sh GROUP BY doc_id
    ), mins AS (
        SELECT sh.doc_id, sh.pos,
               min(key) OVER (PARTITION BY sh.doc_id ORDER BY sh.pos
                              ROWS BETWEEN CURRENT ROW
                              AND {WIN_W - 1} FOLLOWING) AS mk,
               ns.n_shingles
        FROM sh JOIN ns USING (doc_id)
    ), fps AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               mk // {1 << WIN_POS_BITS} AS h,
               {(1 << WIN_POS_BITS) - 1} - (mk % {1 << WIN_POS_BITS})
                   AS fp_pos
        FROM mins WHERE pos <= n_shingles - {WIN_W}
    ), fph AS MATERIALIZED (
        SELECT DISTINCT doc_id, h FROM fps
    ), hot AS (
        SELECT h FROM fph GROUP BY h HAVING count(*) >= 2
    ), shr AS (
        SELECT doc_id, count(*)::BIGINT AS n_shared
        FROM fph JOIN hot USING (h) GROUP BY doc_id
    ), pd AS (
        SELECT doc_id, count(*)::BIGINT AS n_fps FROM fps GROUP BY doc_id
    )
    SELECT d.doc_id,
           coalesce(ns.n_shingles, 0)::BIGINT AS n_shingles,
           greatest(coalesce(ns.n_shingles, 0) - {WIN_W - 1}, 0)::BIGINT
               AS n_windows,
           coalesce(pd.n_fps, 0)::BIGINT AS n_fps,
           coalesce(coalesce(pd.n_fps, 0) * 1000
               // nullif(greatest(coalesce(ns.n_shingles, 0) - {WIN_W - 1},
                                  0), 0), -1)::BIGINT AS density_permille,
           coalesce(shr.n_shared, 0)::BIGINT AS n_shared
    FROM documents d
    LEFT JOIN ns ON ns.doc_id = d.doc_id
    LEFT JOIN pd ON pd.doc_id = d.doc_id
    LEFT JOIN shr ON shr.doc_id = d.doc_id
"""


# --- SimHash Hamming near-dup pairs (round 4) ---------------------------------------
SH_COPY_MOD = 25
SH_COPY_OFFSET = 10_000_000
SH_HAM_MAX = 3
SH_BANDS = 4  # 4 x 16-bit bands over the 64-bit simhash
SH_SUB_BANDS = 4  # 4 x 12-bit sub-bands of the other 48 bits (hot buckets)


def q_simhash_hamming_pairs(
    spark: SparkSession, sf_dir: str, observation=None
) -> DataFrame:
    """SimHash near-dup retrieval, end to end: banded candidate generation
    (any shared 16-bit band of the 64-bit simhash — by pigeonhole every
    pair within Hamming distance 3 shares at least one of 4 bands, so
    recall at the target radius is structural, not probabilistic) followed
    by exact Hamming verification (``bit_count(a XOR b) <= {SH_HAM_MAX}``).
    Near-duplicates are PLANTED deterministically (every {SH_COPY_MOD}th
    doc re-enters with one appended word at doc_id + {SH_COPY_OFFSET}) so
    the operator's output is non-trivial and the planted recall is
    observable.

    HOT buckets recurse instead of dropping: a (band, h) bucket over
    MAX_BUCKET_DOCS re-enters each member into {SH_SUB_BANDS} sub-buckets
    keyed by 12-bit sub-bands of the OTHER 48 simhash bits. Inside a hot
    bucket the band's 16 bits are all equal, so a radius-{SH_HAM_MAX} pair
    differs in <= {SH_HAM_MAX} of the remaining 48 bits — too few to hit
    all {SH_SUB_BANDS} sub-bands, so by the same pigeonhole the pair
    co-locates in at least one sub-bucket. The cap then applies at the
    sub-bucket level (drops recorded on ``observation``; expected ~0 — a
    hot bucket of K docs spreads to ~K*{SH_SUB_BANDS}/4096 per sub-bucket),
    so the round-4 behavior of voiding the recall guarantee for whole hot
    bands is gone. Pair generation stays in-bucket (never a self-join);
    the simhash itself is the Arrow kernel (full 64-bit md5-vote simhash),
    which the oracle replays bit-for-bit in SQL, sub-banding included.

    Output: doc_a, doc_b, hamming."""
    from . import load
    from ..functions.udfs import simhash_udf

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    planted = docs.where(F.col("doc_id") % SH_COPY_MOD == 0).select(
        (F.col("doc_id") + SH_COPY_OFFSET).alias("doc_id"),
        F.concat("text", F.lit(" zq")).alias("text"),
    )
    sims = docs.unionByName(planted).select(
        "doc_id", simhash_udf(F.col("text")).alias("sim")
    )

    def band_key(b):
        return F.shiftrightunsigned("sim", 16 * b).bitwiseAND(F.lit(65535))

    # o48 = the three OTHER band keys packed little-endian: the secondary
    # key space for sub-banding hot buckets (nonnegative, < 2^48)
    bands = sims.select(
        "doc_id",
        "sim",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    band_key(b).alias("h"),
                    (
                        band_key((b + 1) % SH_BANDS)
                        + band_key((b + 2) % SH_BANDS) * F.lit(65536)
                        + band_key((b + 3) % SH_BANDS) * F.lit(4294967296)
                    ).alias("o48"),
                )
                for b in range(SH_BANDS)
            ])
        ).alias("bk"),
    ).select("doc_id", "sim", F.col("bk.band").alias("band"),
             F.col("bk.h").alias("h"), F.col("bk.o48").alias("o48"))
    sub_hot = F.array(*[
        F.struct(
            F.lit(j).alias("sb"),
            F.shiftrightunsigned("o48", 12 * j)
            .bitwiseAND(F.lit(4095))
            .alias("sub"),
        )
        for j in range(SH_SUB_BANDS)
    ])
    sub_cold = F.array(
        F.struct(F.lit(-1).alias("sb"), F.lit(0).cast("long").alias("sub"))
    )
    # bucket size via a window count — a join against an aggregated hot
    # set would re-evaluate the Arrow simhash subtree on both sides (the
    # self-join recompute rule); the window shuffles only longs, once
    flagged = bands.withColumn(
        "is_hot",
        F.count(F.lit(1)).over(Window.partitionBy("band", "h"))
        > MAX_BUCKET_DOCS,
    )
    entries = (
        flagged.select(
            "doc_id",
            "sim",
            "band",
            "h",
            F.explode(
                F.when(F.col("is_hot"), sub_hot).otherwise(sub_cold)
            ).alias("sk"),
        )
        .select("doc_id", "sim", "band", "h",
                F.col("sk.sb").alias("sb"), F.col("sk.sub").alias("sub"))
    )
    buckets = _capped_buckets(
        entries.groupBy("band", "h", "sb", "sub").agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", "sim"))
            ).alias("ids")
        ),
        observation,
    )
    pairs = (
        buckets.select(F.explode(_bucket_pairs(F.col("ids"))).alias("p"))
        .select(
            F.col("p.a.doc_id").alias("doc_a"),
            F.col("p.b.doc_id").alias("doc_b"),
            F.col("p.a.sim").alias("sim_a"),
            F.col("p.b.sim").alias("sim_b"),
        )
        .distinct()
    )
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(
                F.col("sim_a").bitwiseXOR(F.col("sim_b"))
            ).cast("long"),
        )
        .where(F.col("hamming") <= SH_HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
    )


QUERIES["simhash_hamming_pairs"] = q_simhash_hamming_pairs

ORACLES["simhash_hamming_pairs"] = f"""
    WITH corpus AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {SH_COPY_OFFSET}, text || ' zq'
        FROM documents WHERE doc_id % {SH_COPY_MOD} = 0
    ), words AS (
        SELECT doc_id,
               unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                  x -> x <> '')) AS w
        FROM corpus
    ), votes AS (
        SELECT doc_id, r.bit,
               sum(CASE WHEN ((
                     strpos('0123456789abcdef',
                            substr(md5(w), 16 - r.bit // 4, 1)) - 1
                   ) >> (r.bit % 4)) & 1 = 1 THEN 1 ELSE -1 END) AS v
        FROM words, LATERAL (SELECT unnest(range(0, 64)) AS bit) r
        GROUP BY doc_id, r.bit
    ), keys0 AS (
        SELECT doc_id, bit // 16 AS band,
               sum(CASE WHEN v > 0
                        THEN 1 << (bit % 16) ELSE 0 END)::BIGINT AS key
        FROM votes GROUP BY doc_id, bit // 16
    ), bandkeys AS MATERIALIZED (
        -- wordless docs simhash to 0: key 0 in every band
        SELECT c.doc_id, b.band, coalesce(k.key, 0) AS key
        FROM (SELECT doc_id FROM corpus) c
        CROSS JOIN (SELECT unnest(range(0, {SH_BANDS})) AS band) b
        LEFT JOIN keys0 k ON k.doc_id = c.doc_id AND k.band = b.band
    ), wide AS MATERIALIZED (
        SELECT doc_id,
               max(CASE WHEN band = 0 THEN key END) AS k0,
               max(CASE WHEN band = 1 THEN key END) AS k1,
               max(CASE WHEN band = 2 THEN key END) AS k2,
               max(CASE WHEN band = 3 THEN key END) AS k3
        FROM bandkeys GROUP BY doc_id
    ), bcount AS (
        SELECT band, key, count(*) AS n FROM bandkeys GROUP BY band, key
    ), entries AS MATERIALIZED (
        -- hot buckets (> {MAX_BUCKET_DOCS}) re-enter each member into
        -- {SH_SUB_BANDS} sub-buckets keyed by 12-bit sub-bands of the
        -- OTHER three band keys packed little-endian (mirrors o48)
        SELECT bk.doc_id, bk.band, bk.key,
               CASE WHEN c.n > {MAX_BUCKET_DOCS} THEN j.j ELSE -1 END AS sb,
               CASE WHEN c.n > {MAX_BUCKET_DOCS} THEN
                 ((CASE (bk.band + 1) % 4 WHEN 0 THEN w.k0 WHEN 1 THEN w.k1
                        WHEN 2 THEN w.k2 ELSE w.k3 END)
                  + (CASE (bk.band + 2) % 4 WHEN 0 THEN w.k0 WHEN 1 THEN w.k1
                         WHEN 2 THEN w.k2 ELSE w.k3 END) * 65536
                  + (CASE (bk.band + 3) % 4 WHEN 0 THEN w.k0 WHEN 1 THEN w.k1
                         WHEN 2 THEN w.k2 ELSE w.k3 END) * 4294967296)
                 // (1::BIGINT << (12 * j.j)) % 4096
               ELSE 0 END AS sub
        FROM bandkeys bk
        JOIN bcount c ON c.band = bk.band AND c.key = bk.key
        JOIN wide w ON w.doc_id = bk.doc_id
        CROSS JOIN (SELECT unnest(range(0, {SH_SUB_BANDS})) AS j) j
        WHERE c.n > {MAX_BUCKET_DOCS} OR j.j = 0
    ), ok_buckets AS (
        SELECT band, key, sb, sub FROM entries
        GROUP BY band, key, sb, sub
        HAVING count(*) BETWEEN 2 AND {MAX_BUCKET_DOCS}
    ), cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM entries a
        JOIN ok_buckets o ON o.band = a.band AND o.key = a.key
                         AND o.sb = a.sb AND o.sub = a.sub
        JOIN entries b ON b.band = a.band AND b.key = a.key
                      AND b.sb = a.sb AND b.sub = a.sub
                      AND b.doc_id > a.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           (bit_count(xor(x.k0, y.k0)) + bit_count(xor(x.k1, y.k1))
            + bit_count(xor(x.k2, y.k2))
            + bit_count(xor(x.k3, y.k3)))::BIGINT AS hamming
    FROM cand c
    JOIN wide x ON x.doc_id = c.doc_a
    JOIN wide y ON y.doc_id = c.doc_b
    WHERE bit_count(xor(x.k0, y.k0)) + bit_count(xor(x.k1, y.k1))
          + bit_count(xor(x.k2, y.k2)) + bit_count(xor(x.k3, y.k3))
          <= {SH_HAM_MAX}
"""


# --- Asymmetric shingle containment (round 4) ---------------------------------------
CONT_COPY_MOD = 30
CONT_COPY_OFFSET = 20_000_000
CONT_COPY_WORDS = 40
CONT_MIN_PERMILLE = 500


def q_containment_pairs(
    spark: SparkSession, sf_dir: str, observation=None
) -> DataFrame:
    """Asymmetric set CONTAINMENT over shingle-bucket candidates — the
    quote / sub-document duplication signal Jaccard misses: a short doc
    fully embedded in a long one has tiny Jaccard but containment ~1.0 on
    the short side (|A∩B| / |A|). Candidates come from the same certified
    capped shingle buckets as ngram_jaccard_pairs (one pass carries each
    doc's shingle-set size alongside every shingle row — no self-join);
    pairs keep both directions in exact integer permille and survive when
    either side's containment reaches CONT_MIN_PERMILLE. Sub-document
    duplication is PLANTED (every {CONT_COPY_MOD}th doc re-enters
    truncated to its first {CONT_COPY_WORDS} words at doc_id +
    {CONT_COPY_OFFSET}) so recovery is observable.

    Output: doc_a, doc_b, n_shared, cont_a_permille, cont_b_permille."""
    from . import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(_containment_planted(docs))
    return _containment_select(
        _shared_counts(_shingle_frame(corpus), observation)
    )


def _containment_planted(docs: DataFrame) -> DataFrame:
    """The planted truncated-copy extension (every CONT_COPY_MOD-th doc's
    first CONT_COPY_WORDS words at doc_id + CONT_COPY_OFFSET)."""
    return docs.where(F.col("doc_id") % CONT_COPY_MOD == 0).select(
        (F.col("doc_id") + CONT_COPY_OFFSET).alias("doc_id"),
        F.array_join(
            F.slice(
                F.filter(F.split("text", r"\s+"), lambda x: x != ""),
                1,
                CONT_COPY_WORDS,
            ),
            " ",
        ).alias("text"),
    )


def _cont_permille(shared: str, size: str):
    """THE containment permille expression — shared * 1000 div |side| —
    used by the standalone query, the suite parts, and the fused suite
    summary so the three stay value-identical by construction."""
    return F.expr(f"{shared} * 1000 div nullif({size}, 0)")


def _containment_select(shared: DataFrame) -> DataFrame:
    out = shared.select(
        "doc_a",
        "doc_b",
        F.col("shared").alias("n_shared"),
        _cont_permille("shared", "na").alias("cont_a_permille"),
        _cont_permille("shared", "nb").alias("cont_b_permille"),
    )
    return out.where(
        F.greatest("cont_a_permille", "cont_b_permille")
        >= CONT_MIN_PERMILLE
    )


QUERIES["containment_pairs"] = q_containment_pairs

ORACLES["containment_pairs"] = f"""
    WITH corpus AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {CONT_COPY_OFFSET},
               array_to_string(list_slice(
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> ''), 1, {CONT_COPY_WORDS}), ' ')
        FROM documents WHERE doc_id % {CONT_COPY_MOD} = 0
    ), words AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS ws
        FROM corpus
    ), shl AS (
        SELECT doc_id,
               CASE WHEN len(ws) = 0 THEN []
                    WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                         i -> array_to_string(list_slice(ws, i, i + 2), ' ')))
               END AS shingles
        FROM words
    ), ex AS MATERIALIZED (
        SELECT doc_id, len(shingles)::BIGINT AS n_sh, unnest(shingles) AS sh
        FROM shl
    ), ok_sh AS (
        SELECT sh FROM ex GROUP BY sh
        HAVING count(*) BETWEEN 2 AND {MAX_BUCKET_DOCS}
    ), cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_sh AS na, b.n_sh AS nb,
               count(*)::BIGINT AS n_shared
        FROM ex a
        JOIN ok_sh o ON o.sh = a.sh
        JOIN ex b ON b.sh = a.sh AND b.doc_id > a.doc_id
        GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b, n_shared,
           (n_shared * 1000 // nullif(na, 0))::BIGINT AS cont_a_permille,
           (n_shared * 1000 // nullif(nb, 0))::BIGINT AS cont_b_permille
    FROM cand
    WHERE greatest(n_shared * 1000 // nullif(na, 0),
                   n_shared * 1000 // nullif(nb, 0)) >= {CONT_MIN_PERMILLE}
"""


# --- Composed shingle pair suite (round 5) -------------------------------------------
def shingle_pair_suite_parts(
    docs: DataFrame, observation=None
) -> dict[str, DataFrame]:
    """The three shingle-bucket pair operators derived from ONE
    materialized shingle frame — the production layout for the pair
    family. ``dedup_ngram_jaccard``, ``containment_pairs`` and
    ``dedup_pair_audit`` each rebuild the identical (doc_id, n_sh, sh)
    explode + capped buckets from the raw corpus when run standalone
    (correct for per-query oracle replay, ~3-4 s each in the round-4
    bench); composed, the shingle frame is localCheckpointed once and
    feeds (a) the Jaccard pairs, (b) the MinHash signatures -> LSH
    banding -> the honest-metrics audit against the Jaccard truth, and
    (c) the containment pairs, whose planted truncated-copy extension is
    the only extra shingle work (CONT_COPY_MOD-th docs, 40 words each).

    All three cuts flow through ONE tagged bucket union, so a single
    ``Observation`` accounts for every cap drop in the composed path
    (the "never silent" contract — drops are the SUM across the Jaccard,
    LSH-band, and containment cuts); one (cut, pair)-keyed count shuffle
    replaces the three per-cut shuffles and only that small flat frame is
    materialized for reuse (an eager localCheckpoint, which also delivers
    the Observation; nothing is left in the cache).

    Returns {"jaccard": ..., "jaccard_scored": ..., "pred": ...,
    "containment": ...} ("jaccard_scored" keeps the integer shared count
    alongside the score for checksumming); "jaccard"/"pred"/"containment"
    are pinned row-identical to their standalone queries by
    tests/test_round5_ops.py."""
    pair_counts = _suite_pair_counts(docs, observation).localCheckpoint(
        eager=True
    )
    real = F.col("doc_a").isNotNull()
    scored = (
        pair_counts.where((F.col("cut") == "jac") & real)
        .drop("cut")
        .withColumn("jaccard", _jaccard_expr("shared", "na", "nb"))
        .where(F.col("jaccard") >= 0.2)
    )
    jac = scored.select("doc_a", "doc_b", "jaccard")
    # the (cut, pair) groupBy already collapsed same-pair multi-band hits,
    # so the lsh slice is distinct by construction
    pred = pair_counts.where((F.col("cut") == "lsh") & real).select(
        "doc_a", "doc_b"
    )
    cont = _containment_select(
        pair_counts.where((F.col("cut") == "cont") & real).drop("cut")
    )
    return {
        "jaccard": jac,
        "jaccard_scored": scored,
        "pred": pred,
        "containment": cont,
    }


def _suite_tagged_buckets(docs: DataFrame) -> DataFrame:
    """The suite's tagged pre-cap bucket union (cut, ids): Jaccard shingle
    buckets, LSH band buckets, and containment shingle buckets (planted
    extension included), all in the shingle buckets' struct shape."""
    sh_base = _shingle_frame(docs).localCheckpoint(eager=True)
    # normalize the LSH member arrays (plain doc ids, already sorted) to
    # the shingle buckets' struct shape — transform preserves order, and
    # sorting (doc_id, n_sh=0) structs == sorting doc ids
    as_structs = F.transform(
        F.col("ids"),
        lambda d: F.struct(
            d.alias("doc_id"), F.lit(0).cast("int").alias("n_sh")
        ),
    )
    return (
        _shingle_buckets(sh_base)
        .select(F.lit("jac").alias("cut"), "ids")
        .unionByName(
            _lsh_band_buckets(_minhash_from_shingles(sh_base)).select(
                F.lit("lsh").alias("cut"), as_structs.alias("ids")
            )
        )
        .unionByName(
            _shingle_buckets(
                sh_base.unionByName(
                    _shingle_frame(_containment_planted(docs))
                )
            ).select(F.lit("cont").alias("cut"), "ids")
        )
    )




def q_shingle_pair_suite(
    spark: SparkSession, sf_dir: str, observation=None
) -> DataFrame:
    """One-row integer summary of the composed pair family (see
    shingle_pair_suite_parts): Jaccard pair counts/checksums, the
    LSH-vs-truth audit counts (the dedup_pair_audit contract), and the
    containment counts/checksums. All columns are exact BIGINTs so the
    oracle replays the entire composition value-for-value.

    The registered form is ONE fused linear plan — tagged bucket union ->
    cap -> in-bucket pair gen -> (cut, pair) count -> per-pair pivot ->
    single conditional-aggregate row — with over-cap buckets carried as
    marker rows so the ``Observation`` attaches to the one consumed frame
    and metrics ride the query's own action (no extra materialization
    pass, no joins; the truth-vs-pred audit intersection is a per-pair
    conditional instead of a join because the pivot already co-locates
    each pair's cuts).

    Output: n_jaccard_pairs, sum_jac_ids, sum_jac_shared, n_true, n_pred,
    n_hits, n_cont_pairs, sum_cont_ids, sum_cont_permille."""
    from . import load

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return shingle_pair_suite_summary(docs, observation)


def _suite_pair_counts(docs: DataFrame, observation=None) -> DataFrame:
    """One-pass (cut, doc_a, doc_b, na, nb, shared) pair counts over the
    suite's tagged bucket union. Each cap-kept (2..MAX_BUCKET_DOCS)
    bucket explodes to its in-bucket pairs; each over-cap bucket explodes
    to ONE null-id marker row instead, so (a) the ``Observation`` —
    attached to the exploded stream, the same single pass that generates
    the pairs — reports the summed drops of all three cuts with whatever
    action consumes the frame (nothing computed twice), and (b) dropped
    buckets keep the stream non-empty: AQE's empty-relation propagation
    prunes an observed subtree whose empty filter result feeds a further
    shuffle, and the metrics are then never delivered (obs.get raises) —
    found the hard way; markers flowing THROUGH the aggregations close
    that hole. One more marker, with no cut and n = 0, is added
    unconditionally, so a corpus with no bucket of size 2 or more (no
    shared shingle, no band collision, nothing over the cap) still
    delivers its all-zero drop metrics. Size-1 buckets pair with nothing
    and are not drops (identical to _capped_buckets' 2..cap keep + >cap
    count). Marker rows survive the count as (cut, NULL ids) rows;
    consumers exclude them with doc_a IS NOT NULL (or null-safe
    conditionals)."""
    b = _suite_tagged_buckets(docs).select(
        "cut", "ids", F.size("ids").alias("n")
    )
    null_member = F.struct(
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("int").alias("n_sh"),
    )
    marker = F.array(
        F.struct(null_member.alias("a"), null_member.alias("b"))
    )
    rows = b.where(F.col("n") >= 2).select(
        "cut",
        "n",
        F.explode(
            F.when(F.col("n") <= MAX_BUCKET_DOCS, _bucket_pairs(F.col("ids")))
            .otherwise(marker)
        ).alias("p"),
    )
    # one unconditional marker (no cut, n = 0): the stream is non-empty
    # even when no bucket reaches size 2 or overflows the cap
    sentinel = docs.sparkSession.range(1).select(
        F.lit(None).cast("string").alias("cut"),
        F.lit(0).alias("n"),
        marker[0].alias("p"),
    )
    rows = rows.unionByName(sentinel)
    if observation is not None:
        dropped = F.col("n") > MAX_BUCKET_DOCS
        rows = rows.observe(
            observation,
            F.sum(dropped.cast("long")).alias("n_buckets_dropped"),
            F.sum(F.when(dropped, F.col("n")).otherwise(0)).alias(
                "n_ids_dropped"
            ),
        )
    return rows.groupBy(
        "cut",
        F.col("p.a.doc_id").alias("doc_a"),
        F.col("p.b.doc_id").alias("doc_b"),
        F.col("p.a.n_sh").alias("na"),
        F.col("p.b.n_sh").alias("nb"),
    ).agg(F.count(F.lit(1)).alias("shared"))


def shingle_pair_suite_summary(
    docs: DataFrame, observation=None
) -> DataFrame:
    """The fused one-pass suite summary over an arbitrary (doc_id, text)
    frame — see q_shingle_pair_suite for the plan shape and contract.
    Marker rows ride to the very end as a single null-id pivot group that
    every output conditional excludes (null-safe thresholds; n_pred
    guarded explicitly), so no stage between the Observation and the
    final one-row aggregate can go empty."""
    is_cut = lambda c: F.col("cut") == c  # noqa: E731
    per_pair = (
        _suite_pair_counts(docs, observation)
        .groupBy("doc_a", "doc_b")
        .agg(
            F.max(F.when(is_cut("jac"), F.col("shared"))).alias("jshared"),
            F.max(F.when(is_cut("jac"), F.col("na"))).alias("jna"),
            F.max(F.when(is_cut("jac"), F.col("nb"))).alias("jnb"),
            F.max(F.when(is_cut("lsh"), 1).otherwise(0)).alias("is_pred"),
            F.max(F.when(is_cut("cont"), F.col("shared"))).alias("cshared"),
            F.max(F.when(is_cut("cont"), F.col("na"))).alias("cna"),
            F.max(F.when(is_cut("cont"), F.col("nb"))).alias("cnb"),
        )
    )
    j = _jaccard_expr("jshared", "jna", "jnb")
    ca = _cont_permille("cshared", "cna")
    cb = _cont_permille("cshared", "cnb")
    scored = per_pair.select(
        "doc_a",
        "doc_b",
        "jshared",
        "is_pred",
        j.alias("j"),
        ca.alias("ca"),
        cb.alias("cb"),
    )
    jac_keep = F.col("j") >= 0.2
    is_true = F.col("j") >= AUDIT_JACCARD_T
    cont_keep = F.greatest("ca", "cb") >= CONT_MIN_PERMILLE
    ids = F.col("doc_a") + F.col("doc_b")

    def csum(expr, name):
        return F.coalesce(F.sum(expr), F.lit(0)).cast("long").alias(name)

    return scored.agg(
        csum(F.when(jac_keep, 1).otherwise(0), "n_jaccard_pairs"),
        csum(F.when(jac_keep, ids).otherwise(0), "sum_jac_ids"),
        csum(F.when(jac_keep, F.col("jshared")).otherwise(0),
             "sum_jac_shared"),
        csum(F.when(is_true, 1).otherwise(0), "n_true"),
        # the marker pivot group (null ids) can carry is_pred=1 when an
        # LSH bucket was dropped — every other conditional is null-safe
        # (null thresholds are false), this one needs the explicit guard
        csum(
            F.when(F.col("doc_a").isNotNull(), F.col("is_pred"))
            .otherwise(0),
            "n_pred",
        ),
        csum(F.when(is_true & (F.col("is_pred") == 1), 1).otherwise(0),
             "n_hits"),
        csum(F.when(cont_keep, 1).otherwise(0), "n_cont_pairs"),
        csum(F.when(cont_keep, ids).otherwise(0), "sum_cont_ids"),
        csum(F.when(cont_keep, F.col("ca") + F.col("cb")).otherwise(0),
             "sum_cont_permille"),
    )


QUERIES["shingle_pair_suite"] = q_shingle_pair_suite

ORACLES["shingle_pair_suite"] = _DUCK_MINHASH + f"""
    , sizes AS (
        SELECT doc_id, count(*) AS n_sh FROM ex GROUP BY doc_id
    ), kept AS (
        SELECT sh FROM ex GROUP BY sh
        HAVING count(*) BETWEEN 2 AND {MAX_BUCKET_DOCS}
    ), shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
        FROM ex a
        JOIN kept k ON a.sh = k.sh
        JOIN ex b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ), jac AS MATERIALIZED (
        SELECT doc_a, doc_b, shared,
               round(shared::DOUBLE / (sa.n_sh + sb.n_sh - shared), 4)
                   AS jaccard
        FROM shared
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE round(shared::DOUBLE / (sa.n_sh + sb.n_sh - shared), 4) >= 0.2
    ), bands AS (
        SELECT doc_id, b.band, b.h FROM sigs,
        LATERAL (SELECT unnest([
            {{'band': 0, 'h': mh0}}, {{'band': 1, 'h': mh1}},
            {{'band': 2, 'h': mh2}}, {{'band': 3, 'h': mh3}},
            {{'band': 4, 'h': mh4}}, {{'band': 5, 'h': mh5}},
            {{'band': 6, 'h': mh6}}, {{'band': 7, 'h': mh7}}
        ], recursive := true)) b(band, h)
    ), keptb AS (
        SELECT band, h FROM bands GROUP BY band, h
        HAVING count(*) BETWEEN 2 AND {MAX_BUCKET_DOCS}
    ), pred AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN keptb k ON a.band = k.band AND a.h = k.h
        JOIN bands b ON a.band = b.band AND a.h = b.h
        WHERE a.doc_id < b.doc_id
    ), truth AS (
        SELECT doc_a, doc_b FROM jac WHERE jaccard >= {AUDIT_JACCARD_T}
    ), ccorpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {CONT_COPY_OFFSET},
               array_to_string(list_slice(
                   list_filter(regexp_split_to_array(text, '\\s+'),
                               x -> x <> ''), 1, {CONT_COPY_WORDS}), ' ')
        FROM documents WHERE doc_id % {CONT_COPY_MOD} = 0
    ), cwords AS (
        SELECT doc_id,
               list_filter(regexp_split_to_array(text, '\\s+'),
                           x -> x <> '') AS ws
        FROM ccorpus
    ), cshl AS (
        SELECT doc_id,
               CASE WHEN len(ws) = 0 THEN []
                    WHEN len(ws) < 3 THEN [array_to_string(ws, ' ')]
                    ELSE list_distinct(list_transform(range(1, len(ws) - 1),
                         i -> array_to_string(list_slice(ws, i, i + 2), ' ')))
               END AS shingles
        FROM cwords
    ), cex AS MATERIALIZED (
        SELECT doc_id, len(shingles)::BIGINT AS n_sh, unnest(shingles) AS sh
        FROM cshl
    ), cok AS (
        SELECT sh FROM cex GROUP BY sh
        HAVING count(*) BETWEEN 2 AND {MAX_BUCKET_DOCS}
    ), ccand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n_sh AS na, b.n_sh AS nb,
               count(*)::BIGINT AS n_shared
        FROM cex a
        JOIN cok o ON o.sh = a.sh
        JOIN cex b ON b.sh = a.sh AND b.doc_id > a.doc_id
        GROUP BY 1, 2, 3, 4
    ), cont AS MATERIALIZED (
        SELECT doc_a, doc_b, n_shared,
               (n_shared * 1000 // nullif(na, 0))::BIGINT AS pa,
               (n_shared * 1000 // nullif(nb, 0))::BIGINT AS pb
        FROM ccand
        WHERE greatest(n_shared * 1000 // nullif(na, 0),
                       n_shared * 1000 // nullif(nb, 0))
              >= {CONT_MIN_PERMILLE}
    )
    SELECT
        (SELECT count(*) FROM jac)::BIGINT AS n_jaccard_pairs,
        (SELECT coalesce(sum(doc_a + doc_b), 0) FROM jac)::BIGINT
            AS sum_jac_ids,
        (SELECT coalesce(sum(shared), 0) FROM jac)::BIGINT AS sum_jac_shared,
        (SELECT count(*) FROM truth)::BIGINT AS n_true,
        (SELECT count(*) FROM pred)::BIGINT AS n_pred,
        (SELECT count(*) FROM truth t
         JOIN pred p ON p.doc_a = t.doc_a AND p.doc_b = t.doc_b)::BIGINT
            AS n_hits,
        (SELECT count(*) FROM cont)::BIGINT AS n_cont_pairs,
        (SELECT coalesce(sum(doc_a + doc_b), 0) FROM cont)::BIGINT
            AS sum_cont_ids,
        (SELECT coalesce(sum(pa + pb), 0) FROM cont)::BIGINT
            AS sum_cont_permille
"""
