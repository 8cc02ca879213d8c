"""Capped inverted index: df/cnt stats + first-K postings via top_k."""
import pyspark.sql.functions as F

from pdf_extractor_spark.operators.text_analysis import (
    POSTINGS_K,
    _tokens_expr,
    q_inverted_index,
)


def _index(spark, tmp_path, texts):
    p = str(tmp_path / "documents.parquet")
    spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    ).write.mode("overwrite").parquet(p)
    return {
        r["tok"]: (r["df"], r["cnt"], r["postings"])
        for r in q_inverted_index(spark, str(tmp_path)).collect()
    }


def test_stats_and_postings(spark, tmp_path):
    got = _index(
        spark,
        tmp_path,
        {1: "apple banana apple", 2: "banana cherry", 3: "apple"},
    )
    assert got["apple"] == (2, 3, "1,3")
    assert got["banana"] == (2, 2, "1,2")
    assert got["cherry"] == (1, 1, "2")


def test_postings_capped_at_k(spark, tmp_path):
    n = POSTINGS_K + 15
    got = _index(spark, tmp_path, {i: "common word" for i in range(n)})
    df, cnt, postings = got["common"]
    assert (df, cnt) == (n, n)
    # first K doc_ids ascending, regardless of which salt they hashed to
    assert postings == ",".join(str(i) for i in range(POSTINGS_K))
