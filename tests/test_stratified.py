"""Exact-K stratified sampling: identical to the single-window form, exact
counts, stable membership."""
import re

import pyspark.sql.functions as F
from pyspark.sql import Window

from pdf_extractor_spark.operators.text_ops import (
    STRAT_K,
    stratified_sample,
)


def _docs(spark, per_source):
    rows, i = [], 0
    for src, n in per_source.items():
        for _ in range(n):
            rows.append((i, src))
            i += 1
    return spark.createDataFrame(rows, "doc_id long, source string")


def test_matches_single_window_form(spark):
    docs = _docs(spark, {"a": 200, "b": 35, "c": 5})
    got = {(r["source"], r["doc_id"], r["rk"])
           for r in stratified_sample(docs).collect()}
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    want = {(r["source"], r["doc_id"], r["rk"]) for r in docs.withColumn(
        "rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= STRAT_K).collect()}
    assert got == want


def test_exact_counts_and_small_sources(spark):
    docs = _docs(spark, {"big": 500, "tiny": 3})
    counts = {r["source"]: r["n"] for r in stratified_sample(docs)
              .groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": STRAT_K, "tiny": 3}


def test_membership_stable(spark):
    docs = _docs(spark, {"a": 100})
    a = sorted(r["doc_id"] for r in stratified_sample(docs).collect())
    b = sorted(r["doc_id"] for r in stratified_sample(docs).collect())
    assert a == b


def test_plans_partial_limit_before_shuffle(spark):
    """The rank is one window that Spark limits on the map side: a partial
    WindowGroupLimit under the Exchange and no hash salt. Explain only —
    no job runs."""
    df = stratified_sample(_docs(spark, {"a": 200, "b": 35}))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple")
    assert len(re.findall(r"\bWindow\b", plan)) == 1
    assert "pmod" not in plan
    partial = re.search(r"WindowGroupLimit .*, Partial", plan)
    assert partial and plan.index("Exchange") < partial.start(), plan
