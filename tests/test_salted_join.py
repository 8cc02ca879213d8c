"""Skew-salted join: result-equality with the plain join, hot-key spread."""
import pyspark.sql.functions as F

from pdf_extractor_spark.operators.joins import salted_join


def test_equals_plain_join_under_hot_key(spark):
    # 90% of the big side hits one key
    big = spark.createDataFrame(
        [(i, 7 if i % 10 else i) for i in range(1000)],
        "row_id long, k long",
    )
    small = spark.createDataFrame(
        [(k, f"v{k}") for k in range(1000)], "k long, v string"
    )
    got = {
        (r["row_id"], r["v"])
        for r in salted_join(big, small, "k", row_key="row_id").collect()
    }
    want = {
        (r["row_id"], r["v"]) for r in big.join(small, "k").collect()
    }
    assert got == want and len(got) == 1000


def test_salt_spreads_hot_key(spark):
    import inspect

    from pdf_extractor_spark.operators.joins import SKEW_SALT

    # SKEW_SALT is the width salted_join actually uses
    salt_param = inspect.signature(salted_join).parameters["salt"]
    assert salt_param.default == SKEW_SALT

    big = spark.createDataFrame(
        [(i, 7) for i in range(400)], "row_id long, k long"
    )
    salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64("row_id"), F.lit(SKEW_SALT)).cast("int")
    )
    n = salted.select("_salt").distinct().count()
    assert n == SKEW_SALT  # the hot key's rows occupy every salt shard


def test_row_key_equal_to_key_is_rejected(spark):
    """Salting by the join key itself hashes every row of a hot key to ONE
    salt partition — the no-op the operator must refuse."""
    import pytest

    df = spark.createDataFrame([(1, 1)], "k long, row_id long")
    with pytest.raises(ValueError, match="row_key"):
        salted_join(df, df.select("k").distinct(), "k", row_key="k")


def test_salt_spreads_a_hot_key(spark):
    """The point of the operator: a hot key's rows land on multiple salt
    values (with row_key varying), not one."""
    from pyspark.sql import functions as F

    big = spark.range(0, 200).select(
        F.lit(7).alias("k"), F.col("id").alias("row_id")
    )
    salted = big.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("row_id")), F.lit(8)).cast("int")
    )
    assert salted.select("_salt").distinct().count() > 1
