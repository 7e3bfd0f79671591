"""Pin the expression-construction memo (r17): same input expression →
the SAME Column object back (construction paid once); different inputs or
a call through ``__wrapped__`` → fresh construction; and the memoized
extractors still compute identical results to their undecorated bodies."""

from pyspark.sql import functions as F


def test_memo_returns_same_object_for_equal_input(spark):
    from mistocksync_spark.functions.codes import product_code_unified

    a = product_code_unified(F.col("name"))
    b = product_code_unified(F.col("name"))
    assert a is b
    c = product_code_unified(F.col("other"))
    assert c is not a


def test_memo_disabled_bypasses(spark):
    from mistocksync_spark.functions.codes import battery_capacity

    a = battery_capacity.__wrapped__(F.col("name"))
    b = battery_capacity.__wrapped__(F.col("name"))
    assert a is not b


def test_memoized_returns_same_tuple_for_equal_args(spark):
    from mistocksync_spark.operators.dedup import _simhash_exprs

    a = _simhash_exprs(60)
    b = _simhash_exprs(60)
    assert a is b
    c = _simhash_exprs(16)
    assert c is not a


def test_simhash_memoized_vs_bypassed_identical(spark, monkeypatch):
    from mistocksync_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "other words here"), (4, None)],
        "doc_id long, text string",
    ).filter("text is not null")
    memod = sorted(dedup.simhash(df).collect())
    monkeypatch.setattr(dedup, "_simhash_exprs", dedup._simhash_exprs.__wrapped__)
    plain = sorted(dedup.simhash(df).collect())
    assert memod == plain


def test_memoized_and_bypassed_trees_compute_identically(spark):
    from mistocksync_spark.functions.codes import product_code_unified

    rows = [
        ("Power Bank XIAOMI 20000mah (MJWXB-12)",),
        ("Кабель С20 зарядный",),
        ("AC-M25-SC adapter 30W",),
        (None,),
        ("plain name no code",),
    ]
    df = spark.createDataFrame(rows, "name string")
    memod = df.select(product_code_unified(F.col("name")).alias("c")).collect()
    plain = df.select(product_code_unified.__wrapped__(F.col("name")).alias("c")).collect()
    assert memod == plain
