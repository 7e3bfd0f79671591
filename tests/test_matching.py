from mistocksync_spark.operators import matching


def _sup(spark, rows):
    return spark.createDataFrame(
        rows, "row_id long, article_vitya long, price_usd double, name string"
    )


def _base(spark, rows):
    return spark.createDataFrame(
        rows, "row_id long, article_vitya long, price_vitya_usd double, name string"
    )


def _match(spark, sup_rows, base_rows):
    return matching.exact_article_match(
        _sup(spark, sup_rows),
        _base(spark, base_rows),
        supplier_article="article_vitya",
        supplier_price="price_usd",
        base_article="article_vitya",
        base_price="price_vitya_usd",
    )


def test_exact_match_basic(spark):
    r = _match(
        spark,
        [(0, 1, 110.0, "a"), (1, 2, 50.0, "b"), (2, 3, 10.0, "c")],
        [(0, 1, 100.0, "A"), (1, 2, 50.0, "B")],
    )
    matches = {m.article: m for m in r["matches"].collect()}
    assert set(matches) == {"1", "2"}
    assert matches["1"].price_diff == 10.0
    assert abs(matches["1"].price_change_percent - 10.0) < 1e-9
    assert matches["2"].price_change_percent == 0.0
    changes = [m.article for m in r["price_changes"].collect()]
    assert changes == ["1"]  # only |pct| > 5
    new = [m.article for m in r["new_items"].collect()]
    assert new == ["3"]


def test_exact_match_zero_base_price(spark):
    # base price ≤ 0 → base_price coerced to 0.0, pct stays 0 (ref main.py:2198)
    r = _match(spark, [(0, 1, 42.0, "a")], [(0, 1, 0.0, "A")])
    m = r["matches"].collect()[0]
    assert m.base_price == 0.0
    assert m.price_change_percent == 0.0
    assert m.price_diff == 42.0


def test_exact_match_last_write_wins(spark):
    # duplicate supplier keys: the later row overwrites (dict semantics)
    r = _match(
        spark,
        [(0, 1, 10.0, "first"), (1, 1, 20.0, "second")],
        [(0, 1, 10.0, "A")],
    )
    m = r["matches"].collect()
    assert len(m) == 1
    assert m[0].supplier_price == 20.0
    assert m[0].name == "second"


def test_exact_match_null_name_falls_back_to_base(spark):
    r = _match(spark, [(0, 1, 10.0, None)], [(0, 1, 10.0, "BaseName")])
    assert r["matches"].collect()[0].name == "BaseName"


def test_price_update_join(spark):
    base = _base(spark, [(0, 1, 100.0, "A"), (1, 2, 50.0, "B"), (2, 3, 0.0, "C")])
    sup = _sup(spark, [(0, 1, 100.0005, "a"), (1, 2, 60.0, "b"), (2, 3, 5.0, "c")])
    out = {
        r.article: r
        for r in matching.price_update_join(
            base,
            sup,
            base_article="article_vitya",
            base_price="price_vitya_usd",
            supplier_article="article_vitya",
            supplier_price="price_usd",
        ).collect()
    }
    # |Δ| < 0.001 skipped
    assert set(out) == {"2", "3"}
    assert abs(out["2"].change_percent - 20.0) < 1e-9
    # old price 0 → 100% (update-path semantics, ref main.py:4274-4277)
    assert out["3"].change_percent == 100.0


def test_comparison_summary_on_empty_inputs(spark):
    r = _match(spark, [], [])
    out = matching.comparison_summary(r["matches"], r["new_items"]).collect()
    assert [tuple(row) for row in out] == [(0, 0, 0, 0.0)]
