"""Property-based test of the category cascade: the distributed
implementation (per-batch pandas-UDF resolve + broadcast join +
when-chain, operators/category.py::normalize_categories) must agree
row-for-row with the scalar Python cascade (normalize_category) that
states the reference semantics directly (normalizer.ts:384-552)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from omfietser_etl_spark.config.categories import (
    CATEGORY_ALIAS_PATTERNS,
    FINAL_CATEGORIES,
)
from omfietser_etl_spark.operators.category import (
    normalize_categories,
    normalize_category,
)

_finals = st.sampled_from(FINAL_CATEGORIES)
_aliases = st.sampled_from([p for p, _ in CATEGORY_ALIAS_PATTERNS[:40]])
_cats = st.one_of(
    _finals,
    _finals.map(str.upper),
    _finals.map(lambda c: f"  {c} , en de het "),  # stopword + punct noise
    _aliases,
    _aliases.map(lambda a: f"xx {a} yy"),  # containment direction 1
    st.sampled_from(["aldi trots", "ALDI pure", "trots van aldi"]),
    st.text(alphabet="abcdefghijklmnop qrstuvwxyz", max_size=18),
    st.just(""),
    st.none(),
)
_shops = st.sampled_from(["AH", "ALDI", "JUMBO", "PLUS"])
_confs = st.sampled_from([0.0, 0.3, 0.39, 0.4, 0.64, 0.65, 0.66, 0.9])
_rows = st.lists(
    st.tuples(_cats, _shops, st.booleans(), _confs, _finals),
    min_size=1,
    max_size=40,
)


@settings(max_examples=15, deadline=None)
@given(_rows)
def test_distributed_cascade_matches_scalar_model(spark, rows):
    data, preds = [], []
    for i, (cat, shop, has_pred, conf, pred_cat) in enumerate(rows):
        title = f"t{i}"
        data.append((i, title, cat, shop))
        if has_pred:
            preds.append((title, pred_cat, conf))
    df = spark.createDataFrame(
        data,
        T.StructType(
            [
                T.StructField("i", T.IntegerType()),
                T.StructField("title", T.StringType()),
                T.StructField("main_category", T.StringType()),
                T.StructField("shop_type", T.StringType()),
            ]
        ),
    )
    preds_df = (
        spark.createDataFrame(
            preds or [("__none__", FINAL_CATEGORIES[0], 0.0)],
            "title string, category string, confidence double",
        )
    )
    out = {
        r.i: r.main_category
        for r in normalize_categories(df, predictions=preds_df).collect()
    }
    pred_by_title = {t: (c, f) for t, c, f in preds}
    for i, (cat, shop, has_pred, conf, pred_cat) in enumerate(rows):
        want = normalize_category(
            f"t{i}", cat, shop, pred_by_title.get(f"t{i}")
        )
        assert out[i] == want, (
            f"row {i}: cat={cat!r} shop={shop} pred="
            f"{pred_by_title.get(f't{i}')}: spark={out[i]!r} model={want!r}"
        )
