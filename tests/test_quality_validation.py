"""Unit tests for the quality scorer (A2) and validation rule engine
(X3/A9/A11) over hand-built unified rows."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omfietser_etl_spark.operators.quality import (
    completeness_report,
    quality_report,
    with_quality,
)
from omfietser_etl_spark.operators.validation import (
    issue_severity_escalation,
    issues,
    validation_summary,
)

COLS = [
    "unified_id", "shop_type", "title", "main_category", "brand",
    "image_url", "quantity_amount", "conversion_factor", "unit_price",
    "price_before_bonus", "current_price", "is_promotion",
    "promotion_mechanism", "promotion_type",
    "promotion_start_date", "promotion_end_date", "is_active",
]


def _row(**over):
    base = {
        "unified_id": "x1", "shop_type": "AH", "title": "T",
        "main_category": "Aardappel, groente, fruit", "brand": "B",
        "image_url": "http://img", "quantity_amount": 1.0,
        "conversion_factor": 1.0, "unit_price": None,
        "price_before_bonus": 2.0, "current_price": 2.0,
        "is_promotion": False, "promotion_mechanism": "none",
        "promotion_type": "none", "promotion_start_date": None,
        "promotion_end_date": None, "is_active": True,
    }
    base.update(over)
    return tuple(base[c] for c in COLS)


def _df(spark, *rows):
    schema = (
        "unified_id string, shop_type string, title string, main_category string,"
        "brand string, image_url string, quantity_amount double,"
        "conversion_factor double, unit_price double, price_before_bonus double,"
        "current_price double, is_promotion boolean, promotion_mechanism string,"
        "promotion_type string, promotion_start_date string,"
        "promotion_end_date string, is_active boolean"
    )
    return spark.createDataFrame(list(rows), schema)


def test_quality_score_additive_and_capped(spark):
    full = _row(is_promotion=True)          # all factors → 50+50 = capped 100
    bare = _row(image_url="", main_category=None, brand="",
                quantity_amount=0.0, conversion_factor=0.0, is_active=False)
    df = _df(spark, full, bare)
    scores = sorted(r.quality_score for r in with_quality(df).collect())
    assert scores == [50, 100]
    rep = quality_report(df).first()
    assert rep.n_products == 2 and rep.avg_score_x100 == 7500
    assert getattr(rep, "n_90-100") == 1 and getattr(rep, "n_50-59") == 1


def test_completeness_report(spark):
    df = _df(
        spark,
        _row(), _row(brand=""),
        _row(shop_type="JUMBO", brand=None, image_url=""),
    )
    r = {row.shop_type: row for row in completeness_report(df).collect()}
    assert set(r) == {"AH", "JUMBO"}
    assert r["AH"].title_bp == 10000 and r["AH"].brand_bp == 5000
    assert r["AH"].image_url_bp == 10000
    assert r["JUMBO"].title_bp == 10000 and r["JUMBO"].brand_bp == 0
    assert r["JUMBO"].image_url_bp == 0


def test_validation_rules_fire_individually(spark):
    df = _df(
        spark,
        _row(),                                             # clean
        _row(unified_id="", title=""),                      # 2 required fails
        _row(current_price=0.0),                            # valid_price
        _row(current_price=3.0),                            # price_consistency (3 > 2, no promo)
        _row(is_promotion=True, promotion_mechanism="none"),  # promotion_consistency
        _row(promotion_start_date="2025-02-01",
             promotion_end_date="2025-01-01"),              # promotion_dates
        _row(main_category="Niet Echt"),                    # valid_category
        _row(unit_price=5.0),                               # unit_price 5 vs 2/1 → off
    )
    got = {(r.rule): r.n_violations for r in validation_summary(df).collect()}
    assert got == {
        "required_id": 1, "required_title": 1, "required_shop_type": 0,
        "valid_price": 1, "price_consistency": 1, "promotion_consistency": 1,
        "promotion_dates": 1, "valid_quantity": 0, "valid_category": 1,
        "unit_price_consistency": 1,
    }
    iss = issues(df)
    assert iss.filter(F.col("severity") == "error").count() == 3


def test_unit_price_tolerance(spark):
    # unit_price within ±10% of price/conversion passes
    ok = _row(unit_price=2.1, price_before_bonus=2.0, conversion_factor=1.0)
    bad = _row(unit_price=2.3, price_before_bonus=2.0, conversion_factor=1.0)
    got = {r.rule: r.n_violations for r in validation_summary(_df(spark, ok, bad)).collect()}
    assert got["unit_price_consistency"] == 1


def test_issue_severity_escalation(spark):
    rows = [_row(unified_id=f"x{i}", current_price=0.0) for i in range(6)]
    esc = issue_severity_escalation(issues(_df(spark, *rows))).collect()
    got = {r.rule: r.escalated_severity for r in esc}
    assert got["valid_price"] == "medium"


def test_unified_memo_evicts_same_session_sf_rollover(spark):
    """A long-lived session sweeping scale factors must hold at most
    ONE memoized unified frame: the q2/x3 memo evicts same-session
    entries for a different sf, not just other-session entries."""
    from omfietser_etl_spark.catalog.qualityspec import _UNIFIED_MEMO, _jumbo_unified

    from .conftest import SF_SMOKE

    _jumbo_unified(spark, SF_SMOKE)
    # same data through a distinct sf-dir key = an sf rollover
    rolled = SF_SMOKE.rstrip("/") + "/"
    _jumbo_unified(spark, rolled)
    assert list(_UNIFIED_MEMO) == [(id(spark), rolled)]
    # and the memo hit path still works after the rollover
    _jumbo_unified(spark, rolled)
    assert len(_UNIFIED_MEMO) == 1
