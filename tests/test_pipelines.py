"""End-to-end shop pipeline tests over synthesized raw fixtures
(FIXTURES.md §1–4; expectations derived from the reference's Jest
fixtures and processor semantics — SURVEY §5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from omfietser_etl_spark.pipelines import ah, aldi, jumbo, plus
from omfietser_etl_spark.schemas import (
    AH_SCHEMA,
    ALDI_SCHEMA,
    JUMBO_SCHEMA,
    PLUS_SCHEMA,
    UNIFIED_COLUMN_NAMES,
)


def _ah_row(**kw):
    base = dict(
        webshopId=1,
        title="AH Appels 1 kg",
        salesUnitSize="1 kg",
        unitPriceDescription="prijs per kg €2.50",
        images=[
            {"url": "small.jpg", "width": 100},
            {"url": "wide.jpg", "width": 800},
            {"url": "mid.jpg", "width": 400},
        ],
        mainCategory="Groente, aardappelen",
        subCategory=None,
        brand="AH",
        shopType="AH",
        priceBeforeBonus=2.5,
        currentPrice=2.5,
        bonusStartDate=None,
        bonusEndDate=None,
        promotionType=None,
        bonusMechanism=None,
        isBonus=False,
        isVirtualBundle=False,
        orderAvailabilityStatus="IN_ASSORTMENT",
        discountLabels=[],
    )
    base.update(kw)
    return base


def test_ah_pipeline(spark):
    rows = [
        _ah_row(),
        _ah_row(webshopId=2, isVirtualBundle=True),                    # skipped
        _ah_row(webshopId=3, orderAvailabilityStatus="OUT"),           # skipped
        _ah_row(webshopId=4, mainCategory="AH Voordeelshop"),          # skipped
        _ah_row(webshopId=5, priceBeforeBonus=None, currentPrice=None),  # skipped
        _ah_row(
            webshopId=6,
            isBonus=True,
            bonusMechanism="2 voor 4.00",
            promotionType="BONUS",
            priceBeforeBonus=2.5,
            discountLabels=[
                {
                    "code": "DISCOUNT_X_FOR_Y",
                    "defaultDescription": None,
                    "count": 2,
                    "price": 4.0,
                    "freeCount": None,
                    "percentage": None,
                    "precisePercentage": None,
                    "amount": None,
                    "unit": None,
                }
            ],
        ),
        _ah_row(
            webshopId=7,
            isBonus=True,
            bonusMechanism="25% korting",
            discountLabels=[
                {
                    "code": "DISCOUNT_PERCENTAGE",
                    "defaultDescription": None,
                    "count": None,
                    "price": None,
                    "freeCount": None,
                    "percentage": 25.0,
                    "precisePercentage": None,
                    "amount": None,
                    "unit": None,
                }
            ],
        ),
    ]
    raw = spark.createDataFrame(rows, AH_SCHEMA)
    unified, errors = ah.pipeline(raw)
    got = {r["unified_id"]: r for r in unified.collect()}

    assert set(got) == {"1", "6", "7"}
    assert list(unified.columns) == UNIFIED_COLUMN_NAMES

    r1 = got["1"]
    assert r1["image_url"] == "wide.jpg"          # argmax by width
    assert r1["quantity_amount"] == 1.0 and r1["quantity_unit"] == "kg"
    assert r1["unit_price"] == 2.5 and r1["unit_price_unit"] == "kg"
    assert r1["is_promotion"] is False
    assert r1["promotion_type"] == "none"          # template default fills ''
    assert r1["conversion_factor"] == 1.0          # 1 kg → 1 kg
    assert r1["price_per_standard_unit"] == 2.5
    assert r1["main_category"] == "Aardappel, groente, fruit"

    r6 = got["6"]
    assert r6["current_price"] == pytest.approx(2.0)   # 4.00 / 2
    assert r6["is_promotion"] is True
    # AH structured bypass: effective = current (calculate-fields.ts:31-48)
    assert r6["parsed_promotion_effective_unit_price"] == pytest.approx(2.0)
    assert r6["discount_absolute"] == pytest.approx(0.5)
    assert r6["discount_percentage"] == pytest.approx(20.0)

    r7 = got["7"]
    assert r7["current_price"] == pytest.approx(1.88, abs=0.005)  # 2.5*0.75
    assert errors.count() == 0


def _jumbo_row(**kw):
    product = dict(
        id="638307PAK",
        title="Jumbo Melk 1L",
        brand=None,
        category="Zuivel",
        subtitle="1 l",
        quantity=None,
        quantityDetails={"maxAmount": 99.0, "minAmount": 1.0, "stepAmount": 1.0, "defaultAmount": 1.0},
        image="img.jpg",
        inAssortment=True,
        availability={"availability": "AVAILABLE", "isAvailable": True},
        prices={"price": 129, "promoPrice": None, "pricePerUnit": {"price": 129, "unit": "l"}},
        promotions=[],
    )
    product.update(kw)
    return {"product": product}


def test_jumbo_pipeline(spark):
    rows = [
        _jumbo_row(),
        _jumbo_row(id="notitle", title=""),            # skipped
        _jumbo_row(id="zeroprice", prices={"price": 0, "promoPrice": None, "pricePerUnit": None}),  # skipped
        _jumbo_row(id="out", inAssortment=False),      # skipped
        _jumbo_row(
            id="promo1",
            prices={"price": 300, "promoPrice": None, "pricePerUnit": None},
            promotions=[{"tags": [{"text": "2 voor 4.00"}], "start": None, "end": None}],
        ),
        _jumbo_row(
            id="promoPrice1",
            prices={"price": 200, "promoPrice": 150, "pricePerUnit": None},
            promotions=[{"tags": [{"text": "onbekend"}], "start": None, "end": None}],
        ),
    ]
    raw = spark.createDataFrame(rows, JUMBO_SCHEMA)
    unified, errors = jumbo.pipeline(raw)
    got = {r["unified_id"]: r for r in unified.collect()}
    assert set(got) == {"638307PAK", "promo1", "promoPrice1"}

    r = got["638307PAK"]
    assert r["price_before_bonus"] == pytest.approx(1.29)   # cents → euros
    assert r["current_price"] == pytest.approx(1.29)
    assert r["brand"] == "Jumbo"                             # first title token
    assert r["unit_price"] == pytest.approx(1.29)
    assert r["is_promotion"] is False
    assert r["normalized_quantity_unit"] == "l"

    rp = got["promo1"]
    assert rp["is_promotion"] is True
    assert rp["promotion_mechanism"] == "2 voor 4.00"
    assert rp["current_price"] == pytest.approx(2.0)         # parsed X_FOR_Y
    assert rp["parsed_promotion_required_quantity"] == pytest.approx(2.0)
    assert rp["parsed_promotion_total_price"] == pytest.approx(4.0)
    assert rp["parsed_promotion_is_multi_purchase_required"] is True

    rpp = got["promoPrice1"]
    assert rpp["current_price"] == pytest.approx(1.5)        # promoPrice wins
    assert errors.count() == 0


def _aldi_row(**kw):
    base = dict(
        articleNumber="A1",
        title="Aldi Beschuit",
        brandName="  Gut Bio ",
        salesUnit="500 g",
        price="1.99",
        priceFormatted="€ 1,99",
        oldPrice=None,
        oldPriceFormatted=None,
        priceInfo=None,
        priceReduction=None,
        basePriceFormatted="€3.98/kg",
        basePriceValue=3.98,
        primaryImage={"baseUrl": "aldi.jpg", "alt": None},
        articleId="brood-bakkerij/beschuit",
        isNotAvailable=False,
        isSoldOut=False,
        shortDescription=None,
        mainCategory="brood-bakkerij",
        promotionDetails=None,
    )
    base.update(kw)
    return base


def test_aldi_pipeline(spark):
    rows = [
        _aldi_row(),
        _aldi_row(articleNumber="A2", isNotAvailable=True),        # skipped
        _aldi_row(articleNumber="A3", mainCategory="cadeaukaarten"),  # skipped
        _aldi_row(articleNumber="A4", oldPrice="2.50", price="2.00",
                  priceFormatted="€ 2,00"),                         # promo −20%
        _aldi_row(articleNumber="A5", price=None, priceFormatted="€ 1,49"),
        _aldi_row(articleNumber="A6", mainCategory="discount",
                  promotionDetails={"promotionDate": "2025-03-03",
                                    "dateFormat": None, "iterationPath": None,
                                    "promotionPath": None}),
    ]
    raw = spark.createDataFrame(rows, ALDI_SCHEMA)
    unified, errors = aldi.pipeline(raw, run_date="2025-09-10")  # Wednesday
    got = {r["unified_id"]: r for r in unified.collect()}
    assert set(got) == {"A1", "A4", "A5", "A6"}

    r1 = got["A1"]
    assert r1["brand"] == "Gut Bio"                  # trimmed
    assert r1["price_before_bonus"] == pytest.approx(1.99)
    assert r1["unit_price"] == pytest.approx(3.98)
    assert r1["unit_price_unit"] == "kg"
    assert r1["quantity_amount"] == 500.0 and r1["quantity_unit"] == "g"
    assert r1["conversion_factor"] == pytest.approx(0.5)
    assert r1["main_category"] == "Bakkerij"

    r4 = got["A4"]
    assert r4["is_promotion"] is True
    assert r4["promotion_mechanism"] == "-20%"
    assert r4["current_price"] == pytest.approx(2.0)  # 2.50 * 0.8
    # promo without explicit date → run week Mon..Sun
    assert r4["promotion_start_date"] == "2025-09-08"
    assert r4["promotion_end_date"] == "2025-09-14"

    r5 = got["A5"]
    assert r5["price_before_bonus"] == pytest.approx(1.49)  # formatted fallback

    r6 = got["A6"]
    assert r6["is_promotion"] is True
    assert r6["promotion_type"] == "WEEKLY_OFFER"
    assert r6["promotion_mechanism"] == "Weekaanbieding"
    assert r6["promotion_start_date"] == "2025-03-03"       # explicit date kept
    assert errors.count() == 0


def _plus_row(**kw):
    p = dict(
        SKU="255461",
        Name="PLUS Aardbeien 400 g",
        Brand=None,
        Product_Subtitle="Per 400 g",
        Slug="plus-aardbeien-400-g-255461",
        ImageURL="plus.jpg",
        OriginalPrice="3.99",
        NewPrice=None,
        Packging=None,
        IsAvailable=True,
        PromotionLabel=None,
        PromotionStartDate="1900-01-01",
        PromotionEndDate="1900-01-01",
        Categories={"List": [{"Name": "Aardappel, groente, fruit"}]},
    )
    p.update(kw)
    return {"PLP_Str": p}


def test_plus_pipeline(spark):
    rows = [
        _plus_row(),
        _plus_row(SKU="s2", IsAvailable=False),      # skipped
        _plus_row(SKU="", Name="Broken"),            # error row
        _plus_row(
            SKU="promo1",
            PromotionLabel="2 voor €6",
            PromotionStartDate="2025-01-06",
            PromotionEndDate="2025-01-12",
        ),
        _plus_row(SKU="newprice", NewPrice="2.99"),
        _plus_row(SKU="badnew", NewPrice="0.0"),     # invalid promo price → orig
    ]
    raw = spark.createDataFrame(rows, PLUS_SCHEMA)
    unified, errors = plus.pipeline(raw)
    got = {r["unified_id"]: r for r in unified.collect()}
    assert set(got) == {"255461", "promo1", "newprice", "badnew"}

    r = got["255461"]
    assert r["quantity_amount"] == 400.0 and r["quantity_unit"] == "g"
    assert r["sales_unit_size"] == "400 g"           # 'Per ' stripped
    assert r["unit_price"] == pytest.approx(9.98)    # 3.99/400*1000 per kg
    assert r["unit_price_unit"] == "kg"
    assert r["brand"] == "PLUS"                      # first name token
    assert r["is_promotion"] is False

    rp = got["promo1"]
    assert rp["is_promotion"] is True
    assert rp["current_price"] == pytest.approx(3.0)  # 2 voor €6
    assert rp["parsed_promotion_required_quantity"] == pytest.approx(2.0)

    assert got["newprice"]["current_price"] == pytest.approx(2.99)
    assert got["badnew"]["current_price"] == pytest.approx(3.99)

    errs = errors.collect()
    assert len(errs) == 1 and errs[0]["error_type"] == "missing_required_fields"


def test_plus_plan_carries_its_transform_once(spark):
    """Plus normalizes only rows that have a category in one
    projection, not by splitting the batch into has-category and
    no-category frames and unioning them back: the batch its unified
    frame caches holds no Union, so the transform is planned once."""
    raw = spark.createDataFrame([_plus_row()], PLUS_SCHEMA)
    unified, _ = plus.pipeline(raw)
    plan = unified._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" in plan
    assert "Union" not in plan


def test_plus_null_category_stays_null(spark):
    """A Plus row without an initial category keeps a null
    main_category (plus.ts:95-104), even when a confident prediction
    matches its title; a row with a category is still normalized."""
    rows = [
        _plus_row(SKU="cat", Name="PLUS Kaas", Categories={"List": [{"Name": "zuivel"}]}),
        _plus_row(SKU="nocat", Name="PLUS Melk", Categories={"List": []}),
    ]
    raw = spark.createDataFrame(rows, PLUS_SCHEMA)
    predictions = spark.createDataFrame(
        [("PLUS Melk", "Zuivel, eieren, boter", 0.9)],
        "title string, category string, confidence double",
    )
    for preds in (None, predictions):
        unified, errors = plus.pipeline(raw, predictions=preds)
        got = {r["unified_id"]: r["main_category"] for r in unified.collect()}
        assert got == {"cat": "Zuivel, eieren, boter", "nocat": None}
        assert errors.count() == 0


def test_column_builders_are_built_once_per_process(spark):
    """Every Column builder over fixed column names is memoized: with
    two shops' pipelines built and one of them rebuilt, the shared
    finish's builders and the rebuilt shop's transform builder each
    miss exactly once. Building the trees afresh per pipeline costs
    thousands of Py4J calls per builder."""
    from omfietser_etl_spark.functions import promotions, quantities
    from omfietser_etl_spark.pipelines import common

    builders = [
        common._template_defaults,
        common._calculate_fields_step2,
        promotions.standard_parsed_promo,
        quantities._staged_exprs,
        ah._transform_exprs,
    ]
    for b in builders:
        b.cache_clear()
    ah.pipeline(spark.createDataFrame([_ah_row()], AH_SCHEMA))
    jumbo.pipeline(spark.createDataFrame([], JUMBO_SCHEMA))
    ah.pipeline(spark.createDataFrame([_ah_row()], AH_SCHEMA))
    for b in builders:
        info = b.cache_info()
        assert (info.misses, info.currsize) == (1, 1), (b.__name__, info)
        assert info.hits >= 1, (b.__name__, info)
