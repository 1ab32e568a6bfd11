"""Generic (DB-mode) raw → unified pipeline — the path every shop
WITHOUT a dedicated processor takes in the reference, notably
kruidvat (shop enum `01-init.sql:14` includes it; only AH/Jumbo/
Aldi/Plus have typed processors).

Re-expresses the reference's generic adapter:
- field-name coalescing over the raw JSON payload
  (ref: adapters/database-processor-adapter.ts:485-537),
- per-shop external_id extraction cascade (ref: :543-585),
- synthesized unified key `shop_lower || '_' || external_id`
  (ref: postgres-adapter.ts:685-720 COALESCE key synthesis),
- missing required fields → error channel (ref: :269-294).

Input contract: one string column ``raw_data`` holding the raw
product JSON (the `raw.products.raw_data` JSONB column), plus any
bookkeeping columns, which pass through untouched to the error
channel. `get_json_object` keeps extraction schema-less — the whole
point of the generic path is that the payload shape is unknown.
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .common import finish, qty_struct, split_transform_errors
from ..operators.category import normalize_categories

# candidate JSON paths per unified field, first non-empty wins
# (ref: database-processor-adapter.ts:485-537 field coalescing and
# :543-585 id cascade)
FIELD_CANDIDATES: dict[str, list[str]] = {
    "external_id": ["id", "webshopId", "sku", "articleNumber", "SKU"],
    "title": ["title", "name", "Name"],
    "brand": ["brand", "brandName", "Brand"],
    "main_category": ["main_category", "category", "mainCategory"],
    "image_url": ["image_url", "image", "imageUrl"],
    "sales_unit_size": ["sales_unit_size", "salesUnitSize", "quantity", "salesUnit"],
    "price_before_bonus": [
        "price_before_bonus", "originalPrice", "priceBeforeBonus", "oldPrice", "price",
    ],
    "current_price": ["current_price", "currentPrice", "newPrice", "promoPrice", "price"],
    "promotion_mechanism": [
        "promotion_mechanism", "bonusMechanism", "promotionLabel", "priceReduction",
    ],
}


#: ordered distinct top-level keys across all candidate lists — the
#: one-pass json_tuple extraction schema.
_JSON_KEYS: list[str] = list(
    dict.fromkeys(k for paths in FIELD_CANDIDATES.values() for k in paths)
)


def _first_of(extracted: dict[str, Column], paths: list[str]) -> Column:
    """First non-empty candidate (JS truthiness: '' misses)."""
    return F.coalesce(*[F.nullif(extracted[p], F.lit("")) for p in paths])


def transform(raw: DataFrame, shop: str) -> DataFrame:
    """Generic wide projection raw_data JSON → pre-template unified.

    All candidate fields are pulled in ONE `json_tuple` pass — every
    key is top-level, so one generator parses the payload once per
    row instead of the naive per-candidate `get_json_object` (which
    re-parses the JSON for each of the ~35 paths; at 100 TB that is
    the difference between 1× and 35× parse CPU on the scan stage)."""
    exprs = _transform_exprs(shop)
    staged = raw.select("*", exprs["json"])
    staged = staged.withColumns(exprs["stage1"])
    return staged.select(*exprs["final"])


@cache
def _transform_exprs(shop: str) -> dict:
    """Generic-transform expressions over fixed extracted-key names —
    built once per (process, shop)."""
    # positional output names: JSON keys are case-SENSITIVE but Spark
    # column resolution is not ('sku' vs 'SKU' would collide)
    json_gen = F.json_tuple(F.col("raw_data"), *_JSON_KEYS).alias(
        *[f"_j_{i}" for i in range(len(_JSON_KEYS))]
    )
    extracted = {k: F.col(f"_j_{i}") for i, k in enumerate(_JSON_KEYS)}
    g = {k: _first_of(extracted, v) for k, v in FIELD_CANDIDATES.items()}

    ext = g["external_id"]
    price_orig = g["price_before_bonus"].try_cast("double")
    price_cur = F.coalesce(g["current_price"].try_cast("double"), price_orig)
    mech = g["promotion_mechanism"]
    err = (
        F.when(ext.isNull(), F.lit("missing_external_id"))
        .when(g["title"].isNull(), F.lit("missing_title"))
        .when(price_orig.isNull() & price_cur.isNull(), F.lit("missing_price"))
    )

    stage1 = {
        "_ext": ext,
        "_transform_err": err,
        "_q": qty_struct(g["sales_unit_size"]),
    }
    final = [
        "_transform_err",
        F.concat(F.lit(shop.lower() + "_"), F.col("_ext")).alias("unified_id"),
        F.lit(shop.upper()).alias("shop_type"),
        g["title"].alias("title"),
        g["main_category"].alias("main_category"),
        F.coalesce(
            g["brand"], F.get(F.split(g["title"], " "), 0), F.lit("")
        ).alias("brand"),
        F.coalesce(g["image_url"], F.lit("")).alias("image_url"),
        F.coalesce(g["sales_unit_size"], F.lit("per stuk")).alias("sales_unit_size"),
        F.col("_q.amount").alias("quantity_amount"),
        F.col("_q.unit").alias("quantity_unit"),
        F.lit(1.0).alias("default_quantity_amount"),
        F.lit("stuk").alias("default_quantity_unit"),
        price_orig.alias("price_before_bonus"),
        price_cur.alias("current_price"),
        F.lit(None).cast("double").alias("unit_price"),
        F.lit(None).cast("string").alias("unit_price_unit"),
        mech.isNotNull().alias("is_promotion"),
        F.when(mech.isNotNull(), "DISCOUNT").otherwise("none").alias("promotion_type"),
        F.coalesce(mech, F.lit("none")).alias("promotion_mechanism"),
        F.lit(None).cast("string").alias("promotion_start_date"),
        F.lit(None).cast("string").alias("promotion_end_date"),
        F.lit(None).cast("double").alias("parsed_promotion_effective_unit_price"),
        F.lit(None).cast("double").alias("parsed_promotion_required_quantity"),
        F.lit(None).cast("double").alias("parsed_promotion_total_price"),
        F.lit(False).alias("parsed_promotion_is_multi_purchase_required"),
        F.col("_q.amount").alias("normalized_quantity_amount"),
        F.col("_q.unit").alias("normalized_quantity_unit"),
        F.lit(1.0).alias("conversion_factor"),
        F.lit(None).cast("double").alias("price_per_standard_unit"),
        F.lit(None).cast("double").alias("current_price_per_standard_unit"),
        F.lit(None).cast("double").alias("discount_absolute"),
        F.lit(None).cast("double").alias("discount_percentage"),
        F.lit(True).alias("is_active"),
    ]
    return {"json": json_gen, "stage1": stage1, "final": final}


def pipeline(
    raw: DataFrame,
    shop: str = "kruidvat",
    predictions: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    ok, transform_errors = split_transform_errors(transform(raw, shop))
    ok = normalize_categories(ok, predictions=predictions)
    return finish(ok, transform_errors)
