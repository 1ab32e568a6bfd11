"""Derived-column operator queries (SURVEY §2.5/§2.6): promotion-text
parsing, quantity/unit standardization, price math, scalar text
functions — driven by inputs synthesized deterministically from the
TPC-H-ish tables so the DuckDB oracle can state the expected outputs
as golden CASE arithmetic.

Input values are engineered to avoid cross-engine rounding-tie
boundaries: prices are integers or dyadic fractions (quarters/
eighths), so every round() both engines apply is either an identity
or a non-tie.
"""

from __future__ import annotations

from functools import cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from omfietser_etl_spark.functions.prices import discount_metrics, price_per_unit
from omfietser_etl_spark.functions.promotions import parse_promotion_mechanism
from omfietser_etl_spark.functions.quantities import (
    parse_quantity,
    with_standardized_quantity,
)
from omfietser_etl_spark.functions.text import (
    extract_numbers,
    format_price,
    levenshtein_similarity,
    normalize_string,
    parse_price,
    truncate_with_ellipsis,
)
from omfietser_etl_spark.session import load

from . import QuerySpec

# ---------------------------------------------------------------- #
# d1 — promotion-mechanism parser (D1, ordered first-match-wins)
# ---------------------------------------------------------------- #

MECHS = [
    "2 voor €5.00",          # X_FOR_Y
    "25% korting",           # PERCENTAGE_DISCOUNT
    "1+1 gratis",            # X_PLUS_Y_FREE
    "2e halve prijs",        # SECOND_HALF_PRICE
    "2e gratis",             # SECOND_FREE
    "-€1.50",                # FIXED_DISCOUNT
    "vanaf €10",             # CONDITIONAL_SPEND
    "gratis bezorging",      # DELIVERY_PROMO
    "fixed price €3.00",     # FIXED_PRICE
    "kies & mix",            # KIES_MIX
    "25% korting; 2 voor €5.00",  # MULTI_PROMO (2 segments)
    "onbekend mechanisme",   # UNKNOWN fallback
]


@cache
def _d1_parser():
    """The promotion parser over d1's fixed column names — built once
    per process."""
    return parse_promotion_mechanism(F.col("mech"), F.col("orig"), F.col("cur"))


def d1_promo_parse(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem", fanout=True)
    mech_arr = F.array(*[F.lit(m) for m in MECHS])
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        ((F.col("l_orderkey") * 7 + F.col("l_linenumber")) % len(MECHS)).alias("v"),
        ((F.col("l_partkey") % 90) + 10).cast("double").alias("orig"),
        (((F.col("l_partkey") % 90) + 10).cast("double") - 0.5).alias("cur"),
    ).withColumn("mech", F.element_at(mech_arr, F.col("v").cast("int") + 1))
    # Stage the parser struct as a real column: referenced 5× below, it
    # must be evaluated once per row, not inlined 5× (CollapseProject
    # keeps non-cheap multi-use projections separate).
    return base.withColumn("p", _d1_parser()).select(
        "l_orderkey",
        "l_linenumber",
        F.col("p.promo_type").alias("promo_type"),
        F.col("p.effective_unit_price").alias("eff_price"),
        F.col("p.required_quantity").alias("req_qty"),
        F.col("p.total_price").alias("total_price"),
        F.col("p.is_multi_purchase_required").alias("multi"),
    )


_D1_TYPE = (
    "CASE v WHEN 0 THEN 'X_FOR_Y' WHEN 1 THEN 'PERCENTAGE_DISCOUNT' "
    "WHEN 2 THEN 'X_PLUS_Y_FREE' WHEN 3 THEN 'SECOND_HALF_PRICE' "
    "WHEN 4 THEN 'SECOND_FREE' WHEN 5 THEN 'FIXED_DISCOUNT' "
    "WHEN 6 THEN 'CONDITIONAL_SPEND' WHEN 7 THEN 'DELIVERY_PROMO' "
    "WHEN 8 THEN 'FIXED_PRICE' WHEN 9 THEN 'KIES_MIX' "
    "WHEN 10 THEN 'MULTI_PROMO' ELSE 'UNKNOWN' END"
)
_D1_EFF = (
    "CASE v WHEN 0 THEN 2.5 WHEN 1 THEN round(orig * 0.75, 2) "
    "WHEN 2 THEN round(orig * 0.5, 2) WHEN 3 THEN round(orig * 0.75, 2) "
    "WHEN 4 THEN round(orig * 0.5, 2) WHEN 5 THEN round(greatest(0, orig - 1.5), 2) "
    "WHEN 6 THEN round(orig, 2) WHEN 7 THEN round(orig, 2) "
    "WHEN 8 THEN 3.0 WHEN 9 THEN round(orig, 2) ELSE cur END"
)
_D1_REQ = "CASE WHEN v IN (0, 2, 3, 4) THEN 2.0 ELSE 1.0 END"
_D1_TOTAL = (
    "CASE v WHEN 0 THEN 5.0 WHEN 2 THEN round(orig, 2) "
    "WHEN 3 THEN round(orig * 1.5, 2) WHEN 4 THEN round(orig, 2) ELSE cur END"
)
_D1_MULTI = "v IN (0, 2, 3, 4)"

D1_ORACLE = f"""
WITH base AS (SELECT l_orderkey, l_linenumber,
    (l_orderkey * 7 + l_linenumber) % {len(MECHS)} AS v,
    CAST((l_partkey % 90) + 10 AS DOUBLE) AS orig,
    CAST((l_partkey % 90) + 10 AS DOUBLE) - 0.5 AS cur
  FROM lineitem)
SELECT l_orderkey, l_linenumber,
    {_D1_TYPE} AS promo_type,
    {_D1_EFF} AS eff_price,
    {_D1_REQ} AS req_qty,
    {_D1_TOTAL} AS total_price,
    {_D1_MULTI} AS multi
FROM base
"""


# ---------------------------------------------------------------- #
# d2 — quantity parse (D6) + unit normalization (D3) +
#      standardization (D2)
# ---------------------------------------------------------------- #

UNIT_INPUTS = [
    "500 g",      # weight, 0.5 kg
    "1.5 kg",     # weight, 1.5 kg
    "750 ml",     # volume, 0.75 l
    "2 l",        # volume, 2.0 l
    "6 x 330 ml", # first-number parse → 6 'x' → piece ×6
    "3-pack",     # regex misses ('-' breaks \\s*\\w+) → default
    "per stuk",   # no number → default
    "250 gram",   # alias gram→g, 0.25 kg
    "1 liter",    # alias liter→l, 1.0 l
    "33 cl",      # cl→×10 ml, 0.33 l
    "",           # empty → default
    "2,5 kg",     # comma decimal, 2.5 kg
]

# (normalized_amount, normalized_unit) golden values per input index
_D2_GOLD = [
    (0.5, "kg"), (1.5, "kg"), (0.75, "l"), (2.0, "l"), (6.0, "stuk"),
    (1.0, "stuk"), (1.0, "stuk"), (0.25, "kg"), (1.0, "l"), (0.33, "l"),
    (1.0, "stuk"), (2.5, "kg"),
]


def d2_quantity_standardize(spark: SparkSession, sf: str) -> DataFrame:
    """D2/D3 over the fact table via distinct-then-join: the ~150-alias
    containment cascade is evaluated once per DISTINCT unit string
    (O(100) rows) and broadcast-joined back, instead of per fact row —
    the per-row residue is regex parse + four arithmetic ops. The fact
    side never reshuffles; the lookup branch's second scan prunes to a
    single parquet column."""
    part = load(spark, sf, "part", fanout=True)
    arr = F.array(*[F.lit(s) for s in UNIT_INPUTS])
    base = part.select(
        "p_partkey",
        (F.col("p_partkey") % len(UNIT_INPUTS)).alias("v"),
    ).withColumn("raw", F.element_at(arr, F.col("v").cast("int") + 1))
    q = parse_quantity(F.col("raw"))
    out = with_standardized_quantity(base, q["amount"], q["unit"], "_std")
    return out.select(
        "p_partkey",
        "v",
        F.col("_std")["normalized_amount"].alias("norm_amount"),
        F.col("_std")["normalized_unit"].alias("norm_unit"),
        F.col("_std")["conversion_factor"].alias("conv_factor"),
    )


def _d2_oracle() -> str:
    amt = " ".join(f"WHEN {i} THEN {a}" for i, (a, _) in enumerate(_D2_GOLD))
    unit = " ".join(f"WHEN {i} THEN '{u}'" for i, (_, u) in enumerate(_D2_GOLD))
    return f"""
SELECT p_partkey, p_partkey % {len(UNIT_INPUTS)} AS v,
    CASE p_partkey % {len(UNIT_INPUTS)} {amt} END AS norm_amount,
    CASE p_partkey % {len(UNIT_INPUTS)} {unit} END AS norm_unit,
    CASE p_partkey % {len(UNIT_INPUTS)} {amt} END AS conv_factor
FROM part
"""


# ---------------------------------------------------------------- #
# d4 — price per standard unit: guards + 10000 cap
# ---------------------------------------------------------------- #

def d4_price_per_unit(spark: SparkSession, sf: str) -> DataFrame:
    part = load(spark, sf, "part", fanout=True)
    base = part.select(
        "p_partkey",
        ((F.col("p_partkey") % 90) + 10).cast("double").alias("price"),
        (F.col("p_partkey") % 4).alias("v"),
    ).withColumn(
        "conv",
        F.expr(
            "CASE v WHEN 0 THEN 0.1 WHEN 1 THEN 1.0 "
            "WHEN 2 THEN 10.0 ELSE 0.0001 END"
        ),
    )
    # v=3: conv below the 0.001 floor → price/0.001 > 10000 → capped
    return base.select(
        "p_partkey",
        "v",
        price_per_unit(F.col("price"), F.col("conv")).alias("ppu"),
        price_per_unit(F.lit(0.0), F.col("conv")).alias("ppu_invalid_price"),
    )


D4_ORACLE = """
SELECT p_partkey, p_partkey % 4 AS v,
    CASE p_partkey % 4
        WHEN 0 THEN round(CAST((p_partkey % 90) + 10 AS DOUBLE) / 0.1, 2)
        WHEN 1 THEN CAST((p_partkey % 90) + 10 AS DOUBLE)
        WHEN 2 THEN round(CAST((p_partkey % 90) + 10 AS DOUBLE) / 10.0, 2)
        ELSE 10000.0 END AS ppu,
    0.0 AS ppu_invalid_price
FROM part
"""


# ---------------------------------------------------------------- #
# d5 — discount metrics (zeros on non-discount)
# ---------------------------------------------------------------- #

def d5_discount_metrics(spark: SparkSession, sf: str) -> DataFrame:
    li = load(spark, sf, "lineitem", fanout=True)
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        (2 * ((F.col("l_partkey") % 45) + 5)).cast("double").alias("orig"),
        (F.col("l_suppkey") % 8).alias("j"),
    ).withColumn("disc", F.expr("orig * (8 - j) / 8"))
    m = discount_metrics(F.col("orig"), F.col("disc"))
    return base.select(
        "l_orderkey",
        "l_linenumber",
        m["amount"].alias("discount_absolute"),
        m["percentage"].alias("discount_percentage"),
    )


D5_ORACLE = """
WITH base AS (SELECT l_orderkey, l_linenumber,
    CAST(2 * ((l_partkey % 45) + 5) AS DOUBLE) AS orig,
    l_suppkey % 8 AS j
  FROM lineitem)
SELECT l_orderkey, l_linenumber,
    CASE WHEN j = 0 THEN 0.0 ELSE round(orig * j / 8, 2) END AS discount_absolute,
    CASE WHEN j = 0 THEN 0.0 ELSE round(12.5 * j, 1) END AS discount_percentage
FROM base
"""


# ---------------------------------------------------------------- #
# t — scalar text/number functions (T1-T5, T10)
# ---------------------------------------------------------------- #

def t_scalar_text(spark: SparkSession, sf: str) -> DataFrame:
    part = load(spark, sf, "part", fanout=True)
    price_str = F.concat(
        F.lit("€"), ((F.col("p_partkey") % 90) + 10).cast("string"), F.lit(",99")
    )
    return part.select(
        "p_partkey",
        normalize_string(F.col("p_name")).alias("norm_name"),
        F.round(
            levenshtein_similarity(F.col("p_name"), F.col("p_type")), 4
        ).alias("name_type_sim"),
        F.element_at(
            extract_numbers(
                F.concat(F.lit("id "), F.col("p_partkey").cast("string"),
                         F.lit(" size "), F.col("p_size").cast("string"))
            ),
            2,
        ).alias("second_number"),
        parse_price(price_str).alias("parsed_price"),
        truncate_with_ellipsis(F.col("p_name"), 15).alias("short_name"),
        format_price(((F.col("p_partkey") % 90) + 10).cast("double") + 0.25).alias(
            "fmt_price"
        ),
    )


T_ORACLE = r"""
SELECT p_partkey,
    trim(regexp_replace(regexp_replace(lower(p_name), '[^a-z0-9]+', ' ', 'g'),
         '\s+', ' ', 'g')) AS norm_name,
    round(CASE WHEN greatest(length(p_name), length(p_type)) = 0 THEN 1.0
          ELSE 1.0 - levenshtein(p_name, p_type)
                     / greatest(length(p_name), length(p_type)) END, 4)
        AS name_type_sim,
    CAST(p_size AS DOUBLE) AS second_number,
    CAST((p_partkey % 90) + 10 AS DOUBLE) + 0.99 AS parsed_price,
    CASE WHEN length(p_name) <= 15 THEN p_name
         ELSE substring(p_name, 1, 14) || '…' END AS short_name,
    printf('€%.2f', CAST((p_partkey % 90) + 10 AS DOUBLE) + 0.25) AS fmt_price
FROM part
"""


SPECS = [
    QuerySpec("d1_promo_parse", d1_promo_parse, D1_ORACLE, "D1 promotion parser"),
    QuerySpec("d2_quantity_standardize", d2_quantity_standardize, _d2_oracle(),
              "D2/D3/D6 quantity standardization"),
    QuerySpec("d4_price_per_unit", d4_price_per_unit, D4_ORACLE, "D4 unit price"),
    QuerySpec("d5_discount_metrics", d5_discount_metrics, D5_ORACLE, "D5 discounts"),
    QuerySpec("t_scalar_text", t_scalar_text, T_ORACLE, "T1-T10 scalar functions"),
]
