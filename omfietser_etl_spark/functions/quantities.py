"""Unit normalization (D3) + quantity standardization (D2) as Column
expressions.

Re-expresses the reference's unit handling
(ref: projects/processor/src/utils/calculate-fields.ts:232-332
standardizeQuantity, :341-403 normalizeUnit; config tables
src/config/units.ts:14-135) with literal maps / higher-order array
functions — JVM-side, constant-folded, no UDFs, no joins.

The ordered partial-containment pass uses a literal array of
(key, value) structs + `filter(...)[0]` so first-match-wins survives
(JS object iteration order is semantic in the reference).
"""

from __future__ import annotations

from functools import cache
from itertools import chain

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..config.units import (
    BASE_TO_STANDARD_DIVISOR,
    CONVERSION_FACTORS,
    REFERENCE_UNITS,
    STANDARD_UNITS,
    UNIT_ALIASES,
    UNIT_TO_CATEGORY,
)


# Literal maps/arrays must be built lazily — Column construction
# needs an active SparkSession (import-time fails under pytest).
@cache
def _alias_map() -> Column:
    """literal map unit-alias → code"""
    return F.create_map(*[F.lit(x) for x in chain.from_iterable(UNIT_ALIASES)])


@cache
def _alias_array() -> Column:
    """ordered array of alias structs for the containment fallback"""
    return F.array(
        *[F.struct(F.lit(k).alias("k"), F.lit(v).alias("v")) for k, v in UNIT_ALIASES]
    )


@cache
def _category_map() -> Column:
    """normalized unit code → measurement category"""
    return F.create_map(*[F.lit(x) for kv in UNIT_TO_CATEGORY.items() for x in kv])


_TO_BASE = {u: f for factors in CONVERSION_FACTORS.values() for u, f in factors.items()}


@cache
def _to_base_map() -> Column:
    """normalized unit code → factor to the category base (g/ml/mm/mm²)"""
    return F.create_map(*[F.lit(x) for kv in _TO_BASE.items() for x in kv])


@cache
def _divisor_map() -> Column:
    return F.create_map(*[F.lit(x) for kv in BASE_TO_STANDARD_DIVISOR.items() for x in kv])


@cache
def _ref_unit_map() -> Column:
    return F.create_map(*[F.lit(x) for kv in REFERENCE_UNITS.items() for x in kv])

_MULTIPACK_RX = r"(\d+)\s*x\s*(\d+(?:\.\d+)?)\s*([a-z]+)"
_PACKSIZE_RX = r"(\d+)[\s-]*(pack|stuks|pieces|items)"


def clean_unit(unit: Column) -> Column:
    """lower/trim, strip 'per ' prefix, drop punctuation, collapse
    whitespace (ref: calculate-fields.ts:349-353)."""
    c = F.lower(F.trim(unit))
    c = F.regexp_replace(c, r"^per\s+", "")
    c = F.regexp_replace(c, r"[.,;:()]", "")
    return F.regexp_replace(c, r"\s+", " ")


def _normalize_cleaned(c: Column) -> Column:
    """The alias cascade over an ALREADY-CLEANED unit string.
    Precedence: multipack item unit → exact alias → first containing
    alias → pack-size → already standard → 'stuk'. Coalesce is lazy,
    so direct-map hits never touch the containment fold; when ``c``
    is an expression tree (not a staged column), a fold miss
    re-evaluates it per alias element — stage ``c`` as a real column
    on fact-scale frames (with_standardized_quantity_staged)."""
    mp_unit = F.regexp_extract(c, _MULTIPACK_RX, 3)
    mp_hit = F.when(mp_unit != "", F.element_at(_alias_map(), mp_unit))
    direct = F.element_at(_alias_map(), c)
    contained = F.get(F.filter(_alias_array(), lambda s: c.contains(s["k"])), 0)["v"]
    packsize = F.when(c.rlike(_PACKSIZE_RX), F.lit("stuk"))
    already_std = F.when(c.isin(*STANDARD_UNITS), c)
    return F.coalesce(mp_hit, direct, contained, packsize, already_std, F.lit("stuk"))


def normalize_unit(unit: Column) -> Column:
    """Normalize a raw unit string to a standard code, default 'stuk'
    (ref: calculate-fields.ts:341-403)."""
    resolved = _normalize_cleaned(clean_unit(unit))
    return F.when(unit.isNull() | (unit == ""), F.lit("stuk")).otherwise(resolved)


def resolve_unit(unit: Column) -> Column:
    """Unit-string-only half of D2: struct(category, to_base, divisor,
    std_unit). This carries the whole ~150-alias containment cascade —
    everything in standardize_quantity that does NOT depend on the
    amount — so it can be evaluated once per DISTINCT unit string and
    broadcast-joined back (SURVEY §2.7 distinct-then-join; ref
    precedent: the normalizer singleton cache normalizer.ts:87-92)."""
    nu = normalize_unit(unit)
    cat = F.coalesce(F.element_at(_category_map(), nu), F.lit("piece"))
    return F.struct(
        cat.alias("category"),
        F.coalesce(F.element_at(_to_base_map(), nu), F.lit(1.0)).alias("to_base"),
        F.element_at(_divisor_map(), cat).alias("divisor"),
        F.element_at(_ref_unit_map(), cat).alias("std_unit"),
    )


def standardize_resolved(amount: Column, unit: Column, res: Column) -> Column:
    """Amount-dependent tail of D2 given a resolve_unit() struct: four
    arithmetic ops and a branch — pure codegen, trivially cheap."""
    invalid = (
        amount.isNull()
        | F.isnan(amount)
        | (amount <= 0)
        | unit.isNull()
        | (unit == "")
    )
    measured = F.greatest(amount * res["to_base"] / res["divisor"], F.lit(0.001))
    piece = F.greatest(amount, F.lit(1.0))
    conv = F.when(res["category"] == "piece", piece).otherwise(measured)
    result = F.struct(
        conv.cast("double").alias("normalized_amount"),
        res["std_unit"].alias("normalized_unit"),
        conv.cast("double").alias("conversion_factor"),
    )
    default = F.struct(
        F.lit(1.0).alias("normalized_amount"),
        F.lit("stuk").alias("normalized_unit"),
        F.lit(1.0).alias("conversion_factor"),
    )
    return F.when(invalid, default).otherwise(result)


def standardize_quantity(amount: Column, unit: Column) -> Column:
    """Returns struct(normalized_amount, normalized_unit,
    conversion_factor) (ref: calculate-fields.ts:232-332).

    weight→kg, volume→l, length→m, area→m², piece→stuk; conversion
    factor floored at 0.001 (piece: max(amount, 1)); invalid input ⇒
    (1, 'stuk', 1).

    NOTE: this inline form evaluates the ~150-alias containment cascade
    per ROW. For fact-scale frames use with_standardized_quantity(),
    which evaluates it per DISTINCT unit string instead."""
    return standardize_resolved(amount, unit, resolve_unit(unit))


def with_standardized_quantity(
    df, amount: Column, unit: Column, out_col: str
):
    """D2 via distinct-then-join: materialize the unit string, resolve
    the alias cascade over its DISTINCT values (a tiny map-side-combine
    hash agg — unit vocabularies are O(100) strings no matter the fact
    count), broadcast-join the resolution back, and finish with the
    cheap amount arithmetic. At 100 TB the fact table never reshuffles
    and the per-row cost drops from a 150-struct array fold to four
    arithmetic ops. Also shrinks the row-plan expression tree, keeping
    codegen well under the 1 GiB-driver janino budget."""
    key, res = f"__{out_col}_unit", f"__{out_col}_res"
    keyed = df.withColumn(key, unit).withColumn(f"__{out_col}_amt", amount)
    lookup = (
        keyed.select(key)
        .where(F.col(key).isNotNull())
        .distinct()
        .withColumn(res, resolve_unit(F.col(key)))
    )
    joined = keyed.join(F.broadcast(lookup), on=key, how="left")
    out = joined.withColumn(
        out_col,
        standardize_resolved(
            F.col(f"__{out_col}_amt"), F.col(key), F.col(res)
        ),
    )
    return out.drop(key, res, f"__{out_col}_amt")


def _staged_names(out_col: str) -> tuple[str, str, str, str]:
    """The staged cleaned-unit, code, unit and amount column names."""
    return tuple(f"__{out_col}_{s}" for s in ("cl", "nu", "u", "a"))


@cache
def _staged_exprs(out_col: str) -> dict:
    """The clean/normalize/standardize trees over ``out_col``'s staged
    column names — thousands of Py4J calls, built once per process and
    ``out_col``."""
    cl, nu, u, a = _staged_names(out_col)
    code = F.when(
        F.col(u).isNull() | (F.col(u) == ""), F.lit("stuk")
    ).otherwise(_normalize_cleaned(F.col(cl)))
    cat = F.coalesce(F.element_at(_category_map(), F.col(nu)), F.lit("piece"))
    res = F.struct(
        cat.alias("category"),
        F.coalesce(F.element_at(_to_base_map(), F.col(nu)), F.lit(1.0)).alias("to_base"),
        F.element_at(_divisor_map(), cat).alias("divisor"),
        F.element_at(_ref_unit_map(), cat).alias("std_unit"),
    )
    return {
        "cl": clean_unit(F.col(u)),
        "code": code,
        "out": standardize_resolved(F.col(a), F.col(u), res),
    }


def with_standardized_quantity_staged(
    df, amount: Column, unit: Column, out_col: str
):
    """Expression-only D2 with the worst case bounded: stage the
    CLEANED unit string and the resolved code as real columns (each in
    its own projection, so CollapseProject keeps the multi-use
    non-cheap exprs staged), then finish with cheap map lookups and
    arithmetic.

    Versus with_standardized_quantity (the join form): no second pass
    over the input lineage — use this inside composed pipelines whose
    upstream (JSON parse + transform cascade) is expensive to
    re-execute for the distinct-units branch. Versus the naive inline
    form: a containment-fold miss evaluates `contains` against a
    staged string column instead of re-evaluating the clean_unit regex
    chain per alias element (~30× on miss-heavy data)."""
    cl, nu, u, a = _staged_names(out_col)
    exprs = _staged_exprs(out_col)
    staged = df.withColumns({u: unit, a: amount})
    staged = staged.withColumn(cl, exprs["cl"])
    staged = staged.withColumn(nu, exprs["code"])
    out = staged.withColumn(out_col, exprs["out"])
    return out.drop(cl, nu, u, a)


def parse_quantity(text: Column) -> Column:
    """Generic quantity-from-text parse: first `<number> <unit>` hit,
    comma decimals allowed (ref: src/utils/units.ts:18-45, D6).
    Returns struct(amount double, unit string) — nulls when absent."""
    rx = r"(\d+(?:[.,]\d+)?)\s*(\w+)"
    amt = F.regexp_replace(F.regexp_extract(text, rx, 1), ",", ".").try_cast("double")
    unit = F.nullif(F.regexp_extract(text, rx, 2), F.lit(""))
    return F.struct(amt.alias("amount"), unit.alias("unit"))
