"""File-mode orchestration: raw shop JSON in → unified parquet +
error dead-letter + reports out, with corrupt-record capture."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from omfietser_etl_spark.runner import run_file_mode
from omfietser_etl_spark.schemas import UNIFIED_SCHEMA
from omfietser_etl_spark.sources.files import read_shop_json

JUMBO_ROWS = [
    {"product": {"id": "J1", "title": "Merk Cola", "category": "Aardappel, groente, fruit",
                 "quantity": "500 g", "inAssortment": True,
                 "availability": {"isAvailable": True},
                 "prices": {"price": 2000}}},
    {"product": {"id": "J2", "title": "Merk Sap", "category": "",
                 "quantity": "1 l", "inAssortment": True,
                 "availability": {"isAvailable": True},
                 "prices": {"price": 400},
                 "promotions": [{"tags": [{"text": "2 voor €7.00"}]}]}},
    {"product": {"id": "J3", "title": "Weg", "category": "x",
                 "inAssortment": False,
                 "availability": {"isAvailable": True},
                 "prices": {"price": 500}}},
]

AH_ROWS = [
    {"webshopId": 11, "title": "AH Cola", "brand": "Merk",
     "mainCategory": "Aardappel, groente, fruit", "salesUnitSize": "500 g",
     "priceBeforeBonus": 8.0, "orderAvailabilityStatus": "IN_ASSORTMENT"},
    # no price at all → dropped by the F1 skip filter
    {"webshopId": 12, "title": "AH Gratis",
     "mainCategory": "Aardappel, groente, fruit",
     "orderAvailabilityStatus": "IN_ASSORTMENT"},
]


def _write_inputs(d: str) -> None:
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "jumbo_products.json"), "w") as f:
        json.dump(JUMBO_ROWS, f)
    with open(os.path.join(d, "ah_products.json"), "w") as f:
        json.dump(AH_ROWS, f)


def test_run_file_mode_end_to_end(spark, tmp_path):
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    _write_inputs(inp)
    summary = run_file_mode(spark, inp, out)
    assert summary["shops"]["jumbo"] == {"unified": 2, "errors": 0, "corrupt": 0}
    assert summary["shops"]["ah"] == {"unified": 1, "errors": 0, "corrupt": 0}
    assert summary["total_unified"] == 3

    uj = spark.read.parquet(os.path.join(out, "unified", "jumbo"))
    assert len(uj.columns) == 32
    got = {r.unified_id: r.current_price for r in uj.collect()}
    assert got == {"J1": 20.0, "J2": 3.5}

    rep = json.load(open(os.path.join(out, "reports", "jumbo_quality_report.json")))
    assert rep["quality"][0]["n_products"] == 2

    # reference-shaped per-shop stats report (base.ts:669-705)
    stats = json.load(open(os.path.join(out, "reports", "jumbo-stats.json")))
    assert stats["shopType"] == "jumbo"
    assert stats["metrics"]["success"] == 2
    assert stats["metrics"]["successRate"] == "100.00%"
    assert stats["metrics"]["processingRate"].endswith(" items/sec")
    assert stats["processingDuration"].endswith(" seconds")

    # cross-shop visualization artifacts (visualize-data.ts:11-95)
    viz = os.path.join(out, "visualization")
    for f in ("category-distribution.json", "price-comparison.json",
              "promotion-analysis.json", "summary.json", "report.html"):
        assert os.path.exists(os.path.join(viz, f)), f
    summary_json = json.load(open(os.path.join(viz, "summary.json")))
    assert summary_json["total"] == 3
    assert summary_json["byShop"] == {"AH": 1, "JUMBO": 2}
    price = {r["shop"]: r for r in summary_json["priceData"]}
    # before-bonus prices (the reference's metric): J1=20.0 (over10),
    # J2=4.0 (range2to5) → median = avg of middle two = 12.0
    assert price["JUMBO"]["over10"] == 1 and price["JUMBO"]["range2to5"] == 1
    assert price["JUMBO"]["medianPrice"] == 12.0
    cats = {r["category"]: r for r in summary_json["categoryData"]}
    assert sum(r["count"] for r in cats.values()) == 3
    html_text = open(os.path.join(viz, "report.html")).read()
    assert "Total products analyzed: 3" in html_text


def test_run_file_mode_reads_its_output_once_with_a_schema(spark, tmp_path, monkeypatch):
    """The report pass reads every shop's unified output back in ONE
    parquet read with the known schema: no per-shop read-back and no
    schema-inference job."""
    from pyspark.sql.readwriter import DataFrameReader

    calls = []
    orig_schema, orig_parquet = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, s):
        self._given_schema = s
        return orig_schema(self, s)

    def parquet(self, *paths, **options):
        calls.append((paths, getattr(self, "_given_schema", None)))
        return orig_parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    _write_inputs(inp)
    run_file_mode(spark, inp, out)
    monkeypatch.undo()

    assert len(calls) == 1
    paths, given = calls[0]
    assert given == UNIFIED_SCHEMA
    assert sorted(os.path.basename(p) for p in paths) == ["ah", "jumbo"]


def test_run_file_mode_leaves_no_cached_batch(spark, tmp_path):
    """The run frees every batch it caches: the persistent-RDD census
    is the same before and after, so the last shop's JSON parse and
    split batch do not outlive it."""
    from omfietser_etl_spark import cacheutil

    # an earlier pipeline call in this session may still hold its batch
    cacheutil.release("sources.read_shop_json")
    cacheutil.release("pipelines.split_errors")
    sc = spark.sparkContext
    before = cacheutil.persistent_rdd_ids(sc)
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    _write_inputs(inp)
    run_file_mode(spark, inp, out)
    assert cacheutil.persistent_rdd_ids(sc) == before


def test_run_file_mode_zero_row_shop(spark, tmp_path):
    """A shop whose every record is skipped still gets its reports:
    an empty quality list and null completeness figures, and no entry
    in the cross-shop summary."""
    inp, out = tmp_path / "in", str(tmp_path / "out")
    os.makedirs(inp)
    with open(inp / "jumbo_products.json", "w") as f:
        json.dump([JUMBO_ROWS[2]], f)  # J3: out of assortment → skipped
    with open(inp / "ah_products.json", "w") as f:
        json.dump(AH_ROWS, f)
    summary = run_file_mode(spark, str(inp), out)
    assert summary["shops"]["jumbo"]["unified"] == 0
    assert summary["shops"]["ah"]["unified"] == 1

    reports = os.path.join(out, "reports")
    jumbo = json.load(open(os.path.join(reports, "jumbo_quality_report.json")))
    ah = json.load(open(os.path.join(reports, "ah_quality_report.json")))
    assert jumbo["shop"] == "jumbo" and jumbo["quality"] == []
    assert set(jumbo["completeness_bp"]) == set(ah["completeness_bp"])
    assert all(v is None for v in jumbo["completeness_bp"].values())
    assert ah["quality"][0]["n_products"] == 1
    assert ah["completeness_bp"]["title_bp"] == 10000

    viz = json.load(open(os.path.join(out, "visualization", "summary.json")))
    assert "JUMBO" not in viz["byShop"]
    assert viz["total"] == sum(viz["byShop"].values()) == 1


def test_corrupt_record_dead_letter(spark, tmp_path):
    p = str(tmp_path / "bad")
    os.makedirs(p)
    # NDJSON with one malformed line
    with open(os.path.join(p, "jumbo_products.json"), "w") as f:
        f.write(json.dumps(JUMBO_ROWS[0]) + "\n")
        f.write('{"product": {"id": "broken", "prices": {"price": "not_a_number"\n')
    good, corrupt = read_shop_json(
        spark, os.path.join(p, "jumbo_products.json"), "jumbo", multi_line=False
    )
    assert good.count() == 1
    bad = corrupt.collect()
    assert len(bad) == 1
    assert bad[0].error_type == "corrupt_record"
    assert "broken" in bad[0].raw_text


def test_run_file_mode_generic_kruidvat(spark, tmp_path):
    inp = tmp_path / "in"
    os.makedirs(inp)
    rows = [
        {"sku": "K1", "name": "Merk Zeep", "price": "3.00",
         "category": "Drogisterij", "quantity": "250 ml"},
        {"sku": "K2", "name": "Merk Shampoo", "originalPrice": "4.00",
         "newPrice": "3.00", "promotionLabel": "25% korting",
         "category": "drogisterij", "quantity": "1 l"},
        {"name": "Naamloos", "price": "1.00"},  # no sku → error channel
    ]
    with open(inp / "kruidvat_products.json", "w") as f:
        for r in rows:  # NDJSON landing for the generic path
            f.write(json.dumps(r) + "\n")

    summary = run_file_mode(spark, str(inp), str(tmp_path / "out"), shops=["kruidvat"])
    assert summary["shops"]["kruidvat"] == {"unified": 2, "errors": 1, "corrupt": 0}

    out = spark.read.parquet(str(tmp_path / "out" / "unified" / "kruidvat"))
    got = {r["unified_id"]: r for r in out.collect()}
    assert set(got) == {"kruidvat_K1", "kruidvat_K2"}
    k2 = got["kruidvat_K2"]
    assert k2["shop_type"] == "KRUIDVAT"
    assert k2["main_category"] == "Drogisterij"
    assert k2["is_promotion"] and k2["discount_percentage"] == 25.0
    assert k2["price_per_standard_unit"] == 4.0


def _error_rows(spark, out: str) -> list[tuple]:
    """Every error row under the output's errors dir, whatever its
    layout, as a sorted list."""
    files = glob.glob(os.path.join(out, "errors", "**", "*.parquet"), recursive=True)
    return sorted((tuple(r) for r in spark.read.parquet(*files).collect()), key=repr)


def test_run_file_mode_rerun_leaves_the_same_errors(spark, tmp_path):
    """Re-running a day into the same output dir leaves the same error
    rows as one run: each shop's errors overwrite its own dir instead
    of appending to a shared one."""
    inp, out = tmp_path / "in", str(tmp_path / "out")
    os.makedirs(inp)
    with open(inp / "ah_products.json", "w") as f:
        # a bonus row with no before-bonus price and no priced label
        # is a transform error (ah.ts:200-267)
        json.dump(AH_ROWS + [{**AH_ROWS[0], "webshopId": 13, "isBonus": True,
                              "priceBeforeBonus": None, "currentPrice": 2.0}], f)
    with open(inp / "kruidvat_products.json", "w") as f:
        f.write(json.dumps({"name": "Naamloos", "price": "1.00"}) + "\n")

    first = run_file_mode(spark, str(inp), out, shops=["ah", "kruidvat"])
    assert first["total_errors"] == 2
    once = _error_rows(spark, out)
    assert {(r[1], r[2]) for r in once} == {
        ("AH", "missing_promo_price"),
        ("KRUIDVAT", "missing_external_id"),
    }
    assert run_file_mode(spark, str(inp), out, shops=["ah", "kruidvat"]) == first
    assert _error_rows(spark, out) == once


def test_write_unified_json_bounded(spark, tmp_path, monkeypatch):
    """K1 parity sink contract: small frames write (with backup
    rotation); a frame above UNIFIED_JSON_MAX_ROWS fails loudly
    BEFORE collecting (round-9 verdict #6 — a misuse at scale must
    not OOM the driver)."""
    from omfietser_etl_spark.sinks import files as sink_files

    df = spark.range(3).selectExpr("id", "concat('p', id) AS title")
    out = sink_files.write_unified_json(df, str(tmp_path), "ah", "t1")
    with open(out) as f:
        rows = json.load(f)
    assert [r["id"] for r in rows] == [0, 1, 2]

    # second write rotates the first into a run-stamped backup
    sink_files.write_unified_json(df, str(tmp_path), "ah", "t2")
    assert os.path.exists(str(tmp_path / "unified_ah_products.t2.bak.json"))

    monkeypatch.setattr(sink_files, "UNIFIED_JSON_MAX_ROWS", 2)
    with pytest.raises(ValueError, match="parity-only"):
        sink_files.write_unified_json(df, str(tmp_path), "ah", "t3")
