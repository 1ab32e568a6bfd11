"""Category-cascade tests (SURVEY §2.7) with reference-derived
expectations (normalizer.ts:384-496)."""

from __future__ import annotations

import os
import subprocess
import sys

from pyspark import cloudpickle

from omfietser_etl_spark.config.categories import DEFAULT_CATEGORY
from omfietser_etl_spark.operators.category import (
    _canon_udf,
    _cascade_udf,
    normalize_categories,
)

AGF = "Aardappel, groente, fruit"

CASES = [
    # (category_in, shop, expected, note)
    ("Bakkerij", "AH", "Bakkerij", "exact"),
    ("bakkerij", "JUMBO", "Bakkerij", "exact lower"),
    ("KOFFIE, THEE", "AH", "Koffie, thee", "exact case-insensitive"),
    ("agf", "PLUS", AGF, "alias exact"),
    ("verse groenten", "AH", AGF, "partial containment"),
    ("trotsvanaldi", "ALDI", AGF, "aldi special default"),
    ("trotsvanaldi", "AH", None, "non-aldi falls through to fuzzy"),
    ("", "AH", DEFAULT_CATEGORY, "empty default"),
    (None, "AH", DEFAULT_CATEGORY, "null default"),
    ("bakkerij brod", "AH", None, "fuzzy-ish (assert non-null canon)"),
]


def test_category_cascade(spark):
    rows = [(c, s, f"title_{i}") for i, (c, s, _, _) in enumerate(CASES)]
    df = spark.createDataFrame(rows, "main_category string, shop_type string, title string")
    out = normalize_categories(df).collect()
    got = {(r["title"]): r["main_category"] for r in out}
    from omfietser_etl_spark.config.categories import FINAL_CATEGORIES

    for i, (cat, shop, expected, note) in enumerate(CASES):
        val = got[f"title_{i}"]
        if expected is not None:
            assert val == expected, f"{note}: {cat!r} → {val!r}"
        assert val in FINAL_CATEGORIES, f"{note}: output {val!r} not canonical"

    empty = normalize_categories(df.limit(0))
    assert empty.collect() == []
    assert empty.columns == df.columns


def test_category_ml_path(spark):
    df = spark.createDataFrame(
        [
            ("", "AH", "Verse koffiebonen"),      # empty → ML@0.65
            ("", "AH", "Lage-confidence item"),   # empty → ML below threshold → default
            ("trotsaldi x", "ALDI", "Appeltaart"),  # special → ML@0.4
        ],
        "main_category string, shop_type string, title string",
    )
    preds = spark.createDataFrame(
        [
            ("Verse koffiebonen", "Koffie, thee", 0.9),
            ("Lage-confidence item", "Bakkerij", 0.3),
            ("Appeltaart", "Bakkerij", 0.45),
        ],
        "title string, category string, confidence double",
    )
    out = {r["title"]: r["main_category"] for r in
           normalize_categories(df, predictions=preds).collect()}
    assert out["Verse koffiebonen"] == "Koffie, thee"
    assert out["Lage-confidence item"] == DEFAULT_CATEGORY
    assert out["Appeltaart"] == "Bakkerij"


def test_category_cascade_is_lazy(spark):
    """Building the cascade starts no Spark job and caches nothing:
    the whole cascade is one lazy plan, with or without predictions."""
    df = spark.createDataFrame(
        [("Bakkerij", "AH", "t0"), ("", "ALDI", "t1")],
        "main_category string, shop_type string, title string",
    )
    preds = spark.createDataFrame(
        [("t0", "koffie", 0.9)], "title string, category string, confidence double"
    )
    tracker = spark.sparkContext.statusTracker()
    for predictions in (None, preds):
        before = set(tracker.getJobIdsForGroup())
        out = normalize_categories(df, predictions=predictions, method_col="method")
        assert set(tracker.getJobIdsForGroup()) == before, "eager job started"
        plan = out._jdf.queryExecution().withCachedData().toString()
        assert "InMemoryRelation" not in plan


def test_category_kernels_unpickle_without_the_package():
    """Python workers may lack the package on their path (only the
    driver has it), so the UDF bodies must ship by value."""
    payload = cloudpickle.dumps((_cascade_udf.func, _canon_udf.func))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    probe = (
        "import pickle, sys; cascade, canon = pickle.loads(sys.stdin.buffer.read()); "
        "import pandas as pd; print(canon(pd.Series(['agf']))[0])"
    )
    res = subprocess.run(
        [sys.executable, "-c", probe], input=payload, capture_output=True,
        cwd="/", env=env, timeout=120,
    )
    assert res.returncode == 0, res.stderr.decode()
    assert res.stdout.decode().strip() == "Aardappel, groente, fruit"
