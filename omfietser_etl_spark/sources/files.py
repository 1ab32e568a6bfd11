"""File sources (SURVEY S1, S7): per-shop raw JSON with schema
enforcement and a corrupt-record dead-letter channel.

Ref: processors/base.ts:99-100,722-737 (whole-file JSON array parse),
infrastructure/storage/reader.ts:104-144 (read w/ retry),
src/config/default.json (per-shop input file names).

Spark mapping: `spark.read.schema(...).json` with PERMISSIVE mode +
``_corrupt_record`` (SURVEY §1.2) — schema-on-read like the
reference's implicit TS interfaces, but with malformed rows captured
instead of crashing the run. Scale: JSON scan parallelizes per file
split; for 100 TB landing zones prefer NDJSON (splittable) over
multiLine arrays (one task per file).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import AH_SCHEMA, ALDI_SCHEMA, JUMBO_SCHEMA, PLUS_SCHEMA

SHOP_SCHEMAS = {
    "ah": AH_SCHEMA,
    "jumbo": JUMBO_SCHEMA,
    "aldi": ALDI_SCHEMA,
    "plus": PLUS_SCHEMA,
}

# reference file naming: <shop>_products.json (config/default.json)
def input_filename(shop: str) -> str:
    return f"{shop}_products.json"


def read_shop_json(
    spark: SparkSession, path: str, shop: str, multi_line: bool = True
) -> tuple[DataFrame, DataFrame]:
    """Read one shop's raw JSON (array file or NDJSON) → (good rows,
    corrupt rows). Corrupt rows carry the raw text; ``run_file_mode``
    counts them as skipped but does not write them to the error sink."""
    # StructType.add mutates in place — build a fresh copy instead
    schema = T.StructType(
        list(SHOP_SCHEMAS[shop].fields)
        + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("multiLine", multi_line)
        .json(path)
    )
    # Spark refuses queries that reference ONLY _corrupt_record on a
    # raw JSON scan; cache materializes the parse once for both the
    # good and dead-letter branches (a fan-out anyway). Scoped so each
    # call frees the PREVIOUS shop's cached parse — callers hold only
    # derived frames, whose unpersist() would be a silent no-op (the
    # round-5 lesson), so without the scope a multi-shop run leaks one
    # cached JSON parse per shop for the session lifetime.
    from ..cacheutil import release_then_register

    df = release_then_register("sources.read_shop_json", df.cache())
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    corrupt = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.lit(shop).alias("shop_type"),
        F.col("_corrupt_record").alias("raw_text"),
        F.lit("corrupt_record").alias("error_type"),
    )
    return good, corrupt


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    header: bool = True,
    delimiter: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """CSV source with the same dead-letter contract as the JSON
    reader: explicit schema (NEVER inferSchema at scale — inference
    is an extra full scan before the real one), PERMISSIVE mode,
    malformed lines to the corrupt channel. CSV splits by line, so
    scans parallelize within files like NDJSON."""
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )
    df = (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("header", header)
        .option("delimiter", delimiter)
        .csv(path)
    )
    df = df.cache()
    good = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    corrupt = df.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_text"),
        F.lit("corrupt_record").alias("error_type"),
    )
    return good, corrupt


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source — columnar like parquet (embedded schema, predicate
    pushdown, column pruning all apply); no corrupt channel because
    the format is self-describing."""
    return spark.read.orc(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink, snappy-compressed (format parity for consumers that
    read ORC; parquet stays the engine-native default)."""
    df.write.mode(mode).option("compression", "snappy").orc(path)


def read_evolved_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan across batches written under EVOLVING schemas —
    the lake-level analog of the reference's schema_version columns
    (postgres-adapter.ts:1004-1023): older files simply lack the newer
    columns and surface them as nulls.

    ``mergeSchema`` asks the reader to union every file footer's
    schema instead of trusting the first one. That costs one footer
    read per file at planning time — fine for a partitioned table,
    wasteful for a 10⁶-file mess (compact first; see
    sinks/clustered.py::compact_parquet). Column pruning and filter
    pushdown still apply to the merged schema.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)
