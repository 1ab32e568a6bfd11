"""Training-shard export sink: the last hop of the text-to-tensor
chain (ts5 shuffle → ts6 tokenize → HERE → dataloader).

A training run does not read a lake table; it reads N shard files in
a fixed order, and the loader contract is (a) shard assignment and
intra-shard order are reproducible (epoch = salt), (b) a manifest
says exactly how many rows/tokens each shard holds so the loader can
plan steps-per-epoch WITHOUT scanning data, (c) a half-written export
is never mistaken for a complete one.

Scale shape: `shuffle_order` is one shuffle keyed on shard + an
intra-shard sort (no global sort); the write is
`repartition(shard) → sortWithinPartitions → partitionBy(shard)` so
every shard directory holds position-ordered rows. The manifest agg
reads back the files just written (shard-cardinality-sized result),
so it describes the actual bytes on disk — never a recomputation of
the input lineage that could silently diverge from them.

Atomicity: every export lands in a fresh ``v_<n>`` subdirectory and
a root-level ``_CURRENT`` pointer flips to it with write-tmp + fsync
+ atomic rename (`streaming/incremental.py::atomic_write`, the parquet
state store's commit primitive). Concurrent readers resolving through
``_CURRENT`` see either the previous complete export or the new one;
a version directory without a committed pointer is invisible. The
previous version is retained for in-flight readers; older ones are
pruned.

Mirrors the reference's completion-flag epilogue
(`src/api/services/job-manager.ts:278-348` writes progress/complete
JSON after the batch) — generalized to a loader-consumable manifest.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..streaming.incremental import atomic_write
from ..textops.sampling import shuffle_order

MANIFEST_NAME = "_MANIFEST.json"
CURRENT_NAME = "_CURRENT"
_VERSION_RE = re.compile(r"^v_(\d{8})$")


def _versions(path: str) -> list[int]:
    try:
        names = os.listdir(path)
    except FileNotFoundError:
        return []
    return sorted(
        int(m.group(1)) for n in names if (m := _VERSION_RE.match(n))
    )


def claim_version(path: str) -> tuple[int, str]:
    """Atomically claim the next free version directory under ``path``
    and return (version, vdir). os.mkdir either wins or raises
    FileExistsError, so two concurrent writers (processes, not just
    threads) can never claim the same v_N, overwrite each other's
    parquet, or race the ``_CURRENT`` flip — the loser claims the next
    number. Raced for real in
    tests/test_export.py::test_concurrent_writers_claim_distinct_versions."""
    os.makedirs(path, exist_ok=True)
    version = (_versions(path) or [0])[-1] + 1
    while True:
        vdir = os.path.join(path, f"v_{version:08d}")
        try:
            os.mkdir(vdir)
            return version, vdir
        except FileExistsError:
            version += 1


def _current_dir(path: str) -> str:
    """Resolve the committed version dir; FileNotFoundError if no
    export was ever committed (a dangling version dir never counts)."""
    with open(os.path.join(path, CURRENT_NAME)) as f:
        return os.path.join(path, f.read().strip())


def write_training_shards(
    df: DataFrame,
    path: str,
    id_col: str,
    n_shards: int = 8,
    salt: str = "shuffle",
    token_count_col: str | None = None,
    keep_versions: int = 2,
) -> dict:
    """Export ``df`` as ``n_shards`` position-ordered shard dirs under
    a fresh version subdirectory, then atomically flip ``_CURRENT``.
    Returns the manifest dict.

    ``token_count_col``: optional precomputed per-row token count —
    included per shard so the dataloader can budget tokens, not just
    rows, without reading data.
    """
    spark = df.sparkSession
    # Claim the version dir atomically (see claim_version: the flip
    # itself is an atomic rename; last committed flip wins).
    version, vdir = claim_version(path)
    vname = os.path.basename(vdir)

    # Shards land in vdir/data with the NON-destructive default write
    # mode: an overwrite write straight into vdir would first delete
    # the directory os.mkdir just claimed, reopening the window where
    # a concurrent writer re-claims the same v_N (round-5 advisor
    # finding). The claim dir itself is never removed or recreated.
    ordered = shuffle_order(df, id_col, n_shards, salt)
    ddir = os.path.join(vdir, "data")
    (
        ordered.repartition(n_shards, F.col("shard"))
        .sortWithinPartitions("shard", "pos")
        .write.mode("errorifexists")
        .partitionBy("shard")
        .parquet(ddir)
    )

    # Manifest counts come from the files just written — the manifest
    # must describe what the loader will read, not what the input
    # lineage would produce if recomputed (nondeterministic upstream
    # stages / changed source files would silently diverge).
    aggs = [F.count("*").alias("rows")]
    if token_count_col is not None:
        aggs.append(F.sum(F.col(token_count_col)).cast("long").alias("tokens"))
    per_shard = spark.read.parquet(ddir).groupBy("shard").agg(*aggs).collect()

    empty = {"rows": 0, **({"tokens": 0} if token_count_col is not None else {})}
    shards = {str(s): dict(empty) for s in range(n_shards)}
    for r in per_shard:
        entry = {"rows": r["rows"]}
        if token_count_col is not None:
            entry["tokens"] = r["tokens"]
        shards[str(r["shard"])] = entry
    manifest = {
        "format": "parquet",
        "version": version,
        "n_shards": n_shards,
        "salt": salt,
        "id_col": id_col,
        "total_rows": sum(e["rows"] for e in shards.values()),
        "shards": shards,
    }
    if token_count_col is not None:
        manifest["total_tokens"] = sum(e["tokens"] for e in shards.values())

    atomic_write(os.path.join(vdir, MANIFEST_NAME), json.dumps(manifest, sort_keys=True))
    atomic_write(os.path.join(path, CURRENT_NAME), vname)

    # Retention: current + (keep_versions - 1) predecessors survive so
    # readers mid-flight on the previous export finish cleanly.
    # Only COMMITTED versions (manifest present) count toward the
    # window and only committed ones are pruned: counting raw dirs
    # would let a crashed writer's dangling claim push the previous
    # committed export out of the window, and pruning dangling dirs
    # could delete a slower concurrent writer's in-flight claim (it
    # would later flip _CURRENT to a gutted dir). Dangling claims are
    # left in place — they are unreferenced, empty-ish, and reclaimed
    # only by operator action, never silently (review round-6
    # finding).
    committed = [
        v for v in _versions(path)
        if os.path.isfile(os.path.join(path, f"v_{v:08d}", MANIFEST_NAME))
    ]
    for old in committed[: -max(1, keep_versions)]:
        shutil.rmtree(os.path.join(path, f"v_{old:08d}"), ignore_errors=True)
    return manifest


def read_manifest(path: str) -> dict:
    """Load the committed export manifest; raises FileNotFoundError
    for an absent/uncommitted export (version dirs the ``_CURRENT``
    pointer never flipped to do not count)."""
    with open(os.path.join(_current_dir(path), MANIFEST_NAME)) as f:
        return json.load(f)


def read_training_shard(spark: SparkSession, path: str, shard: int) -> DataFrame:
    """One shard of the committed export, position-ordered — what a
    dataloader worker reads.

    The shard dir holds a single sorted file (the export coalesced per
    shard), so parquet row order IS position order; the sort here is a
    cheap in-memory guard in case a future writer splits files.
    """
    return spark.read.parquet(
        os.path.join(_current_dir(path), "data", f"shard={shard}")
    ).sortWithinPartitions("pos")
