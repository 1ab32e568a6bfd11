"""Training-shard export sink: manifest integrity, shard order,
determinism (sinks/export.py)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from omfietser_etl_spark.session import load
from omfietser_etl_spark.sinks.export import (
    read_manifest,
    read_training_shard,
    write_training_shards,
)
from omfietser_etl_spark.textops.analysis import ws_token_count

from .conftest import SF_SMOKE

N_SHARDS = 4


def _docs(spark):
    return load(spark, SF_SMOKE, "documents").select(
        F.col("doc_id").alias("doc"),
        "text",
        ws_token_count("text").alias("n_tok"),
    )


def test_export_manifest_matches_data(spark, tmp_path):
    docs = _docs(spark)
    out = str(tmp_path / "export")
    manifest = write_training_shards(
        docs, out, "doc", N_SHARDS, token_count_col="n_tok"
    )

    assert manifest == read_manifest(out)
    assert set(manifest["shards"]) == {str(i) for i in range(N_SHARDS)}
    assert manifest["total_rows"] == docs.count()
    assert manifest["total_tokens"] == docs.agg(F.sum("n_tok")).first()[0]

    # every shard dir holds ONE file whose row count matches the manifest
    for s in range(N_SHARDS):
        # shards live under v_N/data so the non-destructive parquet
        # write can never delete the os.mkdir-claimed version dir
        files = glob.glob(f"{out}/v_00000001/data/shard={s}/*.parquet")
        assert len(files) == 1, files
        got = read_training_shard(spark, out, s)
        assert got.count() == manifest["shards"][str(s)]["rows"]
        # position-ordered and gap-free: the dataloader contract
        poses = [r.pos for r in got.select("pos").collect()]
        assert poses == list(range(1, len(poses) + 1))


def test_export_is_deterministic(spark, tmp_path):
    docs = _docs(spark)
    m1 = write_training_shards(docs, str(tmp_path / "a"), "doc", N_SHARDS)
    m2 = write_training_shards(docs, str(tmp_path / "b"), "doc", N_SHARDS)
    assert m1 == m2
    # a different salt is a different epoch: same totals, new order
    m3 = write_training_shards(docs, str(tmp_path / "c"), "doc", N_SHARDS, salt="ep2")
    assert m3["total_rows"] == m1["total_rows"]
    docs_a = {r.doc for r in read_training_shard(spark, str(tmp_path / "a"), 0).collect()}
    docs_c = {r.doc for r in read_training_shard(spark, str(tmp_path / "c"), 0).collect()}
    assert docs_a != docs_c  # shard membership moved with the salt


def test_tp3_capstone_train_export(spark, tmp_path):
    """K11 leg of the tp3 capstone (round-12 verdict item 5): the
    pipeline's final kept train split exports through the
    training-shard sink, and the committed manifest's totals must
    equal the pipeline's own disposition accounting (rows + token
    mass) — the contract a dataloader reads."""
    from omfietser_etl_spark import cacheutil
    from omfietser_etl_spark.catalog.trainprep import tp3_full_corpus_prep

    disp = tp3_full_corpus_prep(spark, SF_SMOKE).persist()
    try:
        train = disp.filter("disposition = 'kept' AND split = 'train'").select(
            "doc", "n_tok"
        )
        n, tok = train.agg(F.count("*"), F.sum("n_tok")).first()
        assert n > 0, "capstone train split must be non-vacuous at smoke scale"
        out = str(tmp_path / "tp3_export")
        manifest = write_training_shards(
            train, out, "doc", N_SHARDS, token_count_col="n_tok"
        )
        assert manifest == read_manifest(out)
        assert manifest["total_rows"] == n
        assert manifest["total_tokens"] == tok
    finally:
        disp.unpersist()
        cacheutil.release_all()


def test_read_manifest_ignores_incomplete(tmp_path):
    with pytest.raises(FileNotFoundError):
        read_manifest(str(tmp_path / "nope"))
    # a version dir without a committed _CURRENT pointer is invisible
    (tmp_path / "dangling" / "v_00000001").mkdir(parents=True)
    with pytest.raises(FileNotFoundError):
        read_manifest(str(tmp_path / "dangling"))


def test_reexport_versions_and_flips_pointer(spark, tmp_path):
    """Re-exporting to the same path never deletes the export a
    concurrent reader is resolving: each write lands in a fresh v_<n>
    dir and _CURRENT flips atomically after the manifest commits."""
    docs = _docs(spark)
    out = str(tmp_path / "export")
    m1 = write_training_shards(docs, out, "doc", N_SHARDS)
    assert m1["version"] == 1
    assert (tmp_path / "export" / "_CURRENT").read_text() == "v_00000001"

    m2 = write_training_shards(docs, out, "doc", N_SHARDS, salt="ep2")
    assert m2["version"] == 2
    assert (tmp_path / "export" / "_CURRENT").read_text() == "v_00000002"
    # previous version retained for in-flight readers (keep_versions=2)
    assert (tmp_path / "export" / "v_00000001" / "_MANIFEST.json").exists()
    assert read_manifest(out) == m2

    m3 = write_training_shards(docs, out, "doc", N_SHARDS, salt="ep3")
    assert m3["version"] == 3
    # oldest pruned, previous kept
    assert not (tmp_path / "export" / "v_00000001").exists()
    assert (tmp_path / "export" / "v_00000002").exists()


def test_export_version_claim_is_exclusive(spark, tmp_path):
    """A pre-existing (even empty/dangling) version dir can't be
    reused: the writer claims v_N via os.mkdir and skips to the next
    free number — two concurrent writers can never collide (round-4
    advisor finding)."""
    import os

    from omfietser_etl_spark.sinks.export import write_training_shards

    path = str(tmp_path / "exp")
    df = spark.range(20).selectExpr("id", "cast(id as string) as doc_id")
    m1 = write_training_shards(df, path, "doc_id", n_shards=2)
    # simulate a concurrent writer having claimed the next slot
    os.mkdir(os.path.join(path, f"v_{m1['version'] + 1:08d}"))
    m2 = write_training_shards(df, path, "doc_id", n_shards=2)
    assert m2["version"] == m1["version"] + 2  # skipped the claimed slot


def test_dsir_selection_feeds_shard_export(spark, tmp_path):
    """Integration: importance-select a corpus slice, export the kept
    docs as training shards — manifest counts match the selection."""
    from omfietser_etl_spark.sinks.export import read_manifest, write_training_shards
    from omfietser_etl_spark.textops.selection import dsir_select

    rows = [(i, f"common words plus t{i % 5}", i % 3 == 0) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    sel = dsir_select(docs, "doc_id", "text", "is_t").filter("selected")
    kept = sel.count()
    assert kept == 10  # ceil(40/4)

    path = str(tmp_path / "dsir_shards")
    m = write_training_shards(
        sel.selectExpr("CAST(doc AS string) AS doc_id"), path, "doc_id", n_shards=2
    )
    assert m["total_rows"] == kept
    assert read_manifest(path)["total_rows"] == kept


def test_retention_counts_only_committed_versions(spark, tmp_path):
    """A crashed writer's dangling claim must NOT push the previous
    committed export out of the retention window, and must never be
    deleted itself (a slower concurrent writer may still be filling
    it) — review round-6 finding."""
    import os

    path = str(tmp_path / "exp")
    df = spark.range(20).selectExpr("id", "cast(id as string) as doc_id")
    m1 = write_training_shards(df, path, "doc_id", n_shards=2)
    # dangling claim between the two committed versions
    dangling = os.path.join(path, f"v_{m1['version'] + 1:08d}")
    os.mkdir(dangling)
    m2 = write_training_shards(df, path, "doc_id", n_shards=2)
    # committed versions are [1, 3]; keep_versions=2 keeps BOTH — the
    # dangling v2 must not have evicted committed v1, and must survive
    assert (tmp_path / "exp" / f"v_{m1['version']:08d}" / "_MANIFEST.json").exists()
    assert os.path.isdir(dangling)
    m3 = write_training_shards(df, path, "doc_id", n_shards=2)
    # now committed [1, 3, 4] → v1 pruned, v3 kept, dangling v2 still intact
    assert not (tmp_path / "exp" / f"v_{m1['version']:08d}").exists()
    assert (tmp_path / "exp" / f"v_{m2['version']:08d}").exists()
    assert os.path.isdir(dangling)
    assert m3["version"] == m2["version"] + 1


def _race_writer(args):
    """Module-level worker (picklable): claim + commit ``n`` versions
    against a shared export root, exactly the write_training_shards
    commit order (per-version manifest, then the _CURRENT flip)."""
    import json
    import os

    from omfietser_etl_spark.sinks.export import (
        CURRENT_NAME,
        MANIFEST_NAME,
        claim_version,
    )
    from omfietser_etl_spark.streaming.incremental import atomic_write

    path, n, tag = args
    claimed = []
    for i in range(n):
        v, vdir = claim_version(path)
        atomic_write(
            os.path.join(vdir, MANIFEST_NAME),
            json.dumps({"writer": tag, "seq": i, "version": v}),
        )
        atomic_write(os.path.join(path, CURRENT_NAME), os.path.basename(vdir))
        claimed.append(v)
    return tag, claimed


def _crashing_writer(args):
    """Module-level worker (picklable): claim the next version, run the
    commit protocol up to ``die_after`` steps, then hard-exit like a
    killed process (no cleanup, no atexit — the claim dir stays)."""
    import json
    import os

    from omfietser_etl_spark.sinks.export import MANIFEST_NAME, claim_version
    from omfietser_etl_spark.streaming.incremental import atomic_write

    path, die_after = args
    v, vdir = claim_version(path)
    if die_after >= 1:  # data+manifest written, _CURRENT flip never reached
        atomic_write(
            os.path.join(vdir, MANIFEST_NAME),
            json.dumps({"writer": "crash", "version": v}),
        )
    os._exit(1)


def test_crash_between_claim_and_current_flip(spark, tmp_path):
    """Round-7 verdict item 4: a writer that dies after claiming v_N
    (with or without having committed its manifest) must leave readers
    resolving the PREVIOUS _CURRENT, and a subsequent writer must not
    reuse v_N. The dead writer is a real forked process that os._exit()s
    mid-protocol."""
    import multiprocessing as mp
    import os

    path = str(tmp_path / "exp")
    df = spark.range(20).selectExpr("id", "cast(id as string) as doc_id")
    m1 = write_training_shards(df, path, "doc_id", n_shards=2)
    ctx = mp.get_context("fork")

    # Case A: dies right after the os.mkdir claim — bare v_2, no manifest.
    p = ctx.Process(target=_crashing_writer, args=((path, 0),))
    p.start(); p.join()
    assert p.exitcode == 1
    v2 = os.path.join(path, f"v_{m1['version'] + 1:08d}")
    assert os.path.isdir(v2) and not os.listdir(v2)  # dangling claim left behind
    assert read_manifest(path) == m1  # readers still resolve v_1

    # Case B: dies after committing its manifest but BEFORE the flip —
    # the orphan is never visible through _CURRENT.
    p = ctx.Process(target=_crashing_writer, args=((path, 1),))
    p.start(); p.join()
    assert p.exitcode == 1
    assert read_manifest(path) == m1  # _CURRENT untouched by the orphan

    # A subsequent healthy writer skips BOTH dead claims (never reuses
    # v_N) and flips _CURRENT past the orphans.
    m4 = write_training_shards(df, path, "doc_id", n_shards=2)
    assert m4["version"] == m1["version"] + 3
    assert (tmp_path / "exp" / "_CURRENT").read_text() == f"v_{m4['version']:08d}"
    assert read_manifest(path) == m4
    # the bare dangling claim survives (operator-reclaimed only); the
    # orphaned-manifest dir counts as committed for retention, which is
    # safe because pruning runs only after the new flip
    assert os.path.isdir(v2)


def test_concurrent_writers_claim_distinct_versions(tmp_path):
    """Two-writer race on the REAL filesystem across OS processes (the
    round-6 verdict item): every claimed v_N is globally unique, no
    writer's manifest is overwritten by the other, and _CURRENT ends
    pointing at a committed dir — the os.mkdir claim + atomic-rename
    flip survive genuine concurrency, not just single-process reruns."""
    import json
    import multiprocessing as mp
    import os

    from omfietser_etl_spark.sinks.export import (
        CURRENT_NAME,
        MANIFEST_NAME,
        _versions,
    )

    path = str(tmp_path / "race")
    n_per = 25
    ctx = mp.get_context("fork")
    with ctx.Pool(2) as pool:
        results = pool.map(
            _race_writer, [(path, n_per, "a"), (path, n_per, "b")]
        )

    all_claims = [v for _, claims in results for v in claims]
    assert len(all_claims) == 2 * n_per
    assert len(set(all_claims)) == 2 * n_per  # no shared v_N, ever
    assert sorted(all_claims) == _versions(path)

    # every version dir carries exactly the manifest its winner wrote
    by_writer = {tag: claims for tag, claims in results}
    for tag, claims in by_writer.items():
        for seq, v in enumerate(claims):
            m = json.load(open(os.path.join(path, f"v_{v:08d}", MANIFEST_NAME)))
            assert m == {"writer": tag, "seq": seq, "version": v}

    # _CURRENT points at one of the two final flips, and that dir is
    # committed (manifest present)
    cur = open(os.path.join(path, CURRENT_NAME)).read().strip()
    finals = {f"v_{claims[-1]:08d}" for claims in by_writer.values()}
    assert cur in finals
    assert os.path.isfile(os.path.join(path, cur, MANIFEST_NAME))
