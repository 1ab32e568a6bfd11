"""Physical-plan assertions for the scale-critical queries: these
lock in the plans the 100 TB posture depends on (pushdown reaches the
scan, small dims broadcast, top-k never globally sorts) so a refactor
that silently regresses one fails CI, not the cluster."""

from __future__ import annotations

from omfietser_etl_spark.catalog.relational import (
    j1_broadcast_enrich,
    j5_multiway_revenue,
    o1_pagination,
    s1_scan_pushdown,
)
from omfietser_etl_spark.catalog.inferencespec import x2_online_inference
from omfietser_etl_spark.catalog.textops import td5_embed_neardup

from .conftest import SF_SMOKE


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_and_projection_reach_parquet_scan(spark):
    plan = _plan(s1_scan_pushdown(spark, SF_SMOKE))
    assert "PushedFilters: [" in plan and "l_discount" in plan.split("PushedFilters")[1][:200]
    # column pruning: only the 4 referenced columns are read
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_comment" not in read_schema and "l_partkey" not in read_schema


def test_dim_joins_are_broadcast(spark):
    import re

    plan = _plan(j1_broadcast_enrich(spark, SF_SMOKE))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert nodes.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in nodes

    plan5 = _plan(j5_multiway_revenue(spark, SF_SMOKE))
    nodes5 = re.findall(r"^\(\d+\) (\w+)", plan5, re.M)
    # nation + region broadcast; the fact-fact joins may be SMJ/AQE
    assert nodes5.count("BroadcastHashJoin") >= 2


def test_d2_unit_lookup_is_broadcast_and_fact_side_never_shuffles(spark):
    """The distinct-then-join D2 plan: the unit-resolution lookup
    broadcasts; the only Exchange feeds the tiny distinct-units
    aggregate, never the fact side."""
    import re

    from omfietser_etl_spark.catalog.derived import d2_quantity_standardize

    plan = _plan(d2_quantity_standardize(spark, SF_SMOKE))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert "BroadcastHashJoin" in nodes
    assert "SortMergeJoin" not in nodes
    # the ONLY hash-partitioned exchange is the tiny distinct-units
    # aggregate; remaining exchanges are the CPU-fanout round-robins
    # and the broadcast itself. A fact-side join shuffle would add a
    # second hashpartitioning.
    assert plan.count("hashpartitioning(") == 1


def test_td12_hot_shingle_drop_is_broadcast_anti_join(spark):
    """The degenerate-shingle guard must be a broadcast anti-join (the
    hot set is tiny by construction) — a shuffled anti-join would put
    the full shingle table through an extra exchange."""
    from omfietser_etl_spark.catalog.textops import td12_jaccard_guarded

    plan = _plan(td12_jaccard_guarded(spark, SF_SMOKE))
    assert "LeftAnti" in plan
    bhj_anti = [
        seg for seg in plan.split("BroadcastHashJoin")[1:] if "LeftAnti" in seg[:200]
    ]
    assert bhj_anti, "hot-shingle anti-join is not broadcast:\n" + plan[:2000]


def test_pagination_is_top_k_not_global_sort(spark):
    plan = _plan(o1_pagination(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_td5_has_no_driver_collect_shape(spark):
    # executor-side block-pair join: one FlatMapGroupsInPandas over the
    # exploded block pairs; no broadcast of vector matrices
    plan = _plan(td5_embed_neardup(spark, SF_SMOKE))
    assert "FlatMapGroupsInPandas" in plan
    assert "Generate" in plan and "explode" in plan


def test_x2_inference_is_arrow_batched(spark):
    plan = _plan(x2_online_inference(spark, SF_SMOKE))
    assert "MapInPandas" in plan


def _exchanges(plan: str) -> int:
    import re

    return len(re.findall(r"^\(\d+\) Exchange", plan, re.M))


def test_percentile_bands_use_one_exchange(spark):
    # every percentile rides the single group-key sort-shuffle; a
    # refactor that adds a per-percentile pass breaks this
    from omfietser_etl_spark.catalog.relational import a15_percentile_bands

    plan = _plan(a15_percentile_bands(spark, SF_SMOKE))
    assert _exchanges(plan) == 1
    assert "Window" in plan


def test_scd2_windows_share_one_shuffle(spark):
    from omfietser_etl_spark.catalog.streaming import h1_scd2_history

    plan = _plan(h1_scd2_history(spark, SF_SMOKE))
    # all three windows (boundary lag, row_number/count, lead chain)
    # partition by the same key -> exactly one hash exchange
    assert _exchanges(plan) == 1


def test_skew_report_is_top_k_not_global_sort(spark):
    from omfietser_etl_spark.catalog.opsspec import x7_skew_report

    plan = _plan(x7_skew_report(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_td9_eval_side_is_broadcast(spark):
    # decontamination: the benchmark shingle set broadcasts; the
    # training corpus must never shuffle for the overlap join
    from omfietser_etl_spark.catalog.textops import td9_contamination

    plan = _plan(td9_contamination(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_td8_codebook_is_broadcast(spark):
    # k-means assignment: codebook broadcast nested-loop; corpus-side
    # has no Exchange before the assignment join
    from omfietser_etl_spark.catalog.textops import td8_kmeans_assign

    plan = _plan(td8_kmeans_assign(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan


def test_td10_quantize_is_shuffle_free(spark):
    from omfietser_etl_spark.catalog.textops import td10_quantize

    plan = _plan(td10_quantize(spark, SF_SMOKE))
    assert _exchanges(plan) == 0


def test_tv1_top_terms_is_top_k_not_global_sort(spark):
    from omfietser_etl_spark.catalog.textops import tv1_top_terms

    plan = _plan(tv1_top_terms(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_tp1_reads_source_twice_only(spark):
    # corpus + eval scans; every screen reuses the persisted frames.
    # 8 source scans without the fan-out persists.
    from omfietser_etl_spark.catalog.trainprep import tp1_prepare_corpus

    plan = _plan(tp1_prepare_corpus(spark, SF_SMOKE))
    assert plan.count("documents.parquet") <= 3
    assert "InMemoryTableScan" in plan


def test_o9_keyset_page_is_top_k_with_pushed_cursor(spark):
    # keyset pagination: cursor predicate reaches the scan, page is
    # TakeOrderedAndProject — cost O(page) however deep the cursor
    from omfietser_etl_spark.catalog.relational import o9_keyset_pagination

    plan = _plan(o9_keyset_pagination(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "PushedFilters" in plan and "o_totalprice" in plan.split("PushedFilters")[1][:300]


def test_td14_gram_join_is_equi_never_nested_loop(spark):
    """Substring dedup's duplicated-gram lookup and coverage anti-join
    must stay hash/sort equi-joins — a nested-loop there is O(N²) on
    the gram table at corpus scale."""
    from omfietser_etl_spark.catalog.textops import td14_substring_dedup

    plan = _plan(td14_substring_dedup(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ts8_rate_join_is_broadcast_and_corpus_never_shuffles(spark):
    """Temperature rebalancing: the k-row rate table broadcasts; the
    only exchanges are the tiny group-count/summary aggregations —
    the corpus side reaches its filter without a shuffle."""
    import re

    from omfietser_etl_spark.catalog.trainprep import ts8_temperature_rebalance

    plan = _plan(ts8_temperature_rebalance(spark, SF_SMOKE))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert "BroadcastHashJoin" in nodes
    assert "SortMergeJoin" not in nodes


def test_a20_window_suite_is_one_pass(spark):
    """All six window functions share one window spec → exactly one
    Window operator over exactly one sort-shuffle."""
    import re

    from omfietser_etl_spark.catalog.relational import a20_window_suite

    plan = _plan(a20_window_suite(spark, SF_SMOKE))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert nodes.count("Window") == 1
    assert _exchanges(plan) == 1


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Big×big joins that cannot broadcast still avoid shuffling
    unmatchable rows: with runtime bloom filters enabled, the
    selective side's keys become a might_contain() predicate on the
    fact scan. Locks the conf recipe in operators/joins.py."""
    from pyspark.sql import functions as F

    from omfietser_etl_spark.operators.joins import enable_runtime_bloom_filters
    from omfietser_etl_spark.session import load

    mutated = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.enabled",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
    ]
    saved = {c: spark.conf.get(c, None) for c in mutated}
    enable_runtime_bloom_filters(spark)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ
    try:
        li = load(spark, SF_SMOKE, "lineitem")
        o = load(spark, SF_SMOKE, "orders").filter(F.col("o_orderstatus") == "P")
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = _plan(j)
        assert "might_contain" in plan
    finally:
        # restore every mutated conf to its pre-test value so other
        # plan-shape tests in the shared session stay order-independent
        for conf, val in saved.items():
            if val is None:
                spark.conf.unset(conf)
            else:
                spark.conf.set(conf, val)


def test_cms_estimate_broadcasts_the_sketch(spark):
    """The sketch (≤ d·w cells) must reach candidates as a broadcast
    — shuffling the corpus-side lookup against a 40k-row table would
    be backwards at 100 TB."""
    import re

    from omfietser_etl_spark.catalog.textops import tv3_cms_heavy_hitters

    plan = _plan(tv3_cms_heavy_hitters(spark, SF_SMOKE))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert "BroadcastHashJoin" in nodes


def test_rh_lsh_candidate_join_is_hash_equi_join(spark):
    """The (band, key) candidate join must plan as a hash/merge EQUI
    join — a nested-loop here would be the all-pairs scan LSH exists
    to avoid."""
    from omfietser_etl_spark.catalog.textops import td16_rh_lsh_pairs

    plan = _plan(td16_rh_lsh_pairs(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ts12_token_budget_plan_shape(spark):
    """Token-budget realization: the k-row allocation reaches the
    corpus as a broadcast — never a sort-merge join (the allocation
    side's own single-partition windows run on the k-row frame only,
    so they are allowed)."""
    import re

    from omfietser_etl_spark.catalog.trainprep import ts12_token_unimax_realized

    plan = _plan(ts12_token_unimax_realized(spark, SF_SMOKE))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert "BroadcastHashJoin" in nodes
    assert "SortMergeJoin" not in nodes


def test_td17_band_join_is_equi_and_excludes_nested_loop(spark):
    """Incremental dedup: the new∪state band join must stay a hash
    equi-join; a nested loop would defeat the O(batch) contract."""
    from omfietser_etl_spark.catalog.textops import td17_incremental_dedup

    plan = _plan(td17_incremental_dedup(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_td18_bloom_probe_is_broadcast(spark):
    """Bloom decontamination: the filter (≤ m rows) must reach the
    probe as a broadcast — shuffling the corpus shingles against a
    fixed-size bitset would be backwards."""
    from omfietser_etl_spark.catalog.textops import td18_bloom_decontam

    plan = _plan(td18_bloom_decontam(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_ta8_model_joins_are_equi(spark):
    """Bigram fluency: both model joins (c2 on (w1,w2), c1 on w1)
    must be hash/sort equi-joins over the bigram stream."""
    from omfietser_etl_spark.catalog.textops import ta8_bigram_fluency

    plan = _plan(ta8_bigram_fluency(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_winnowing_pair_join_is_equi_no_cartesian(spark):
    """td19's candidate generation must be a fingerprint-keyed equi
    join (shuffle key = 8-byte fp), never a cartesian/BNL product."""
    import re

    from omfietser_etl_spark.textops.dedup import winnowing_pairs
    from omfietser_etl_spark.session import load

    df = winnowing_pairs(load(spark, SF_SMOKE, "documents"), "doc_id", "text")
    plan = _plan(df)
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert "CartesianProduct" not in nodes
    assert "BroadcastNestedLoopJoin" not in nodes
    assert any("Join" in n for n in nodes)  # the fp equi-join is there


def test_dsir_lambda_join_is_broadcast(spark):
    """ts15's λ table is a tiny driver-built frame — it must
    broadcast, never sort-merge against the corpus-side counts. ta10
    went one better (the ilog2 lookup join was replaced by the
    engine-side `ilog2_q_expr` expression): its plan must stay
    join-FREE — a reappearing join would mean the lookup regressed."""
    import re

    from omfietser_etl_spark.catalog.textops import (
        ta10_char_entropy,
        ts15_dsir_select,
    )

    plan = _plan(ts15_dsir_select(spark, SF_SMOKE))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert "BroadcastHashJoin" in nodes, "ts15_dsir_select"
    assert "CartesianProduct" not in nodes
    assert "BroadcastNestedLoopJoin" not in nodes

    plan = _plan(ta10_char_entropy(spark, SF_SMOKE))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert not any("Join" in n for n in nodes), "ta10 must stay join-free"


def test_global_ranks_never_single_partition(spark):
    """ts13/ts15/ts16 rank exactly but NEVER through a partition-less
    window: a `row_number() OVER (ORDER BY ...)` with no PARTITION BY
    plans as Exchange SinglePartition + one-task WindowExec — the
    last 'would not survive 100x' shape the round-5 verdict flagged.
    distributed_rank (range repartition + per-partition local rank +
    bounded offset collect) must leave ZERO SinglePartition exchanges
    anywhere in the final plan."""
    import re

    from omfietser_etl_spark.catalog.textops import (
        ts15_dsir_select,
        ts16_dsir_threshold,
    )
    from omfietser_etl_spark.catalog.trainprep import ts13_token_balanced_shards

    for build in (ts13_token_balanced_shards, ts15_dsir_select,
                  ts16_dsir_threshold):
        plan = _plan(build(spark, SF_SMOKE))
        assert "SinglePartition" not in plan, build.__name__
        nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
        if build is ts16_dsir_threshold:
            # ts16's boundary band is classified via a collected
            # boundary ROW (one scan, zero windows) — assert the
            # improved shape stays window-free rather than demanding
            # the rank window the rewrite removed.
            assert "Window" not in nodes, build.__name__
        else:
            # the rank window is still there (exactness), just
            # partitioned
            assert "Window" in nodes, build.__name__


def test_pq_adc_scan_is_broadcast_only(spark):
    """td20's search side must be: codes table (the only corpus
    shuffle is the encode's N-row partial-agg exchange) scanned
    map-side against BROADCAST LUT/codebook frames — never a
    sort-merge join or an unconditioned cartesian over the corpus."""
    import re

    from omfietser_etl_spark.catalog.textops import td20_pq_adc_topk

    plan = _plan(td20_pq_adc_topk(spark, SF_SMOKE))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert "CartesianProduct" not in nodes
    assert "SortMergeJoin" not in nodes
    # the vid != qid LUT fan-out is a broadcast nested loop by design
    # (bounded |Q| side broadcast), and the codebook joins broadcast
    assert "BroadcastNestedLoopJoin" in nodes


def test_bpe_encode_segmentation_is_broadcast(spark):
    """tk1's distinct-word segmentation table is model-sized — it
    must broadcast back onto the corpus token stream, never
    sort-merge; the segmentation itself is codegen string ops (no
    fold, no shuffle on the corpus side beyond the doc reassembly)."""
    import re

    from omfietser_etl_spark.catalog.trainprep import tk1_bpe_encode

    plan = _plan(tk1_bpe_encode(spark, SF_SMOKE))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert "BroadcastHashJoin" in nodes
    assert "SortMergeJoin" not in nodes
    assert "CartesianProduct" not in nodes


def test_ivfpq_search_has_no_corpus_sortmerge(spark):
    """td21: the probe and LUT joins against the code table must be
    broadcast (probes and LUT are bounded |Q|-sized frames); the only
    corpus exchange is the index build's partial-agg groupBy."""
    import re

    from omfietser_etl_spark.catalog.textops import td21_ivfpq_topk

    plan = _plan(td21_ivfpq_topk(spark, SF_SMOKE))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert "SortMergeJoin" not in nodes
    assert "CartesianProduct" not in nodes
    assert "BroadcastHashJoin" in nodes


def test_pq_rerank_fetch_is_broadcast(spark):
    """td22: both the shortlist fetch against the full-precision
    table and the query-vector join must be broadcast — the corpus
    never shuffles for the re-rank stage."""
    import re

    from omfietser_etl_spark.catalog.textops import td22_pq_rerank

    plan = _plan(td22_pq_rerank(spark, SF_SMOKE))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert "SortMergeJoin" not in nodes
    assert "CartesianProduct" not in nodes
    assert "BroadcastHashJoin" in nodes


def test_cluster_assignment_has_no_window_exchange(spark):
    """Nearest-centroid assignment (td7/td8/td13/td21/ts17) must never
    rank the N×C joined frame with a row_number window, which would
    shuffle AND sort all N×C rows. ``assign_clusters`` is a groupBy
    argmin whose partial aggregation collapses the joined frame
    map-side, so the exchange carries N rows; ``ivf_assign`` scores
    each Arrow batch against the shipped codebook in one MapInPandas,
    with no join or exchange at all."""
    import re

    from pyspark.sql import functions as F

    from omfietser_etl_spark.session import load
    from omfietser_etl_spark.textops.clustering import assign_clusters
    from omfietser_etl_spark.textops.similarity import ivf_assign

    emb = load(spark, SF_SMOKE, "embeddings")
    cent = emb.limit(8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))

    plan = _plan(assign_clusters(emb, cent, "vec_id", "embedding", "cid", "cv"))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert "Window" not in nodes
    # min(struct(..., array)) plans as SortAggregate (struct with an
    # array field has no mutable hash buffer); the property under
    # test is the MAP-SIDE partial min before the vid exchange.
    assert "partial_min" in plan
    assert "SortMergeJoin" not in nodes

    plan = _plan(ivf_assign(emb, emb.filter(F.col("vec_id") % 25 == 0),
                            "vec_id", "embedding"))
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert "MapInPandas" in nodes
    for node in ("Window", "Exchange", "SortMergeJoin"):
        assert node not in nodes


def _plan_blocks(plan: str) -> dict[int, tuple[str, str]]:
    """Parse a formatted explain into {node_id: (node_name, detail_body)}.

    Node ids are post-order (leaf = 1), so a single-child node N has
    its child at N-1 — which is exactly what the SinglePartition
    audit needs (an Exchange always has one child)."""
    import re

    detail = plan.split("== Physical Plan ==")[-1]
    parts = re.split(r"\n\((\d+)\) ", "\n" + detail)
    blocks: dict[int, tuple[str, str]] = {}
    for i in range(1, len(parts) - 1, 2):
        body = parts[i + 1]
        name = body.split("\n", 1)[0].split("[", 1)[0].strip()
        blocks[int(parts[i])] = (name, body)
    return blocks


def _single_partition_offenders(plan: str) -> list[str]:
    """Full-data single-partition exchanges in a formatted plan.

    Spark 4.1 prints the shape as a bare `Exchange` node with
    `Arguments: SinglePartition, ...` (the literal string
    `Exchange SinglePartition` that older audits grepped for never
    appears — which made a count()-based assertion vacuous). Parse
    the node blocks instead and flag every SinglePartition exchange
    whose child is NOT one of the two bounded-input shapes:

    - a partial global aggregate (HashAggregate / SortAggregate /
      ObjectHashAggregate computing `partial_*` with no keys) — the
      exchange carries one row per upstream partition, never data;
    - a LocalLimit — the exchange carries ≤ limit rows per partition.

    Anything else (a Window / Sort / Project / scan feeding a
    SinglePartition exchange) funnels the full dataset through one
    task — the wall no cluster size fixes."""
    offenders = []
    blocks = _plan_blocks(plan)
    for nid, (name, body) in blocks.items():
        if name not in ("Exchange", "ShuffleExchange"):
            continue
        if "SinglePartition" not in body:
            continue
        cname, cbody = blocks.get(nid - 1, ("?", ""))
        # A GLOBAL aggregate child (no grouping keys) is benign
        # whichever way it renders: the exchange carries one row per
        # upstream partition (partial) or one row total (final). A
        # keyed aggregate always prints its keys — including in the
        # condensed empty-body form AQE-materialized stages use
        # (`Keys: []` with `Functions: []`) — so keys-empty alone is
        # a sound test.
        agg_global = (
            cname in ("HashAggregate", "SortAggregate", "ObjectHashAggregate")
            and ("Keys: []" in cbody or "Keys []" in cbody)
        )
        if not (agg_global or cname == "LocalLimit"):
            offenders.append(f"Exchange({nid})<-{cname}({nid - 1})")
    return offenders


def _is_group_frame_funnel(plan: str, offender: str) -> bool:
    """True when the flagged SinglePartition exchange demonstrably
    funnels a GROUP-COUNT frame, not the corpus: walking down from
    the exchange through narrow one-child nodes (Project / Filter /
    Sort / Window) must reach a KEYED final aggregate — the exchange
    then carries one row per group key. Whether that is bounded is a
    per-call-site domain fact (statuses, languages, shards — not doc
    ids), which is why funnels are additionally allowlisted by query
    name rather than passed wholesale."""
    import re

    m = re.match(r"Exchange\((\d+)\)", offender)
    if not m:
        return False
    blocks = _plan_blocks(plan)
    nid = int(m.group(1)) - 1
    narrow = {"Project", "Filter", "Sort", "Window", "WindowGroupLimit"}
    while nid in blocks:
        name, body = blocks[nid]
        if name in ("HashAggregate", "SortAggregate", "ObjectHashAggregate"):
            return "partial_" not in body and "Keys: []" not in body
        if name not in narrow:
            return False
        nid -= 1
    return False


#: Queries allowed to keep a single-partition exchange because the
#: frame through it is a per-GROUP aggregate over a bounded key
#: domain (shards / languages — model-sized, never corpus-sized):
#: the UNIMAX / temperature water-filling closed forms are ordered
#: prefix-sum recurrences over the k-row group-count frame, where a
#: k-row global window IS the algorithm (textops/sampling.py:379,453).
#: Every entry must still pass the mechanical group-frame shape check.
_GROUP_FRAME_FUNNEL_OK = {
    "ts8_temperature_rebalance",
    "ts10_unimax_budget",
    "ts11_unimax_realized",
    "ts12_token_unimax_realized",
    # capstone: embeds ts11's UNIMAX water-filling over the per-LANG
    # count frame of the cap survivors (k = #languages rows)
    "tp3_full_corpus_prep",
}


def test_catalog_wide_no_single_partition_or_cartesian(spark):
    """Catalog-wide plan hygiene, zero exceptions: no query in the
    entire catalog may plan a full-data single-partition exchange
    (the one-task wall no cluster size fixes — the shape the round-6
    distributed-rank work eliminated) or a `CartesianProduct`
    (unbounded all-pairs). Benign SinglePartition exchanges — the
    one-row-per-partition shuffle under a global aggregate, or a
    LocalLimit child — are allowed (see _single_partition_offenders);
    broadcast nested-loop joins over bounded literals/codebooks are
    fine and not flagged. This pins the shapes that are never
    acceptable at corpus scale."""
    from omfietser_etl_spark.catalog import all_specs

    offenders = {}
    for s in all_specs():
        plan = _plan(s.build(spark, SF_SMOKE))
        sp = _single_partition_offenders(plan)
        if s.name in _GROUP_FRAME_FUNNEL_OK:
            sp = [o for o in sp if not _is_group_frame_funnel(plan, o)]
        n_cp = plan.count("CartesianProduct")
        if sp or n_cp:
            offenders[s.name] = (sp, n_cp)
    assert not offenders, offenders


def test_g2_final_plan_scans_once(spark):
    """g2's EXECUTED adaptive plan must materialize the fact table
    exactly once: the oriented edge frame `w` feeds three joins, and
    its explicit repartition(src) root + ReuseExchange collapse every
    downstream reference onto one scan. Round-9 lesson baked in: count
    nodes in the FINAL-plan tree only — `explain formatted` on an
    executed AQE query appends an `== Initial Plan ==` section plus
    per-node details for BOTH trees, which inflates naive whole-string
    counts ~4x (the round-8 '37 FileScans' verdict was that artifact)."""
    from omfietser_etl_spark.catalog.opsspec import g2_triangle_count

    df = g2_triangle_count(spark, SF_SMOKE)
    df.collect()  # run df's OWN QueryExecution so its AQE plan finalizes
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    final_tree = plan.split("== Initial Plan ==")[0]
    scans = final_tree.count("Scan parquet")
    assert scans == 1, f"fact table must materialize once, saw {scans} scans"
    assert "ReusedExchange" in final_tree  # stage reuse actually fired
    assert "REPARTITION_BY_COL" in plan  # w's structural exchange root


#: Per-query EXECUTED-final-plan scan budgets (round-10 verdict #1 —
#: the scan-once assertion g2 got, generalized catalog-wide). Keys
#: absent default to 1 scan per source table. Every exception below
#: was read in the round-10 audit and is a DELIBERATE multi-role or
#: multi-pass shape, not AQE non-reuse. CONTRACT (round-10 verdict
#: #6): every entry carries an inline tag naming its category from
#: the four SCALING.md round-10 established — any NEW >1-per-table
#: entry must carry one too (the verify skill checklist enforces it
#: in review):
#: - [side-input]  bounded side-inputs re-scanned with pushdown
#:   (cheaper than caching at scale): PQ codebooks/centroids/query
#:   slices, decontam eval shingles, sample-vs-rest splits;
#: - [two-snapshot]  one table scanned under two DIFFERENT pushed
#:   filters (snapshot/half/window compares) — distinct data, not
#:   duplicated work;
#: - [multi-pass]  an algorithm whose semantics require k ordered
#:   passes over one table (funnel stages, BPE train+encode,
#:   orig+twin decode);
#: - [loop-static]  deliberately LAZY loop-static subtrees where
#:   caching measured slower (g1: 1.5x, round 7); ReuseExchange
#:   dedupes rounds.
#: A query gaining a scan beyond its budget fails here and must
#: either restore reuse (persist_replannable — the td28 discipline)
#: or justify a bigger budget in this table.
SCAN_BUDGETS = {
    "a17_incremental_rollup": {"orders": 3},  # [two-snapshot] one filtered scan per mod-3 batch fold
    "a1_status_counters": {"orders": 2},  # [two-snapshot] group agg + one-row grand-total re-agg
    "a22_hll_distinct": {"lineitem": 2, "events": 2},  # [two-snapshot] sketch + exact self-certification pass
    "a4_price_stats": {"orders": 2},  # [two-snapshot] stats agg + exact-median rank pass
    "a5_promo_analysis": {"orders": 2},  # [two-snapshot] per-type + per-shop aggregation levels
    "d2_quantity_standardize": {"part": 2},  # [side-input] distinct-unit lookup branch, single pruned column
    "ev1_funnel": {"events": 3},  # [multi-pass] one filtered scan per funnel stage
    "ev2_retention": {"events": 2},  # [two-snapshot] signup-cohort agg + activity side of one scan
    "ev7_rfm_segments": {"events": 2},  # [two-snapshot] per-user agg + distributed-rank pass
    "g1_pagerank": {"orders": 2, "lineitem": 4},  # [loop-static] lazy loop statics, cache measured 1.5x slower (r7)
    "h2_gapfill": {"events": 3},  # [side-input] bounds agg + type-dim distinct (both broadcast) + hourly agg
    "j10_full_outer_reconcile": {"customer": 2},  # [two-snapshot] left/right snapshot halves
    "j8_range_join": {"events": 2},  # [side-input] time-span bounds agg (two longs) + fact join side
    "mm7_phash_neardup": {"documents": 2},  # [multi-pass] orig+twin hash build, decode once (cached)
    "mm8_audio_fp_neardup": {"documents": 2},  # [multi-pass] orig+twin hash build, decode once (cached)
    "ta15_ngram_novelty": {"documents": 2},  # [side-input] shingle df-agg side + join-back side of one shingle frame
    "ta8_bigram_fluency": {"documents": 4},  # [side-input] corpus bigram/unigram model sides + scoring pass
    "td11_line_dedup": {"documents": 2},  # [multi-pass] line-frequency pass + reassembly pass
    "td30_paragraph_dedup": {"documents": 2},  # [multi-pass] paragraph-frequency pass + reassembly pass (td11's shape at \n\n granularity)
    "td13_semantic_dedup": {"embeddings": 3},  # [side-input] codebook + within-cluster pair sides
    "td14_substring_dedup": {"documents": 4},  # [multi-pass] streaming k-gram passes + island stitch (zero corpus shuffle cached)
    "td16_rh_lsh_pairs": {"embeddings": 3},  # [side-input] signature pass + two exact-verify join sides
    "td17_incremental_dedup": {"documents": 2},  # [two-snapshot] new-batch vs stored-state mod-split filters
    "td18_bloom_decontam": {"documents": 3},  # [side-input] eval-shingle side rescans
    "td20_pq_adc_topk": {"embeddings": 3},  # [side-input] codebook + query slice rescans
    "td21_ivfpq_topk": {"embeddings": 7},  # [side-input] IVF centroids + PQ codebook + query slices
    "td22_pq_rerank": {"embeddings": 5},  # [side-input] codebook/query rescans + exact re-rank slice
    "td24_allpairs_cosine": {"documents": 4},  # [side-input] prefix-filter stats + eval slices
    "td25_fuzzy_decontam": {"documents": 4},  # [multi-pass] two map-side explodes + eval-shingle sides
    "td6_ann_topk": {"embeddings": 2},  # [side-input] bounded query slice vs corpus
    "td7_ivf_ann": {"embeddings": 4},  # [side-input] centroids + query slice rescans
    "td8_kmeans_assign": {"embeddings": 2},  # [side-input] centroid side vs corpus
    "td9_contamination": {"documents": 3},  # [side-input] eval-shingle side rescans
    "tk1_bpe_encode": {"documents": 2},  # [multi-pass] BPE train pass + encode pass
    "tk2_bpe_roundtrip": {"documents": 3},  # [multi-pass] train + encode + decode-check passes
    "tk3_vocab_coverage": {"documents": 2},  # [multi-pass] train pass + coverage pass
    "ts11_unimax_realized": {"documents": 2},  # [side-input] k-row allocation side + realization pass
    "ts12_token_unimax_realized": {"documents": 2},  # [side-input] k-row token allocation side + realization pass
    "ts17_cluster_prototypes": {"embeddings": 2},  # [side-input] centroid side vs corpus
    "ts20_domain_cap": {"documents": 2},  # [side-input] D-row cap-allocation side (persisted) + realization pass
    "ts6_tokenize": {"documents": 2},  # [side-input] tv1 vocab side (bounded) + encode pass
    "ts8_temperature_rebalance": {"documents": 2},  # [side-input] per-language rate side (k rows) + realization pass
    "tv2_tfidf_terms": {"documents": 2},  # [side-input] global DF-stats side + scoring pass
    "tv3_cms_heavy_hitters": {"documents": 2},  # [side-input] sketch pass + exact top-20 side
    "tv5_rrf_fusion": {"embeddings": 2},  # [side-input] per-ranker query slices
    "tv7_retrieval_eval": {"documents": 3},  # [side-input] query slice + two retriever passes
    "u1_union_distinct": {"customer": 2},  # [two-snapshot] two pushed-filter halves unioned
    "x10_knn_label_eval": {"embeddings": 4},  # [side-input] held-out query slice + broadcast kNN rescans
}


def test_catalog_final_plan_scan_budgets(spark):
    """EVERY catalog query's executed adaptive plan must stay within
    its per-table scan budget (default: each source table scanned
    once). This is the catalog-wide generalization of g2's scan-once
    assertion, counted the only honest way — a JVM walk of the FINAL
    plan tree that stops at cache and reused-exchange boundaries
    (planwalk.executed_scan_profile): string counts over `explain
    formatted` double-book the Initial Plan section and every inlined
    InMemoryRelation build plan (the round-8 '37 FileScans' and
    round-10 'dd4 scans 12x' artifacts). Catches the td28 disease —
    a duplicated subtree AQE does not canonicalize re-executing a
    scan+agg per reference (u5 4x, ta12 6x, ev1 5x, mm7/mm8 6x before
    the round-10 fixes)."""
    import __spark_entry__ as entry_mod

    from omfietser_etl_spark import cacheutil
    from omfietser_etl_spark.planwalk import executed_scan_profile

    offenders = []
    for name, build in entry_mod.queries().items():
        try:
            df = build(spark, SF_SMOKE)
            df.collect()  # finalize df's OWN adaptive plan
            main = executed_scan_profile(df)["main"]
        finally:
            cacheutil.release_all()
        budget = SCAN_BUDGETS.get(name, {})
        over = {
            t: n for t, n in main.items() if n > budget.get(t, 1)
        }
        if over:
            offenders.append((name, over, budget))
    assert not offenders, (
        "queries exceeding their final-plan scan budget "
        f"(table: scans, budget): {offenders}"
    )


def test_release_then_register_same_plan_rebuild_keeps_cache(spark):
    """Rebuilding the same operator twice in one session must not
    self-destroy its persisted side. Round-11 bug: callers evaluate
    `.persist()` before release_then_register runs, Spark's cache
    manager no-ops a persist of an already-cached identical plan
    (sharing the entry), and the subsequent release unpersisted that
    shared entry out from under the new frame — ts20's allocation
    silently lost its cache and the corpus-agg subtree inlined into
    both consumers (documents 3x) whenever an earlier plan-build of
    the same query existed (bench reps 2+, this file's own audit
    tests). Pinned via the original repro: build (plan only, never
    executed), rebuild, execute — the persisted side must stay cached
    and the scan budget must hold."""
    from omfietser_etl_spark import cacheutil
    from omfietser_etl_spark.catalog.trainprep import ts20_domain_cap
    from omfietser_etl_spark.planwalk import executed_scan_profile

    try:
        _plan(ts20_domain_cap(spark, SF_SMOKE))  # build #1: plan only
        df = ts20_domain_cap(spark, SF_SMOKE)    # build #2 re-registers
        df.collect()
        main = executed_scan_profile(df)["main"]
        assert main.get("documents", 0) <= 2, main
    finally:
        cacheutil.release_all()
