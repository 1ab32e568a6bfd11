"""Tests for the benchmark's own code (no Spark needed):

    python -m pytest perfbench -q
"""

from __future__ import annotations

import copy

import pytest

from perfbench import checks, gen
from perfbench.trace import Span, op_breakdown, self_times


def _scrape(seed):
    return gen.scrape_inputs(seed, 120)


def test_scrape_inputs_deterministic_per_seed_and_differ_across_seeds():
    a, b, c = _scrape(7), _scrape(7), _scrape(8)
    assert a == b
    assert a["shops"]["ah"]["records"] != c["shops"]["ah"]["records"]
    assert a["groups"] != c["groups"]


def test_scrape_inputs_plant_every_record_kind():
    shops = _scrape(7)["shops"]
    for shop, data in shops.items():
        exp = data["expected"]
        n = len(data["records"])
        assert 0 < exp["unified"] < n, shop
        if shop != "jumbo":  # jumbo's skip filter leaves no error path
            assert exp["errors"] > 0, shop
    assert any(isinstance(r, str) for r in shops["kruidvat"]["records"])


def test_state_model_deterministic_per_seed_and_differ_across_seeds():
    a, b, c = gen.StateModel(3, 50), gen.StateModel(3, 50), gen.StateModel(4, 50)
    assert a.initial == b.initial
    assert a.initial != c.initial
    for m in (a, b):
        m.apply(m.initial)
    assert a.rescrape(0) == b.rescrape(0)


def test_state_model_latest_wins_and_skips_unchanged():
    m = gen.StateModel(5, 200)
    m.apply(m.initial)
    before = copy.deepcopy(m.rows)
    shop, batch = m.rescrape(0)
    st = gen.SHOP_TYPE[shop]
    counts = m.apply(batch)
    assert 0 < counts["applied"] < counts["changed"] < len(batch)
    for row in batch:
        key = (row["shop_type"], row["unified_id"])
        old = before.get(key)
        if old is None or row[gen.ORDER_COL] >= old[gen.ORDER_COL]:
            if old is None or not gen.payload_equal(old, row):
                assert m.rows[key] is row
        else:  # a late scrape never replaces a newer row
            assert m.rows[key] == old
    assert m.shop_summary(st)["rows"] == len(batch)


def test_scrape_check_flags_corrupted_output():
    inputs = _scrape(7)
    shops = inputs["shops"]
    summary = {
        "shops": {s: {k: d["expected"][k] for k in ("unified", "errors", "corrupt")}
                  for s, d in shops.items()},
        "total_unified": sum(d["expected"]["unified"] for d in shops.values()),
    }
    digest = {s: {"rows": d["expected"]["unified"], "price_cents": d["expected"]["price_cents"],
                  "id_crc": d["expected"]["id_crc"]} for s, d in shops.items()}
    total = summary["total_unified"]
    assert checks.scrape(summary, digest, total, shops) == []
    bad = copy.deepcopy(digest)
    bad["aldi"]["price_cents"] += 1
    assert checks.scrape(summary, bad, total, shops)
    bad_summary = copy.deepcopy(summary)
    bad_summary["shops"]["plus"]["errors"] -= 1
    assert checks.scrape(bad_summary, digest, total, shops)
    assert checks.scrape(summary, digest, total - 1, shops)


def test_merge_checks_flag_corrupted_state():
    m = gen.StateModel(5, 40)
    m.apply(m.initial)
    rows = [(s, u, v["current_price"], v[gen.ORDER_COL]) for (s, u), v in m.rows.items()]
    assert checks.final_state(rows, m) == []
    wrong = list(rows)
    s, u, p, d = wrong[3]
    wrong[3] = (s, u, p + 0.01, d)
    assert checks.final_state(wrong, m)
    assert checks.final_state(rows[1:], m)
    assert checks.final_state(rows + rows[:1], m)
    digest = m.shop_summary("AH")
    assert checks.merged_shop(digest, m, "AH") == []
    assert checks.merged_shop({**digest, "days": digest["days"] + 1}, m, "AH")


def _components(groups):
    return [(n, g[0]) for g in groups for n in g]


def test_match_check_flags_corrupted_groups():
    inputs = _scrape(7)
    groups, titles = inputs["groups"], inputs["titles"]
    comps = _components(groups)
    assert groups
    assert checks.match(comps, titles, groups, 0.8, 1) == []
    # two products merged into one group
    merged = [(n, groups[0][0]) if n == groups[1][0] else (n, c) for n, c in comps]
    assert checks.match(merged, titles, groups, 0.8, 1)
    # a group split in two
    split = [(n, n) if n == groups[0][-1] else (n, c) for n, c in comps]
    assert checks.match(split, titles, groups, 0.8, 1)


def test_match_check_recomputes_jaccard_of_matched_products():
    inputs = _scrape(7)
    groups, titles = inputs["groups"], inputs["titles"]
    other = next(t for m, t in titles.items() if all(m not in g for g in groups))
    wrong = {**titles, groups[0][-1]: other}
    assert checks.match(_components(groups), wrong, groups, 0.8, 1)


def test_planted_spellings_share_all_shingles():
    inputs = _scrape(9)
    for g in inputs["groups"]:
        base = gen.shingle_set(inputs["titles"][g[0]])
        assert base and all(gen.shingle_set(inputs["titles"][m]) == base for m in g)


def _span(i, parent, start, end, jobs=0, tasks=0):
    return Span(i, f"l{i}.x", parent, "r", start, end, jobs, tasks)


def test_self_time_of_nested_spans():
    spans = [
        _span(0, None, 0.0, 10.0, jobs=1, tasks=4),
        _span(1, 0, 1.0, 4.0, jobs=2, tasks=3),
        _span(2, 1, 2.0, 3.0, jobs=1, tasks=1),
        _span(3, 0, 5.0, 6.0),
        _span(4, 0, 5.5, 7.0),  # overlaps span 3: covered once
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 3.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(1.0) and st[4] == pytest.approx(1.5)
    bd = op_breakdown(spans, spans[0])
    # overlapping siblings keep their own self times: 5 + 2 + 1 + 1 + 1.5
    assert sum(bd["layer_self_s"].values()) == pytest.approx(10.5)
    assert bd["names"]["l0.x"]["incl_jobs"] == 4
    assert bd["names"]["l1.x"]["incl_tasks"] == 4
    assert bd["names"]["l2.x"]["incl_jobs"] == 1


def test_op_breakdown_covers_only_the_operation():
    spans = [_span(0, None, 0.0, 2.0), _span(1, 0, 0.5, 1.0), _span(2, None, 3.0, 9.0)]
    bd = op_breakdown(spans, spans[0])
    assert set(bd["names"]) == {"l0.x", "l1.x"}
    assert bd["names"]["l0.x"]["self_s"] == pytest.approx(1.5)
