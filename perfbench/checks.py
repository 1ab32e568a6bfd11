"""Output checks: compare what the program produced (already collected
into plain Python values) with the generator's expectations. Each
check returns a list of human-readable mismatches; an empty list means
the operation's output is correct. Nothing here imports Spark."""

from __future__ import annotations

import random

from . import gen


def _diff(label: str, got, exp) -> list[str]:
    return [] if got == exp else [f"{label}: got {got!r}, expected {exp!r}"]


def scrape(summary: dict, shop_digest: dict, viz_total: int, expected: dict) -> list[str]:
    """run_file_mode output: its returned summary, a digest of each
    shop's unified parquet ({"rows", "price_cents", "id_crc"}) and the
    visualization summary's product total, against the shops' part of
    gen.scrape_inputs()."""
    errs = []
    for shop, data in expected.items():
        exp = data["expected"]
        got = summary["shops"].get(shop, {})
        errs += _diff(f"{shop} summary", got, {k: exp[k] for k in ("unified", "errors", "corrupt")})
        errs += _diff(
            f"{shop} unified digest",
            shop_digest.get(shop),
            {"rows": exp["unified"], "price_cents": exp["price_cents"], "id_crc": exp["id_crc"]},
        )
    total = sum(d["expected"]["unified"] for d in expected.values())
    errs += _diff("total_unified", summary.get("total_unified"), total)
    errs += _diff("visualization total", viz_total, total)
    return errs


def merged_shop(digest: dict, model: gen.StateModel, shop_type: str) -> list[str]:
    """One shop's partition of the merge store after a batch."""
    return _diff(f"{shop_type} state digest", digest, model.shop_summary(shop_type))


def final_state(rows: list[tuple], model: gen.StateModel) -> list[str]:
    """The whole store: (shop_type, unified_id, current_price,
    scraped_at) per live key must equal the latest-wins model."""
    got = {(s, u): (p, d) for s, u, p, d in rows}
    exp = {k: (v["current_price"], v[gen.ORDER_COL]) for k, v in model.rows.items()}
    if len(rows) != len(got):
        return [f"state holds {len(rows) - len(got)} duplicate keys"]
    if got == exp:
        return []
    missing = exp.keys() - got.keys()
    extra = got.keys() - exp.keys()
    wrong = [k for k in exp.keys() & got.keys() if exp[k] != got[k]]
    return [f"state: {len(missing)} missing, {len(extra)} extra, {len(wrong)} wrong keys"
            + (f" (e.g. {wrong[0]}: got {got[wrong[0]]}, expected {exp[wrong[0]]})" if wrong else "")]


JACCARD_SAMPLE = 100


def match(components: list[tuple[str, str]], titles: dict[str, str],
          groups: list[tuple[str, ...]], threshold: float, seed: int) -> list[str]:
    """Product groups from minhash_lsh_pairs -> connected_components,
    as (product, component) rows.

    The planted groups are products sold by several shops under
    spellings with the same normalized words (Jaccard 1), which MinHash
    buckets together with certainty, and distinct products share no
    near-duplicate; so the components must be exactly the planted
    groups. For a seeded sample of matched products, the Jaccard
    similarity to their component's representative is recomputed here
    from the titles and must clear the threshold.
    """
    errs = []
    members: dict[str, list] = {}
    for node, comp in components:
        members.setdefault(comp, []).append(node)
    got = sorted(tuple(sorted(m)) for m in members.values())
    if got != groups:
        extra = set(got) - set(groups)
        missing = set(groups) - set(got)
        errs.append(f"groups: {len(got)} found, {len(groups)} planted; "
                    f"{len(missing)} missing (e.g. {sorted(missing)[:1]}), "
                    f"{len(extra)} unexpected (e.g. {sorted(extra)[:1]})")
    matched = [(node, comp) for node, comp in components if node != comp]
    r = random.Random(seed)
    for node, comp in r.sample(matched, min(JACCARD_SAMPLE, len(matched))):
        j = gen.jaccard(titles.get(node, ""), titles.get(comp, ""))
        if j < threshold:
            errs.append(f"pair ({comp}, {node}): recomputed jaccard {j:.4f} < {threshold}")
            break
    return errs
