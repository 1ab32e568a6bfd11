"""Seeded inputs for the product-ETL benchmark, with the expected
results computed here in plain Python, independently of the Spark
program.

Every generator takes the run seed and derives its own
``random.Random`` from the seed plus a label, so each input is the same
for the same seed and the generators do not share random state.
Nothing here imports Spark.
"""

from __future__ import annotations

import json
import math
import os
import random
import re
import zlib

SHOPS = ("ah", "jumbo", "aldi", "plus", "kruidvat")
SHOP_TYPE = {s: s.upper() for s in SHOPS}

#: the runner's final category set (omfietser_etl_spark.config.categories);
#: copied so the expectations do not read the program under test
FINAL_CATEGORIES = (
    "Aardappel, groente, fruit", "Baby en kind", "Bakkerij", "Bewuste voeding",
    "Bier en aperitieven", "Chips, noten, toast, popcorn", "Diepvries", "Drogisterij",
    "Frisdrank, sappen, siropen, water", "Gezondheid, sport", "Huisdier", "Huishouden",
    "Kaas, vleeswaren, tapas", "Koffie, thee", "Koken, tafelen, vrije tijd",
    "Ontbijtgranen en beleg", "Pasta, rijst en wereldkeuken", "Salades, pizza, maaltijden",
    "Seizoensartikelen", "Snoep, chocolade, koek", "Soepen, sauzen, kruiden, olie",
    "Tussendoortjes", "Vegetarisch, vegan en plantaardig", "Vlees, vis",
    "Wijn en bubbels", "Zuivel, eieren, boter",
)

_SYLLABLES = (
    "ka", "ro", "mel", "van", "de", "kaas", "brood", "melk", "sap", "thee", "vla",
    "zo", "mer", "pin", "tar", "lo", "ber", "gen", "hof", "dal", "ster", "kop",
    "fri", "sla", "pel", "bo", "ter", "ei", "suik", "zout", "ham", "vis", "wijn",
    "bier", "koek", "ris", "to", "ma", "ne", "li", "ku", "pa", "sto", "gro",
)
_UNITS = ("g", "kg", "ml", "l", "stuks")


def rng(seed: int, *label) -> random.Random:
    """Independent generator per (seed, label)."""
    return random.Random(":".join(str(x) for x in (seed, *label)))


def vocabulary(seed: int, n: int) -> list[str]:
    """``n`` distinct lowercase pseudo-Dutch words."""
    r = rng(seed, "vocab")
    words: set[str] = set()
    out = []
    while len(out) < n:
        w = "".join(r.choice(_SYLLABLES) for _ in range(r.randint(2, 4)))
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def id_crc(unified_id: str) -> int:
    """Per-key checksum term; Spark's ``crc32`` computes the same value."""
    return zlib.crc32(unified_id.encode())


def cents(price: float) -> int:
    return int(math.floor(price * 100 + 0.5))


# ------------------------------------------------------------------ #
# full_scrape: raw shop files for runner.run_file_mode
# ------------------------------------------------------------------ #

#: share of each record kind per shop file; the rest are valid products
SKIP_SHARE = 0.06
ERROR_SHARE = 0.04
CORRUPT_SHARE = 0.02  # NDJSON (kruidvat) only, see _corrupt_line
PROMO_SHARE = 0.25


def _title(r: random.Random, vocab: list[str], n_words: int) -> tuple[str, str]:
    words = [r.choice(vocab) for _ in range(n_words)]
    brand = words[0].capitalize()
    size = f"{r.choice((100, 250, 330, 500, 750, 1000))} {r.choice(_UNITS)}"
    return " ".join([brand, *words[1:]]) + " " + size, brand


def _price_cents(r: random.Random) -> int:
    return r.randint(39, 2499)


def _ah_record(r, i, title, brand, cat, kind):
    rec = {
        "webshopId": 100000 + i,
        "title": title,
        "brand": brand,
        "mainCategory": cat,
        "salesUnitSize": title.rsplit(" ", 2)[-2] + " " + title.rsplit(" ", 1)[-1],
        "orderAvailabilityStatus": "IN_ASSORTMENT",
        "images": [{"url": f"https://img.example/ah/{i}.jpg", "width": 400}],
    }
    if kind == "skip":
        how = r.randrange(4)
        if how == 0:
            rec["isVirtualBundle"] = True
        elif how == 1:
            rec["orderAvailabilityStatus"] = "OUT_OF_ASSORTMENT"
        elif how == 2:
            rec["mainCategory"] = "AH Voordeelshop"
        # how == 3: no price at all
        if how != 3:
            rec["priceBeforeBonus"] = _price_cents(r) / 100
        return rec, None
    if kind == "error":
        if r.random() < 0.5:  # bonus without price or structured label
            rec.update(isBonus=True, currentPrice=_price_cents(r) / 100)
        else:  # negative shelf price, no current price
            rec["priceBeforeBonus"] = -1.0
        return rec, None
    c = _price_cents(r)
    rec["priceBeforeBonus"] = c / 100
    if kind == "promo":
        q = r.randint(max(1, c // 2), c - 1)
        rec.update(
            isBonus=True,
            promotionType="BONUS",
            bonusMechanism=f"Voor {q / 100:.2f}",
            discountLabels=[{"code": "DISCOUNT_FIXED_PRICE", "price": q / 100}],
        )
        c = q
    return rec, (str(100000 + i), c)


def _jumbo_record(r, i, title, brand, cat, kind):
    uid = f"J{i:06d}"
    p = {
        "id": uid,
        "title": title,
        "brand": brand,
        "category": cat,
        "quantity": title.rsplit(" ", 2)[-2] + " " + title.rsplit(" ", 1)[-1],
        "inAssortment": True,
        "availability": {"isAvailable": True},
        "image": f"https://img.example/jumbo/{i}.png",
        "prices": {"price": _price_cents(r)},
    }
    if kind == "skip":
        how = r.randrange(3)
        if how == 0:
            p["inAssortment"] = False
        elif how == 1:
            p["prices"]["price"] = 0
        else:
            p["title"] = "  "
        return {"product": p}, None
    c = p["prices"]["price"]
    if kind == "promo":
        q = r.randint(max(1, c // 2), c - 1)
        p["prices"]["promoPrice"] = q
        p["promotions"] = [{"tags": [{"text": "Actieprijs"}]}]
        c = q
    # Jumbo's skip filter already requires a positive price, so no
    # record can reach the business-rule error channel: kind "error"
    # is generated as a valid product.
    return {"product": p}, (uid, c)


def _aldi_record(r, i, title, brand, cat, kind):
    uid = f"A{i:06d}"
    c = _price_cents(r)
    rec = {
        "articleNumber": uid,
        "title": title,
        "brandName": brand,
        "salesUnit": title.rsplit(" ", 2)[-2] + " " + title.rsplit(" ", 1)[-1],
        "price": f"{c / 100:.2f}",
        "mainCategory": cat,
        "primaryImage": {"baseUrl": f"https://img.example/aldi/{i}"},
    }
    if kind == "skip":
        how = r.randrange(3)
        if how == 0:
            rec["isSoldOut"] = True
        elif how == 1:
            rec["isNotAvailable"] = True
        else:
            rec["mainCategory"] = "cadeaukaarten"
        return rec, None
    if kind == "error":
        rec["oldPrice"] = "0"  # promotion with no valid shelf price
        return rec, None
    return rec, (uid, c)


def _plus_record(r, i, title, brand, cat, kind):
    uid = f"P{i:06d}"
    c = _price_cents(r)
    p = {
        "SKU": uid,
        "Name": title,
        "Brand": brand,
        "Product_Subtitle": "Per " + title.rsplit(" ", 2)[-2] + " " + title.rsplit(" ", 1)[-1],
        "OriginalPrice": f"{c / 100:.2f}",
        "IsAvailable": True,
        "ImageURL": f"https://img.example/plus/{i}.webp",
        "Categories": {"List": [{"Name": cat}]},
    }
    if kind == "skip":
        p["IsAvailable"] = False
        return {"PLP_Str": p}, None
    if kind == "error":
        del p["Name"]
        return {"PLP_Str": p}, None
    if kind == "promo":
        q = r.randint(max(1, c // 2), c - 1)
        p["NewPrice"] = f"{q / 100:.2f}"
        c = q
    return {"PLP_Str": p}, (uid, c)


def _kruidvat_record(r, i, title, brand, cat, kind):
    sku = f"K{i:06d}"
    c = _price_cents(r)
    rec = {
        "sku": sku,
        "name": title,
        "category": cat,
        "quantity": title.rsplit(" ", 2)[-2] + " " + title.rsplit(" ", 1)[-1],
        "price": f"{c / 100:.2f}",
    }
    if kind == "error":
        if r.random() < 0.5:
            del rec["sku"]
        else:
            rec["price"] = "0"
        return rec, None
    if kind == "promo":
        q = r.randint(max(1, c // 2), c - 1)
        rec.update(
            originalPrice=f"{c / 100:.2f}",
            newPrice=f"{q / 100:.2f}",
            promotionLabel="Actie",
        )
        c = q
    # kruidvat has no skip filter: kind "skip" is a valid product
    return rec, ("kruidvat_" + sku, c)


_RECORD = {
    "ah": _ah_record,
    "jumbo": _jumbo_record,
    "aldi": _aldi_record,
    "plus": _plus_record,
    "kruidvat": _kruidvat_record,
}


def _corrupt_line(r: random.Random, i: int) -> str:
    """A truncated NDJSON line. In a multiLine JSON array one malformed
    element turns the whole file into corrupt records, so planted
    corrupt records live only in the NDJSON shop; the generic path
    routes them to the error channel (no id can be extracted)."""
    return '{"sku": "K%06d", "name": "Kapot' % i


#: share of valid products that another shop also sells
SHARED_SHARE = 0.15


def _planted(seed: int, per_shop: int, vocab: list[str]) -> dict[str, list]:
    """Products sold by 2-4 shops under differently spelled titles:
    per shop, a queue of (group, title, brand) that the shop's first
    valid records take."""
    r = rng(seed, "shared")
    queues: dict[str, list] = {s: [] for s in SHOPS}
    n_groups = int(per_shop * len(SHOPS) * SHARED_SHARE / 3)
    for g in range(n_groups):
        title, brand = _title(r, vocab, r.randint(3, 6))
        for k, shop in enumerate(r.sample(SHOPS, r.randint(2, 4))):
            queues[shop].append((g, title if k == 0 else _spelling(r, title), brand))
    return queues


def scrape_inputs(seed: int, per_shop: int) -> dict:
    """Raw records per shop, the expected run summary and the planted
    cross-shop product groups.

    Returns ``{"shops": {shop: {"records": [...], "expected": {...}}},
    "groups": [...], "titles": {...}}``. A record is a dict
    (JSON-array shops and valid kruidvat lines) or a raw string (a
    corrupt NDJSON line). ``expected`` holds the counts
    ``run_file_mode`` must report and two checksums over the unified
    rows: the sum of current prices in cents and the sum of crc32 over
    unified ids. ``groups`` are the sorted match ids (see match_id) of
    each product sold by more than one shop, ``titles`` the title of
    every unified product by match id."""
    vocab = vocabulary(seed, 1500)
    queues = _planted(seed, per_shop, vocab)
    members: dict[int, list[str]] = {}
    titles: dict[str, str] = {}
    shops = {}
    for shop in SHOPS:
        r = rng(seed, "scrape", shop)
        records: list = []
        exp = {"unified": 0, "errors": 0, "corrupt": 0, "price_cents": 0, "id_crc": 0}
        for i in range(per_shop):
            u = r.random()
            if shop == "kruidvat" and u < CORRUPT_SHARE:
                records.append(_corrupt_line(r, i))
                exp["errors"] += 1
                continue
            kind = (
                "skip" if u < SKIP_SHARE + CORRUPT_SHARE
                else "error" if u < SKIP_SHARE + CORRUPT_SHARE + ERROR_SHARE
                else "promo" if r.random() < PROMO_SHARE
                else "ok"
            )
            title, brand = _title(r, vocab, r.randint(3, 6))
            group = None
            if kind in ("ok", "promo") and queues[shop]:
                group, title, brand = queues[shop].pop(0)
            cat = r.choice(FINAL_CATEGORIES) if r.random() < 0.9 else r.choice(("", "Overig"))
            rec, unified = _RECORD[shop](r, i, title, brand, cat, kind)
            records.append(rec)
            if unified is not None:
                uid, c = unified
                exp["unified"] += 1
                exp["price_cents"] += c
                exp["id_crc"] += id_crc(uid)
                titles[match_id(shop, uid)] = title
                if group is not None:
                    members.setdefault(group, []).append(match_id(shop, uid))
            elif kind == "error":
                exp["errors"] += 1
        shops[shop] = {"records": records, "expected": exp}
    groups = sorted(tuple(sorted(m)) for m in members.values() if len(m) > 1)
    return {"shops": shops, "groups": groups, "titles": titles}


def write_scrape_inputs(inputs: dict, in_dir: str) -> int:
    """Write ``<shop>_products.json`` files (JSON arrays, NDJSON for
    kruidvat); return the total input bytes."""
    os.makedirs(in_dir, exist_ok=True)
    total = 0
    for shop, data in inputs["shops"].items():
        path = os.path.join(in_dir, f"{shop}_products.json")
        with open(path, "w") as f:
            if shop == "kruidvat":
                for rec in data["records"]:
                    f.write((rec if isinstance(rec, str) else json.dumps(rec)) + "\n")
            else:
                json.dump(data["records"], f)
        total += os.path.getsize(path)
    return total


# ------------------------------------------------------------------ #
# daily_merge: unified rows in a merged state store
# ------------------------------------------------------------------ #

#: unified payload columns carried by the state rows, in template order
UNIFIED_COLUMNS = (
    ("unified_id", "string"), ("shop_type", "string"), ("title", "string"),
    ("main_category", "string"), ("brand", "string"), ("image_url", "string"),
    ("sales_unit_size", "string"), ("quantity_amount", "double"),
    ("quantity_unit", "string"), ("default_quantity_amount", "double"),
    ("default_quantity_unit", "string"), ("price_before_bonus", "double"),
    ("current_price", "double"), ("unit_price", "double"), ("unit_price_unit", "string"),
    ("is_promotion", "bool"), ("promotion_type", "string"),
    ("promotion_mechanism", "string"), ("promotion_start_date", "string"),
    ("promotion_end_date", "string"), ("parsed_promotion_effective_unit_price", "double"),
    ("parsed_promotion_required_quantity", "double"),
    ("parsed_promotion_total_price", "double"),
    ("parsed_promotion_is_multi_purchase_required", "bool"),
    ("normalized_quantity_amount", "double"), ("normalized_quantity_unit", "string"),
    ("conversion_factor", "double"), ("price_per_standard_unit", "double"),
    ("current_price_per_standard_unit", "double"), ("discount_absolute", "double"),
    ("discount_percentage", "double"), ("is_active", "bool"),
)
PAYLOAD = tuple(n for n, _ in UNIFIED_COLUMNS)
ORDER_COL = "scraped_at"
KEYS = ("shop_type", "unified_id")

#: re-scrape batch shape
CHANGED_SHARE = 0.10
NEW_SHARE = 0.01
LATE_SHARE = 0.01


def _set_prices(row: dict, pbb_cents: int, cur_cents: int, promo: bool) -> None:
    pbb, cur = pbb_cents / 100, cur_cents / 100
    row["price_before_bonus"] = pbb
    row["current_price"] = cur
    row["is_promotion"] = promo
    row["promotion_type"] = "DISCOUNT" if promo else "none"
    row["promotion_mechanism"] = f"Nu {cur:.2f}" if promo else "none"
    row["parsed_promotion_effective_unit_price"] = cur if promo else None
    cf = row["conversion_factor"]
    row["price_per_standard_unit"] = pbb / cf
    row["current_price_per_standard_unit"] = cur / cf
    if promo and cur < pbb:
        row["discount_absolute"] = pbb - cur
        row["discount_percentage"] = (pbb - cur) / pbb * 100.0
    else:
        row["discount_absolute"] = None
        row["discount_percentage"] = None


def _state_row(r: random.Random, vocab: list[str], shop: str, idx: int, day: int) -> dict:
    title, brand = _title(r, vocab, r.randint(3, 6))
    amount = float(r.choice((100, 250, 500, 750, 1000)))
    u = r.random()
    row = {
        "unified_id": f"{shop}-{idx:06d}",
        "shop_type": SHOP_TYPE[shop],
        "title": title,
        "main_category": (
            r.choice(FINAL_CATEGORIES) if u < 0.9 else "Overig" if u < 0.95 else None
        ),
        "brand": brand if r.random() < 0.9 else "",
        "image_url": f"https://img.example/{shop}/{idx}.jpg" if r.random() < 0.8 else "",
        "sales_unit_size": f"{int(amount)} g",
        "quantity_amount": amount if r.random() < 0.97 else 0.0,
        "quantity_unit": "g",
        "default_quantity_amount": 1.0,
        "default_quantity_unit": "stuk",
        "unit_price": None,
        "unit_price_unit": None,
        "promotion_start_date": None,
        "promotion_end_date": None,
        "parsed_promotion_required_quantity": None,
        "parsed_promotion_total_price": None,
        "parsed_promotion_is_multi_purchase_required": False,
        "normalized_quantity_amount": amount / 1000,
        "normalized_quantity_unit": "kg",
        "conversion_factor": amount / 1000,
        "is_active": r.random() < 0.95,
        ORDER_COL: day,
    }
    pbb = _price_cents(r)
    promo = r.random() < PROMO_SHARE
    _set_prices(row, pbb, r.randint(max(1, pbb // 2), pbb - 1) if promo else pbb, promo)
    if r.random() < 0.3:
        # shelf unit price near price_before_bonus / conversion_factor
        row["unit_price"] = round(row["price_per_standard_unit"] * r.uniform(0.85, 1.15), 2)
        row["unit_price_unit"] = "kg"
    if promo and r.random() < 0.5:
        row["promotion_start_date"] = "2025-09-08"
        row["promotion_end_date"] = "2025-09-14" if r.random() < 0.9 else "2025-09-01"
    return row


def payload_equal(a: dict, b: dict) -> bool:
    return all(a[c] == b[c] for c in PAYLOAD)


class StateModel:
    """The merge store's expected contents: latest row per key, with
    unchanged payloads skipped and ties going to the incoming batch —
    the semantics of skip_unchanged + merge_batch, written out row by
    row."""

    def __init__(self, seed: int, per_shop: int):
        self.seed = seed
        self.vocab = vocabulary(seed, 1500)
        self.rows: dict[tuple[str, str], dict] = {}
        self.next_idx = {s: per_shop for s in SHOPS}
        r = rng(seed, "state")
        self.initial = [
            _state_row(r, self.vocab, shop, i, 0)
            for shop in SHOPS
            for i in range(per_shop)
        ]

    def apply(self, batch: list[dict]) -> dict:
        """Fold a batch in; return counts of changed (non-skipped) and
        applied rows."""
        changed = applied = 0
        for row in batch:
            key = (row["shop_type"], row["unified_id"])
            cur = self.rows.get(key)
            if cur is not None and payload_equal(cur, row):
                continue
            changed += 1
            if cur is None or row[ORDER_COL] >= cur[ORDER_COL]:
                self.rows[key] = row
                applied += 1
        return {"changed": changed, "applied": applied}

    def rescrape(self, k: int) -> tuple[str, list[dict]]:
        """Batch ``k``: one shop's re-scrape on day ``k + 1`` with a
        share of changed prices, a few new keys and a few late rows
        (an older scrape of a changed price, which must lose)."""
        shop = SHOPS[k % len(SHOPS)]
        day = k + 1
        r = rng(self.seed, "rescrape", k)
        st = SHOP_TYPE[shop]
        live = [self.rows[key] for key in sorted(k for k in self.rows if k[0] == st)]
        batch = []
        for old in live:
            row = dict(old)
            row[ORDER_COL] = day
            u = r.random()
            if u < CHANGED_SHARE + LATE_SHARE:
                pbb = cents(row["price_before_bonus"])
                pbb = max(39, pbb + r.choice((-1, 1)) * r.randint(1, 40))
                promo = r.random() < PROMO_SHARE
                cur = r.randint(max(1, pbb // 2), pbb - 1) if promo else pbb
                _set_prices(row, pbb, cur, promo)
                if u >= CHANGED_SHARE:
                    row[ORDER_COL] = old[ORDER_COL] - 1
            batch.append(row)
        for _ in range(max(1, int(len(live) * NEW_SHARE))):
            batch.append(_state_row(r, self.vocab, shop, self.next_idx[shop], day))
            self.next_idx[shop] += 1
        r.shuffle(batch)
        return shop, batch

    def shop_summary(self, shop_type: str) -> dict:
        rows = [v for (s, _), v in self.rows.items() if s == shop_type]
        return summarize_state(rows)


def summarize_state(rows) -> dict:
    """Order-free digest of state rows: count, price cents, day sum,
    id checksum."""
    return {
        "rows": len(rows),
        "price_cents": sum(cents(r["current_price"]) for r in rows),
        "days": sum(r[ORDER_COL] for r in rows),
        "id_crc": sum(id_crc(r["unified_id"]) for r in rows),
    }


# ------------------------------------------------------------------ #
# cross-shop matching over the scrape's unified titles
# ------------------------------------------------------------------ #


def shingle_set(title: str, n: int = 3) -> set[str]:
    """Word n-grams of the lowercased, alphanumeric-only title."""
    t = re.sub(r"[^a-z0-9 ]", " ", title.lower()).split()
    return {" ".join(t[i:i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: str, b: str) -> float:
    x, y = shingle_set(a), shingle_set(b)
    return len(x & y) / len(x | y) if x | y else 0.0


def _spelling(r: random.Random, title: str) -> str:
    """Another shop's spelling of the same title: changed case or
    punctuation, the same words once normalized."""
    words = title.split(" ")
    j = r.randrange(len(words))
    how = r.randrange(3)
    if how == 0:
        words[j] = words[j].upper()
    elif how == 1:
        words[j] = words[j] + ","
    else:
        words[j] = "-" + words[j].capitalize()
    return " ".join(words)


def match_id(shop: str, unified_id: str) -> str:
    """The product key the matcher sees: shop type and unified id."""
    return f"{SHOP_TYPE[shop]}:{unified_id}"
