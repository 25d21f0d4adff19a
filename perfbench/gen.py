"""Seeded input generators for the benchmark.

Every generator is a pure function of ``(seed, size)``: the same seed
writes byte-identical parquet files. The engine under test only ever
sees these files.

- :func:`tpch_tables` -- the TPC-H-ish star schema plus the events,
  documents and embeddings tables that the registry queries read
  (same schemas and value domains as the engine's test data). Keys are
  remapped per seed: every key of a table is shifted by ``copy *
  stride`` (stride = the table's row count), the construction
  ``tools/gen_sf1.py`` uses for its remapped copies.
- :func:`corpus_documents` -- a documents table with planted
  near-duplicate pairs of known ground truth.
- :func:`cdc_stream` -- a base orders table and a stream of CDC
  micro-batches (insert / update / delete, Zipf-skewed keys).
- :func:`yelp_tables` -- the six Yelp tables of the reference pipeline,
  with the fixtures' dirty-data quirks and a planted label signal.
"""

from __future__ import annotations

import json
import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# value domains of the engine's test data
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_EPOCH_1995 = np.datetime64("1995-01-01T00:00:00", "us")
_EPOCH_2024 = np.datetime64("2024-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, n)
    words = rng.integers(0, len(WORDS), int(lens.sum()))
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(WORDS[w] for w in words[pos:pos + k]))
        pos += k
    return out


# ---------------------------------------------------------------- TPC-H-ish
def tpch_tables(out: str, seed: int, n_orders: int) -> dict[str, int]:
    """Write the ten engine tables to ``out``; returns row counts."""
    rng = np.random.default_rng([seed, 1])
    copy = seed % 97  # key remap: keys of copy k start at k * stride
    n_cust = max(n_orders // 10, 50)
    n_part = max(n_orders * 2 // 15, 50)
    n_supp = max(n_orders // 150, 10)
    n_events = n_orders * 2 // 3
    n_users = max(n_events // 60, 20)
    n_docs = max(n_orders // 30, 100)
    ck, pk, sk, ok = (copy * n for n in (n_cust, n_part, n_supp, n_orders))
    os.makedirs(out, exist_ok=True)

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust) + ck, pa.int64()),
        "c_name": [f"Customer#{i + ck:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp) + sk, pa.int64()),
        "s_name": [f"Supplier#{i + sk:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out}/supplier.parquet")
    # whole hundreds: every revenue expression the queries compute
    # (price * qty * (1 - discount) * (1 + tax)) then has at most two
    # decimals, so no sum lands on a half-cent that the two engines
    # round differently
    price = 100.0 * rng.integers(9, 21, n_part)
    _write(pa.table({
        "p_partkey": pa.array(np.arange(n_part) + pk, pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[t] for t in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price,
    }), f"{out}/part.parquet")

    odate = _EPOCH_1995 + rng.integers(0, 2404, n_orders) * np.timedelta64(1, "D")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders) + ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders) + ck, pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _ts(odate),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_orders)],
    }), f"{out}/orders.parquet")

    lines = rng.integers(1, 8, n_orders)
    n_li = int(lines.sum())
    order_idx = np.repeat(np.arange(n_orders), lines)
    linenum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    part_idx = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    _write(pa.table({
        "l_orderkey": pa.array(order_idx + ok, pa.int64()),
        "l_partkey": pa.array(part_idx + pk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li) + sk, pa.int64()),
        "l_linenumber": pa.array(linenum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[part_idx], 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[f] for f in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[order_idx]
                          + rng.integers(1, 122, n_li) * np.timedelta64(1, "D")),
    }), f"{out}/lineitem.parquet")

    ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    _write(pa.table({
        "event_id": pa.array(np.arange(n_events) + copy * n_events, pa.int64()),
        "ts": _ts(_EPOCH_2024 + ts.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [EVENT_TYPES[e] for e in rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    }), f"{out}/events.parquet")

    _write(_documents(rng, n_docs, copy * n_docs), f"{out}/documents.parquet")
    n_vec = 100
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(
            list(rng.standard_normal((n_vec, 64)).astype(np.float32)),
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    }), f"{out}/embeddings.parquet")
    return {"orders": n_orders, "lineitem": n_li, "customer": n_cust,
            "part": n_part, "supplier": n_supp, "events": n_events,
            "documents": n_docs}


def _documents(rng, n: int, key0: int, texts: list[str] | None = None) -> pa.Table:
    texts = texts if texts is not None else _texts(rng, n, 8, 90)
    return pa.table({
        "doc_id": pa.array(np.arange(n) + key0, pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


# ------------------------------------------------------------------- corpus
DUP_SHARE = 0.1  # share of the corpus that is a near-copy of an earlier doc


def corpus_documents(out: str, seed: int, n_docs: int) -> list[tuple[int, int]]:
    """Write ``out/documents.parquet`` (plus the other engine tables the
    oracle views need) and return the planted near-duplicate pairs
    ``(id_a, id_b)``, ``id_a < id_b``.

    A ``DUP_SHARE`` of the docs are near-copies of an earlier original:
    one word of a 40-90-word original replaced, so their word-3-shingle
    Jaccard similarity stays >= ~0.9."""
    rng = np.random.default_rng([seed, 2])
    key0 = (seed % 97) * n_docs
    n_dup = int(n_docs * DUP_SHARE)
    n_orig = n_docs - n_dup
    texts = _texts(rng, n_orig, 40, 90)
    src = rng.choice(n_orig, n_dup, replace=False)
    pairs = []
    for j, i in enumerate(src):
        words = texts[i].split(" ")
        words[rng.integers(0, len(words))] = WORDS[rng.integers(0, len(WORDS))]
        texts.append(" ".join(words))
        pairs.append((int(i) + key0, n_orig + j + key0))
    os.makedirs(out, exist_ok=True)
    _write(_documents(rng, n_docs, key0, texts), f"{out}/documents.parquet")
    tpch_tables(out + "/_dims", seed, 300)
    for name in os.listdir(out + "/_dims"):
        if name != "documents.parquet":
            os.replace(f"{out}/_dims/{name}", f"{out}/{name}")
    return sorted(pairs)


# ---------------------------------------------------------------------- CDC
CDC_MIX = (0.3, 0.6, 0.1)  # insert / update / delete shares of a batch
CDC_ZIPF_A = 1.2  # skew of the update and delete keys
CDC_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderdate", "o_orderpriority"]


def _orders_rows(rng, keys: np.ndarray) -> dict:
    n = len(keys)
    return {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 10_000, n), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _ts(_EPOCH_1995
                           + rng.integers(0, 2404, n) * np.timedelta64(1, "D")),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n)],
    }


def cdc_stream(out: str, seed: int, n_base: int, n_batches: int, batch_rows: int) -> None:
    """Write ``out/base.parquet`` and ``out/batch_NNNN.parquet``.

    Each batch holds ``batch_rows`` distinct keys: inserts of new keys,
    updates and deletes (``__deleted = true``) of live keys. Update and
    delete keys are drawn Zipf(``CDC_ZIPF_A``)-skewed over a seeded ranking
    of the live keys, so a few hot keys change in most batches."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    key0 = (seed % 97) * n_base * 4
    base_keys = np.arange(n_base) + key0
    base = pa.table(_orders_rows(rng, base_keys))
    _write(base, f"{out}/base.parquet")
    live = list(base_keys)
    next_key = key0 + n_base
    for b in range(n_batches):
        n_ins = int(batch_rows * CDC_MIX[0])
        n_del = int(batch_rows * CDC_MIX[2])
        n_upd = batch_rows - n_ins - n_del
        ranks = np.minimum(rng.zipf(CDC_ZIPF_A, 4 * (n_upd + n_del)) - 1, len(live) - 1)
        chosen = list(dict.fromkeys(live[r] for r in ranks))
        extra = rng.permutation(len(live))
        chosen += [live[r] for r in extra[: 2 * (n_upd + n_del)]]
        chosen = list(dict.fromkeys(chosen))[: n_upd + n_del]
        upd, dele = chosen[:n_upd], chosen[n_upd:]
        ins = list(range(next_key, next_key + n_ins))
        next_key += n_ins
        keys = np.array(ins + upd + dele, dtype=np.int64)
        cols = _orders_rows(rng, keys)
        cols["__deleted"] = pa.array([False] * (n_ins + n_upd) + [True] * len(dele))
        _write(pa.table(cols), f"{out}/batch_{b:04d}.parquet")
        gone = set(dele)
        live = [k for k in live if k not in gone] + ins


# --------------------------------------------------------------------- Yelp
# quirk vocabularies of pipeline/fixtures.py and fixtures/yelp
FOOD_CATS = ["Coffee, Restaurants", "Food, Breakfast", "Cafes", "Bars, Nightlife",
             "Restaurants, Pizza"]
OTHER_CATS = ["Automotive, Repair", "Shopping", "Health, Dentists"]
CITIES = [("Springfield", "IL"), ("Capital City", "IL"), ("Shelbyville", "IN"),
          ("Ogdenville", "OH"), ("North Haverbrook", "OH")]
ALCOHOL = [None, "'full_bar'", "u'full_bar'", "'beer_and_wine'", "u'beer_and_wine'",
           "'none'", "u'none'"]
WIFI = [None, "'free'", "u'free'", "'paid'", "u'paid'", "'no'", "u'no'"]
BOOL = [None, "True", "False"]
AMBIENCE = [None, "{'romantic': True, 'casual': False}",
            "{'romantic': False, 'casual': True}", "{'trendy': True, 'casual': True}"]
PARKING = [None, "{'garage': True, 'street': False}", "{'lot': True, 'street': True}"]
MEAL = [None, "{'dinner': True, 'lunch': False}", "{'breakfast': True}"]
HOURS = [None, "9:0-21:0", "22:0-2:0", "8:0-16:0", "18:0-18:0", "7:0-15:0", "11:0-23:30"]


def _stamp(rng, n: int, lo: int, hi: int) -> list[tuple]:
    """(year, month, day, hour, minute) of ``n`` days drawn from ``[lo, hi)``
    days after 2015-01-01."""
    days = np.datetime64("2015-01-01") + rng.integers(lo, hi, n).astype("timedelta64[D]")
    hours, mins = rng.integers(0, 24, n), rng.integers(0, 60, n)
    return [(d.year, d.month, d.day, int(h), int(m))
            for d, h, m in zip(days.astype(object), hours, mins)]


def yelp_tables(out: str, seed: int, n_business: int) -> dict[str, int]:
    """Write the six Yelp tables ``build_basetable`` reads; returns the
    basetable's row count and label sum.

    Businesses carry the fixtures' dirty-data quirks (quote-variant
    enums, dict-literal maps, past-midnight hours, single-digit review
    months, leading-space checkin dates, duplicate covid rows, non-food
    businesses, businesses without reviews). The label ("delivery or
    takeout") is planted on the RestaurantsDelivery / RestaurantsTakeOut
    attributes, flipped for a tenth of the businesses."""
    rng = np.random.default_rng([seed, 4])
    n = n_business
    ids = [f"b{seed}_{i}" for i in range(n)]
    food = rng.random(n) < 0.85
    cats = [FOOD_CATS[rng.integers(0, len(FOOD_CATS))] if f
            else OTHER_CATS[rng.integers(0, len(OTHER_CATS))] for f in food]
    city = [CITIES[c] for c in rng.integers(0, len(CITIES), n)]
    deliv = rng.integers(0, 3, n)
    take = rng.integers(0, 3, n)
    signal = (deliv == 1) | (take == 1)
    label = np.where(rng.random(n) < 0.1, ~signal, signal)

    def pick(vocab):
        return vocab[rng.integers(0, len(vocab))]

    attrs, hours = [], []
    for i in range(n):
        attrs.append({
            "Alcohol": pick(ALCOHOL), "Ambience": pick(AMBIENCE),
            "BikeParking": pick(BOOL), "BusinessAcceptsBitcoin": pick(BOOL),
            "BusinessAcceptsCreditCards": pick(BOOL), "BusinessParking": pick(PARKING),
            "Caters": pick(BOOL), "DietaryRestrictions": None, "DriveThru": pick(BOOL),
            "GoodForMeal": pick(MEAL), "Open24Hours": pick(BOOL),
            "OutdoorSeating": pick(BOOL), "RestaurantsDelivery": BOOL[deliv[i]],
            # always set: a null price range reaches RFormula unrecoded
            "RestaurantsPriceRange2": str(rng.integers(1, 5)),
            "RestaurantsTakeOut": BOOL[take[i]], "WiFi": pick(WIFI),
        })
        hours.append({d: pick(HOURS) for d in
                      ("Monday", "Tuesday", "Wednesday", "Thursday", "Friday",
                       "Saturday", "Sunday")})
    os.makedirs(out, exist_ok=True)
    _write(pa.table({
        "business_id": ids,
        "name": [f"{pick(('Cafe', 'Diner', 'Bar', 'Grill'))} {rng.integers(1, 9)}"
                 for _ in range(n)],
        "categories": cats,
        "attributes": attrs,
        "hours": hours,
        "city": [c for c, _ in city],
        "state": [s for _, s in city],
        "is_open": pa.array(rng.integers(0, 2, n), pa.int64()),
        "review_count": pa.array(rng.integers(0, 200, n), pa.int64()),
        "stars": rng.integers(2, 11, n) / 2.0,
    }), f"{out}/business.parquet")

    n_user = max(n // 2, 10)
    _write(pa.table({
        "user_id": [f"u{i}" for i in range(n_user)],
        "fans": pa.array(rng.integers(0, 50, n_user), pa.int64()),
    }), f"{out}/user.parquet")

    # a tenth of the businesses get no reviews: the user-metrics inner
    # join drops them
    reviewed = rng.random(n) >= 0.1
    n_rev = 4 * n
    rb = rng.choice(np.flatnonzero(reviewed), n_rev)
    rb[: reviewed.sum()] = np.flatnonzero(reviewed)  # every reviewed business has one
    # an eleventh of the reviewers are missing from the user table
    ru = rng.integers(0, n_user + n_user // 10, n_rev)
    _write(pa.table({
        "review_id": [f"r{i}" for i in range(n_rev)],
        "user_id": [f"u{u}" for u in ru],
        "business_ID": [ids[b] for b in rb],
        "stars": rng.integers(1, 6, n_rev).astype(float),
        "useful": pa.array(rng.integers(0, 10, n_rev), pa.int64()),
        "date": [f"{y}-{m}-{d} {h}:{mi:02d}:00"
                 for y, m, d, h, mi in _stamp(rng, n_rev, 0, 1885)],
        "text": _texts(rng, n_rev, 3, 12),
    }), f"{out}/review.parquet")

    n_chk = 3 * n
    _write(pa.table({
        "business_ID": [ids[b] for b in rng.integers(0, n, n_chk)],
        "date": [f" {y}-{m}-{d:02d} {h}:{mi:02d}:00"
                 for y, m, d, h, mi in _stamp(rng, n_chk, 0, 1885)],
    }), f"{out}/checkin.parquet")

    n_tip = n
    _write(pa.table({
        "business_id": [ids[b] for b in rng.integers(0, n, n_tip)],
        "user_id": [f"u{u}" for u in rng.integers(0, n_user, n_tip)],
        "text": _texts(rng, n_tip, 2, 6),
        "date": [f"{y}-{m:02d}-{d:02d}" for y, m, d, _, _ in _stamp(rng, n_tip, 0, 1885)],
    }), f"{out}/tip.parquet")

    # a twentieth of the businesses have no covid row; a tenth have two
    # identical ones
    has_label = rng.random(n) >= 0.05
    twice = has_label & (rng.random(n) < 0.1)
    cov = [i for i in range(n) if has_label[i]] + [i for i in range(n) if twice[i]]
    _write(pa.table({
        "business_id": [ids[i] for i in cov],
        "delivery or takeout": ["TRUE" if label[i] else "FALSE" for i in cov],
    }), f"{out}/covid.parquet")

    # the basetable keeps food businesses with a label and a reviewer
    # who is in the user table
    fan_biz = set(rb[ru < n_user])
    keep = [i for i in range(n) if food[i] and has_label[i] and i in fan_biz]
    return {"rows": len(keep), "label_sum": int(sum(label[i] for i in keep))}

