"""Seeded input generators for the benchmark.

`tables(seed, out_dir, scale)` writes the ten fixture-shaped tables
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings) as one parquet file each, with the schemas the
engine's loaders pin (`graft.Tables`). Shapes follow the repo's test
fixtures: uniform TPC-H-ish keys, lineitem keys drawn at random so that
about a quarter of the (orderkey, linenumber) pairs repeat (bronze
quarantines them), and a 30-word document vocabulary with exact and
truncated near-duplicates for the corpus tiers.

The corpus tables (documents, embeddings) are drawn from a fixed seed of
their own and keep their size at every scale, so every run's corpus layer
sees the same 500 documents and its outputs can be held to counts recorded
from this tree (`checks.CORPUS_ROWS`).

`events(seed, n)` builds the event-bus traffic with the figures the repo
records for the reference producer (FIXTURES.md §2, BASELINE.md): topic mix
view:cart:wishlist:order = 70:20:8:2, 100 users, 8 products across 4
categories, cart quantity 1-3, 1-5 items per order, five payment methods.
Users and products are drawn uniformly, one `(topic, value)` JSON wire row
per event.

Everything is a pure function of the seed: the same seed gives the same
bytes of input.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "STANDARD", "SMALL", "MEDIUM", "LARGE", "PROMO"]
ADJ = ["cold", "small", "hot", "big", "red", "blue", "green", "light"]
NOUN = ["widget", "gadget", "bolt", "gear", "valve", "pump", "panel", "cable"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# base sizes of scale 1.0 (the repo's sf0.01 fixture)
BASE = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "lineitem": 60000, "events": 10000}
CORPUS_SEED = 20240101
CORPUS_DOCS = 500


def _days(n, start="1995-01-01"):
    """Midnight timestamps `n` days after `start`."""
    return np.datetime64(start, "us") + (n * 86_400_000_000).astype("timedelta64[us]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def tables(seed, out_dir, scale):
    """Write the ten tables at `scale` × the sf0.01 fixture sizes; returns
    {table: rows}."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {t: max(10, int(round(v * scale))) for t, v in BASE.items()}
    rows = {}

    def put(name, cols):
        _write(out_dir, name, cols)
        rows[name] = len(next(iter(cols.values())))

    put("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": pa.array(REGIONS)})
    put("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    put("customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc))})
    ns = n["supplier"]
    put("supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2))})
    npt = n["part"]
    put("part", {
        "p_partkey": pa.array(np.arange(npt), pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, npt), rng.integers(0, 8, npt))]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npt)]),
        "p_type": pa.array(rng.choice(PART_TYPES, npt)),
        "p_size": pa.array(rng.integers(1, 51, npt), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(npt) % 1000) / 10, 1))})
    no = n["orders"]
    put("orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, no), 2)),
        "o_orderdate": pa.array(_days(rng.integers(0, 2404, no)),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no))})
    nl = n["lineitem"]
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npt, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(rng.choice(["R", "A", "N"], nl)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], nl)),
        "l_shipdate": pa.array(_days(rng.integers(1, 2499, nl)),
                               pa.timestamp("us"))})
    ne = n["events"]
    gaps = rng.integers(1, 2 * 2_592_000_000_000 // ne, ne)  # ~30 days in all, µs
    put("events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us")
                       + np.cumsum(gaps).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, nc // 10, ne), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
        "value": pa.array(np.round(rng.exponential(50, ne) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])})
    # the corpus: fixed, whatever the seed and scale
    rng = np.random.default_rng(CORPUS_SEED)
    nd = CORPUS_DOCS
    texts = []
    for i in range(nd):
        r = rng.random()
        if i > 10 and r < 0.06:       # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.11:     # truncated near-duplicate marker doc
            src = texts[int(rng.integers(0, i))].split()
            texts.append(" ".join(src[:max(5, len(src) // 5)] + ["dup"]))
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    put("documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(nd)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = CORPUS_DOCS
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.5, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return rows


# --- event bus traffic ------------------------------------------------------

TOPICS = ["ecommerce.product.views", "ecommerce.cart.add",
          "ecommerce.wishlist.add", "ecommerce.orders.completed"]
TOPIC_P = [0.70, 0.20, 0.08, 0.02]
TOPIC_TYPE = ["product_view", "cart_add", "wishlist_add", "order_completed"]
USERS = 100
PRODUCTS = 8
CATEGORIES = ["electronics", "clothing", "books", "home"]
PAYMENTS = ["credit_card", "debit_card", "paypal", "apple_pay", "google_pay"]


def events(seed, n):
    """n event-bus events as (topic, value-json, event) triples; `event` is the
    decoded dict the aggregations are recomputed from. Product p belongs to
    category p mod 4, so each category holds two products."""
    rng = np.random.default_rng(seed)
    topic_ix = rng.choice(4, n, p=TOPIC_P)
    user = rng.integers(1, USERS + 1, n)
    prod = rng.integers(1, PRODUCTS + 1, n)
    qty = rng.integers(1, 4, n)
    n_items = rng.integers(1, 6, n)
    price_of = np.round(rng.uniform(1, 1000, PRODUCTS + 1), 2)
    out = []
    for i in range(n):
        t = int(topic_ix[i])
        p = int(prod[i])
        ev = {"event_id": f"e{seed}-{i}", "event_type": TOPIC_TYPE[t],
              "user_id": f"user_{int(user[i]):03d}",
              "timestamp": "2024-01-01T00:00:00",
              "session_id": f"session_{int(user[i])}-{i // 50}"}
        product = {"product_id": p, "product_name": f"product {p}",
                   "product_category": CATEGORIES[p % 4],
                   "product_price": float(price_of[p])}
        if t == 0:
            ev.update(product, page_url=f"/product/{p}", referrer="search")
        elif t == 1:
            q = int(qty[i])
            ev.update(product, quantity=q,
                      total_amount=round(q * float(price_of[p]), 2))
        elif t == 2:
            ev.update(product)
        else:
            items = []
            for k in range(int(n_items[i])):
                ip = (p + k - 1) % PRODUCTS + 1
                q = 1 + (i + k) % 3  # 1-3, as a cart add's quantity
                items.append({"product_id": ip, "product_name": f"product {ip}",
                              "product_category": CATEGORIES[ip % 4],
                              "product_price": float(price_of[ip]),
                              "quantity": q,
                              "item_total": round(q * float(price_of[ip]), 2)})
            ev.update(order_id=f"order_{seed}_{i}", items=items,
                      total_amount=round(sum(x["item_total"] for x in items), 2),
                      payment_method=PAYMENTS[int(user[i] + i) % 5],
                      shipping_address={"street": f"{i} Main St", "city": "X",
                                        "state": "Y", "zip_code": "00000",
                                        "country": "US"})
        out.append((TOPICS[t], json.dumps(ev), ev))
    return out
