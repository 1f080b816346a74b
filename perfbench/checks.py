"""Output checks. Every function returns a list of (name, expected, got)
triples, one per checked output; a triple with expected != got is a failed
operation and counts toward `fail_ratio`.

- `lake`: the row count of every bronze, silver, gold, corpus and
  maintenance output and every bronze quarantine count. Expected counts come
  from the program's own DuckDB oracle SQL (the SQL its oracle gate runs)
  over the layer the Runner read, so they hold for any generated input.
  The corpus is the same for every seed (`gen.CORPUS_SEED`), and its
  outputs are held to `CORPUS_ROWS`, recorded from this tree.
- `stream`: the final `KvSink` snapshot of each aggregation against the same
  `EventBus` aggregation run in batch over every landed event, and against
  a recount from the generator's own events.
"""
import collections
import glob
import os
from decimal import Decimal

RAW_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
ENTITIES = ["orders", "lineitem", "customer", "supplier", "nation", "region",
            "part", "events"]
# Row counts of the corpus outputs for the fixed benchmark corpus, recorded
# from this tree; `prepared` also equals the count from the program's DuckDB
# d18 oracle SQL over the same documents.
CORPUS_ROWS = {"corpus/prepared": 209, "corpus/containment_dropped": 0,
               "corpus/span_clean": 209, "corpus/chunks": 447,
               "corpus/chunks_clustered": 445, "corpus/packed": 209}


def _views(con, raw_dir, layer_dir=None):
    """Bind the table names the oracle SQL uses: a layer's copy where the
    layer has one, else the raw drop."""
    for t in RAW_TABLES:
        src = os.path.join(raw_dir, f"{t}.parquet")
        if layer_dir and glob.glob(os.path.join(layer_dir, t, "*.parquet")):
            src = os.path.join(layer_dir, t, "*.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{src}'")


def _rows(con, path, fmt="parquet"):
    files = glob.glob(os.path.join(path, f"*.{fmt}")) + \
        glob.glob(os.path.join(path, f"*/*.{fmt}"))
    if not files:
        return 0
    reader = {"parquet": "read_parquet", "csv": "read_csv_auto"}[fmt]
    lst = ",".join(f"'{f}'" for f in files)
    return con.execute(f"SELECT count(*) FROM {reader}([{lst}])").fetchone()[0]


def _oracle_rows(con, sql):
    return con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]


def lake(raw_dir, lake_dir, oracle, corpus_rows=None):
    import duckdb
    con = duckdb.connect()
    out = []
    got = lambda rel, fmt="parquet": _rows(con, os.path.join(lake_dir, rel), fmt)

    # bronze: per-table validation split, counted by the oracle's report
    _views(con, raw_dir)
    report = con.execute(oracle["q22b_validation_all"]).fetchdf()
    tcol = next(c for c in report.columns if "table" in c)
    valid = {}
    for _, r in report.iterrows():
        t = r[tcol]
        if t not in ENTITIES:
            continue
        valid[t] = int(r["valid"])
        out.append((f"bronze/{t}", valid[t], got(f"bronze/{t}")))
        out.append((f"bronze/{t}_bad/quarantine",
                    int(r["invalid"]) + int(r["duplicate"]),
                    got(f"bronze/{t}_bad/quarantine", "csv")))
    # silver: conformed copies of bronze, staging outputs over bronze
    for t in ENTITIES:
        out.append((f"silver/{t}", valid.get(t), got(f"silver/{t}")))
    _views(con, raw_dir, os.path.join(lake_dir, "bronze"))
    for rel, q in [("silver/line_dedup_map", "q18_dedup_map"),
                   ("silver/part_conformed", "q19_product_imputation"),
                   ("silver/customer_enriched", "q20_customer_geo_enrich"),
                   ("silver/user_last_event", "q21_latest_event_per_user")]:
        out.append((rel, _oracle_rows(con, oracle[q]), got(rel)))
    # gold: marts over silver
    _views(con, raw_dir, os.path.join(lake_dir, "silver"))
    for rel, q in [("gold/kpi_totals", "q02_kpi_totals"),
                   ("gold/daily_sales", "q03_daily_sales"),
                   ("gold/rfm", "q07_rfm"),
                   ("gold/event_totals", "q25_running_totals"),
                   ("gold/supplier_scorecard", "q09_supplier_scorecard")]:
        out.append((rel, _oracle_rows(con, oracle[q]), got(rel)))
    # corpus: the card against its oracle, every other output against the
    # counts recorded for the fixed corpus
    _views(con, raw_dir)
    out.append(("corpus/stats", _oracle_rows(con, oracle["d19_corpus_stats"]),
                got("corpus/stats")))
    for rel, n in (CORPUS_ROWS if corpus_rows is None else corpus_rows).items():
        out.append((rel, n, got(rel)))
    con.close()
    return out


# --- event stream -----------------------------------------------------------

def _canon(name, rows):
    """Aggregation rows → {key: value tuple}, keyed like the KvSink."""
    key = {"product_views": ("product_id",), "category_views": ("product_category",),
           "user_activity": ("user_id", "event_type"), "cart_totals": (),
           "order_category_revenue": ("product_category",)}[name]
    out = {}
    for r in rows:
        k = tuple(str(r[c]) for c in key)
        out[k] = tuple(sorted((c, _num(v)) for c, v in r.items() if c not in key))
    return out


def _num(v):
    return round(float(v), 2) if isinstance(v, float) else v


def recount(events):
    """The five aggregations recomputed from the generator's decoded events,
    with the EventBus semantics (counts, decimal(18,2) sums cast to double)."""
    views, cats, users = (collections.Counter() for _ in range(3))
    cart = [0, 0, Decimal(0)]
    rev = collections.defaultdict(lambda: [0, Decimal(0)])
    for e in events:
        users[(e["user_id"], e["event_type"])] += 1
        if e["event_type"] == "product_view":
            views[e["product_id"]] += 1
            cats[e["product_category"]] += 1
        elif e["event_type"] == "cart_add":
            cart[0] += 1
            cart[1] += e["quantity"]
            cart[2] += Decimal(str(e["total_amount"]))
        elif e["event_type"] == "order_completed":
            for it in e["items"]:
                r = rev[it["product_category"]]
                r[0] += 1
                r[1] += Decimal(str(it["item_total"]))
    rows = {
        "product_views": [{"product_id": k, "views": v} for k, v in views.items()],
        "category_views": [{"product_category": k, "views": v} for k, v in cats.items()],
        "user_activity": [{"user_id": u, "event_type": t, "n_events": v}
                          for (u, t), v in users.items()],
        "cart_totals": [{"n_cart_adds": cart[0], "units": cart[1],
                         "cart_value": float(cart[2])}] if cart[0] else [],
        "order_category_revenue": [{"product_category": k, "n_lines": v[0],
                                    "revenue": float(v[1])} for k, v in rev.items()],
    }
    return rows


def stream(snapshot, batch, events):
    """One triple per (aggregation, key): the sink's value must equal the
    batch value and the recount from the generated events."""
    want = recount(events)
    out = []
    for name in want:
        s, b, w = (_canon(name, x.get(name, [])) for x in (snapshot, batch, want))
        for k in sorted(set(s) | set(b) | set(w)):
            exp = w.get(k)
            got = s.get(k) if s.get(k) == b.get(k) else ("sink", s.get(k), "batch", b.get(k))
            out.append((f"{name}/{'|'.join(k)}", exp, got))
    return out
