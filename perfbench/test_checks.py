"""Tests of the benchmark's own output checks: each must fail when one event
or one row is dropped.

    python3 -m unittest perfbench/test_checks.py

The lake test builds a small lake with the expected layout by hand (DuckDB
writes the parquet and CSV files), so it needs no JVM.
"""
import os
import shutil
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402


def failures(results):
    return [r for r in results if r[1] != r[2]]


class StreamCheck(unittest.TestCase):
    def setUp(self):
        self.events = [e for _, _, e in gen.events(3, 3000)]
        self.want = checks.recount(self.events)

    def test_passes_on_exact_sink(self):
        self.assertEqual(failures(checks.stream(self.want, self.want, self.events)), [])

    def test_one_dropped_event_fails(self):
        # the sink and the batch run both miss the same event: only the
        # recount from the generator can see it
        for kind in ("product_view", "cart_add", "wishlist_add", "order_completed"):
            i = next(i for i, e in enumerate(self.events) if e["event_type"] == kind)
            lost = checks.recount(self.events[:i] + self.events[i + 1:])
            self.assertTrue(failures(checks.stream(lost, lost, self.events)), kind)

    def test_sink_disagreeing_with_batch_fails(self):
        lost = checks.recount(self.events[1:])
        self.assertTrue(failures(checks.stream(lost, self.want, self.events)))


class LakeCheck(unittest.TestCase):
    """A lake whose every output holds exactly the oracle's row count, then
    the same lake with one row removed from each output in turn."""

    @classmethod
    def setUpClass(cls):
        import duckdb
        cls.tmp = tempfile.mkdtemp()
        cls.raw = os.path.join(cls.tmp, "raw")
        gen.tables(5, cls.raw, 0.05)
        # oracle stand-ins: row-preserving projections of raw tables, so the
        # expected counts are known without the program
        cls.oracle = {q: f"SELECT * FROM {t}" for q, t in [
            ("q18_dedup_map", "lineitem"), ("q19_product_imputation", "part"),
            ("q20_customer_geo_enrich", "customer"), ("q21_latest_event_per_user", "events"),
            ("q02_kpi_totals", "region"), ("q03_daily_sales", "orders"),
            ("q07_rfm", "customer"), ("q25_running_totals", "events"),
            ("q09_supplier_scorecard", "supplier"), ("d19_corpus_stats", "nation")]}
        # two lineitem rows quarantined as duplicates
        cls.oracle["q22b_validation_all"] = " UNION ALL ".join(
            f"SELECT '{t}' AS table_name, count(*) AS valid, 0 AS invalid, "
            f"{2 if t == 'lineitem' else 0} AS duplicate FROM {t}" for t in checks.ENTITIES)
        cls.lake = os.path.join(cls.tmp, "lake")
        con = duckdb.connect()
        checks._views(con, cls.raw)

        def write(rel, sql, fmt="parquet"):
            d = os.path.join(cls.lake, rel)
            os.makedirs(d, exist_ok=True)
            opt = "(FORMAT csv, HEADER)" if fmt == "csv" else "(FORMAT parquet)"
            con.execute(f"COPY ({sql}) TO '{d}/part-0.{fmt}' {opt}")
        for t in checks.ENTITIES:
            write(f"bronze/{t}", f"SELECT * FROM {t}")
            write(f"bronze/{t}_bad/quarantine",
                  f"SELECT * FROM {t} LIMIT {2 if t == 'lineitem' else 0}", "csv")
            write(f"silver/{t}", f"SELECT * FROM {t}")
        for rel, q in [("silver/line_dedup_map", "q18_dedup_map"),
                       ("silver/part_conformed", "q19_product_imputation"),
                       ("silver/customer_enriched", "q20_customer_geo_enrich"),
                       ("silver/user_last_event", "q21_latest_event_per_user"),
                       ("gold/kpi_totals", "q02_kpi_totals"),
                       ("gold/daily_sales", "q03_daily_sales"), ("gold/rfm", "q07_rfm"),
                       ("gold/event_totals", "q25_running_totals"),
                       ("gold/supplier_scorecard", "q09_supplier_scorecard"),
                       ("corpus/stats", "d19_corpus_stats")]:
            write(rel, cls.oracle[q])
        docs = "SELECT doc_id, text FROM documents"
        write("corpus/prepared", docs)
        write("corpus/containment_dropped", "SELECT doc_id FROM documents LIMIT 3")
        write("corpus/span_clean", docs + " OFFSET 3")
        write("corpus/chunks", docs)
        write("corpus/chunks_clustered", docs + " WHERE doc_id > 0")
        write("corpus/packed", docs)
        n = con.execute("SELECT count(*) FROM documents").fetchone()[0]
        cls.corpus = {"corpus/prepared": n, "corpus/containment_dropped": 3,
                      "corpus/span_clean": n - 3, "corpus/chunks": n,
                      "corpus/chunks_clustered": n - 1, "corpus/packed": n}
        con.close()

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def check(self):
        return checks.lake(self.raw, self.lake, self.oracle, self.corpus)

    def test_passes_on_intact_lake(self):
        results = self.check()
        self.assertEqual(failures(results), [])
        self.assertGreaterEqual(len(results), 38)

    def test_one_dropped_row_fails_every_output(self):
        import duckdb
        con = duckdb.connect()
        for rel in sorted({r[0] for r in self.check()}):
            d = os.path.join(self.lake, rel)
            (f,) = [os.path.join(d, x) for x in os.listdir(d)]
            csv = f.endswith(".csv")
            if csv and os.path.getsize(f) < 200:
                continue  # an empty quarantine has no row to drop
            keep = f + ".keep"
            shutil.move(f, keep)
            src = f"read_csv_auto('{keep}')" if csv else f"read_parquet('{keep}')"
            try:
                con.execute(f"COPY (SELECT * FROM {src} LIMIT (SELECT count(*) - 1 FROM {src})) "
                            f"TO '{f}' " + ("(FORMAT csv, HEADER)" if csv else "(FORMAT parquet)"))
                self.assertTrue(failures(self.check()), rel)
            finally:
                shutil.move(keep, f)
        con.close()


if __name__ == "__main__":
    unittest.main()
