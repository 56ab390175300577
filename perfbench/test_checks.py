"""The benchmark's own tests: each output check accepts a correct output and
rejects a corrupted one (one dropped row, one altered value).

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import shutil
import tempfile
import unittest

import checks
import gen

# scratch space inside the benchmark's own (ignored) run directory
SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "work", "tests")
os.makedirs(SCRATCH, exist_ok=True)


class ModelTest(unittest.TestCase):
    """The generator's model follows the reference's transform rules."""

    def row(self, **kw):
        base = dict(purpose="Prodej bytu", address="Husova 1, Brno, Jihomoravský kraj",
                    size="50 m2", design="2+kk", price="5 000 000 Kč", link="/a")
        base.update(kw)
        return (base["purpose"], base["address"], base["size"], base["design"],
                base["price"], base["link"])

    def test_rules(self):
        kept = gen.expected([
            self.row(link="/ok"),
            self.row(link="/ok"),                                           # duplicate link
            self.row(link="/eur", price="450 000 EUR"),
            self.row(link="/floor", price="300 Kč"),
            self.row(link="/rent", purpose="Pronájem kanceláře", price="1 000 Kč"),
            self.row(link="/sale", purpose="Prodej domu", price="20 000 Kč"),
            self.row(link="/land", purpose="Prodej pozemku", size="10 m2", price="900 000 Kč"),
            self.row(link="/abroad", address="Husova 1, Mnichov, Bavorský kraj"),
            self.row(link="/nosize", size=""),
            self.row(link="/praha", address="Husova 1, Praha 2"),
            self.row(link="/flat", purpose="Pronájem bytu", price="900 Kč"),
        ])
        self.assertEqual(kept, [
            ("/ok", "Jihomoravsky kraj", 5_000_000, 100_000),
            ("/nosize", "Jihomoravsky kraj", 5_000_000, None),
            ("/praha", "Praha", 5_000_000, 100_000),
            ("/flat", "Jihomoravsky kraj", 900, 18),
        ])


class EtlChecksTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(dir=SCRATCH)
        self.days = gen.listings(self.tmp, 1, 700, seed=5)
        self.sink = [(link, region, price, ppm2, gen.day_stamp(0), "", i)
                     for i, (_, rows) in enumerate(self.days[0])
                     for link, region, price, ppm2 in gen.expected(rows)]

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def test_correct_sink_passes(self):
        self.assertEqual(checks.compare_day(0, self.days[0], self.sink), [])
        self.assertEqual(checks.check_sink_keys(self.sink), [])

    def test_dropped_row_fails(self):
        self.assertTrue(checks.compare_day(0, self.days[0], self.sink[1:]))

    def test_altered_values_fail(self):
        def alter(field, fn):
            bad = list(self.sink)
            i = next(i for i, r in enumerate(bad) if r[3] is not None and r[1] != "Praha")
            r = list(bad[i])
            r[field] = fn(r[field])
            bad[i] = tuple(r)
            return checks.compare_day(0, self.days[0], bad)
        self.assertTrue(alter(1, lambda _: "Praha"))          # region
        self.assertTrue(alter(2, lambda p: p + 1))            # price_czk
        self.assertTrue(alter(3, lambda _: None))             # price_per_m2
        self.assertTrue(alter(0, lambda l: l + "x"))          # link

    def test_repeated_row_fails(self):
        self.assertTrue(checks.check_sink_keys(self.sink + [self.sink[0]]))

    def test_archive(self):
        files = [n for n, _ in self.days[0]]
        self.assertEqual(checks.check_archive(files, files[:-1], files[-1:]), [])
        self.assertTrue(checks.check_archive(files, files[1:-1], files[-1:]))
        self.assertTrue(checks.check_archive(files, files[:-2], files[-2:]))


class RegistryChecksTest(unittest.TestCase):
    # the same fixture tables the analytics_mix workload reads
    data = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.001")

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp(dir=SCRATCH)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def write(self, out, name, rows_sql):
        os.makedirs(os.path.join(out, name), exist_ok=True)
        con = checks.connect(self.data)
        con.execute(f"COPY ({rows_sql}) TO '{out}/{name}/part-0.parquet' (FORMAT PARQUET)")

    def run_check(self, spark_sql):
        out = tempfile.mkdtemp(dir=self.tmp)
        oracle = "SELECT n_regionkey AS r, count(*) AS c FROM nation GROUP BY 1 ORDER BY 1"
        with open(os.path.join(out, "oracle_sql.json"), "w") as f:
            json.dump({"agg_regions": oracle}, f)
        self.write(out, "agg_regions", spark_sql or oracle)
        return checks.check_registry(self.data, out)

    def test_oracle_compare(self):
        self.assertEqual(self.run_check(None), [])
        self.assertTrue(self.run_check(
            "SELECT n_regionkey AS r, count(*) AS c FROM nation WHERE n_regionkey > 0 "
            "GROUP BY 1 ORDER BY 1"))
        self.assertTrue(self.run_check(
            "SELECT n_regionkey AS r, count(*) + (n_regionkey = 2)::BIGINT AS c FROM nation "
            "GROUP BY 1 ORDER BY 1"))

    def test_kcore(self):
        want = checks.kcore_peel(checks.connect(self.data))
        self.assertTrue(want, "the fixture must leave a non-empty core")
        out = tempfile.mkdtemp(dir=self.tmp)
        rows = lambda rs: " UNION ALL ".join(f"SELECT {a}::BIGINT AS id, {b}::BIGINT AS deg"
                                             for a, b in rs)
        self.write(out, "graph_kcore", rows(want))
        con = checks.connect(self.data)
        self.assertEqual(checks.check_kcore(con, out), [])
        self.write(out, "graph_kcore", rows(want[1:]))
        self.assertTrue(checks.check_kcore(con, out))
        self.write(out, "graph_kcore", rows([(want[0][0], want[0][1] + 1)] + want[1:]))
        self.assertTrue(checks.check_kcore(con, out))


if __name__ == "__main__":
    unittest.main()
