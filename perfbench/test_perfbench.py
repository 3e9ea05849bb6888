"""Tests of the benchmark's own logic: python3 -m unittest discover perfbench"""
import hashlib
import json
import math
import os
import sys
import tempfile
import unittest

import pyarrow.csv as pacsv
import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import stats  # noqa: E402

SMALL = {"travelers": 3_000, "cities": 60, "airports": 1_500,
         "temp_cities": 30, "temp_months": 24}


def digest(d):
    h = hashlib.sha256()
    for f in sorted(os.listdir(d)):
        h.update(f.encode())
        with open(os.path.join(d, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def read_csv(path, delimiter=","):
    return pacsv.read_csv(path, parse_options=pacsv.ParseOptions(delimiter=delimiter),
                          convert_options=pacsv.ConvertOptions(
                              strings_can_be_null=True,
                              column_types={"": pa.int64(), "iata_code": pa.string(),
                                            "i94port": pa.string(), "gender": pa.string()}))


class GeneratorTest(unittest.TestCase):

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            for kind, fn in (("etl", lambda s, d: gen.gen_etl(s, d, SMALL)),
                             ("tables", lambda s, d: gen.gen_tables(s, d))):
                a, b, c = (os.path.join(t, f"{kind}{i}") for i in range(3))
                fn(5, a)
                fn(5, b)
                fn(6, c)
                self.assertEqual(digest(a), digest(b), kind)
                self.assertNotEqual(digest(a), digest(c), kind)

    def test_planted_counts(self):
        """The generator's validation counts, recomputed independently from
        the CSVs it wrote with the reference pipeline's rules."""
        with tempfile.TemporaryDirectory() as d:
            exp = gen.gen_etl(11, d, SMALL)
            cities = read_csv(os.path.join(d, "us-cities-demographics.csv"), ";").to_pylist()
            races = {}
            for r in cities:
                races.setdefault((r["City"], r["State"], r["State Code"]), set()).add(r["Race"])
            complete = {k for k, v in races.items() if len(v) == 5}
            self.assertEqual(exp["staging_cities"], len(complete))
            self.assertGreater(exp["planted_city_missing_race"], 0)
            self.assertIn(("Albany", "New York", "NY"), complete)
            self.assertIn(("Albany", "Georgia", "GA"), complete)

            air = read_csv(os.path.join(d, "airport-codes_csv.csv")).to_pylist()
            st_air = [r for r in air if r["iata_code"] not in (None, "0", "-")
                      and r["iso_country"] == "US"]
            self.assertEqual(exp["staging_airports"], len(st_air))
            self.assertTrue(any(r["iata_code"] is None and r["iso_country"] == "US" for r in air))
            self.assertTrue(any(r["iata_code"] == "0" for r in air))
            self.assertTrue(any(r["iata_code"] == "-" for r in air))
            dim = {(r["municipality"], r["iso_region"].split("-")[1]) for r in st_air}
            self.assertEqual(exp["city"], len(dim))
            self.assertEqual(exp["airports"], len(st_air))
            self.assertEqual(sum(1 for r in st_air if r["municipality"] == "Chicago"), 2)
            self.assertEqual(exp["statistics"],
                             len({(c, code) for c, _, code in complete} & dim))

            temps = read_csv(os.path.join(d, "GlobalLandTemperaturesByCity.csv")).to_pylist()
            st_t = [r for r in temps if all(v is not None for v in r.values())
                    and r["Country"] == "United States"]
            self.assertEqual(exp["staging_temperatures"], len(st_t))
            self.assertTrue(any(r["Country"] == "Canada" for r in temps))
            names = [c for c, _ in dim]
            self.assertEqual(exp["temperatures"], sum(names.count(r["City"]) for r in st_t))
            self.assertTrue(any(str(r["dt"]).startswith("2013-04") for r in st_t))

            i94 = read_csv(os.path.join(d, "immigration_data_sample.csv")).to_pylist()
            st_trav = [r for r in i94 if r["i94port"] != "XXX" and r["gender"] is not None]
            self.assertEqual(exp["staging_travelers"], len(st_trav))
            codes = {r["iata_code"] for r in st_air}
            self.assertEqual(exp["travelers"], sum(1 for r in st_trav if r["i94port"] in codes))
            self.assertEqual(math.gcd(exp["travelers"], 10), 1)
            self.assertEqual(exp["planted_null_arrdate"], sum(1 for r in i94 if r["arrdate"] is None))
            self.assertEqual(exp["planted_port_xxx"], sum(1 for r in i94 if r["i94port"] == "XXX"))
            self.assertEqual(exp["visa_codes"], 3)
            with open(os.path.join(d, "expected.json")) as f:
                self.assertEqual(json.load(f), exp)


class StatsTest(unittest.TestCase):

    def test_tail_rule(self):
        self.assertIsNone(stats.tail(range(10)))
        # 11 samples: only the 1st value has 10 beyond it
        self.assertEqual(stats.tail(range(11)), (9, 0, 11))
        # 100 distinct samples: p90 is the 90th smallest (89), 10 beyond it
        self.assertEqual(stats.tail(range(100)), (90, 89, 100))
        # 40 samples: p75 -> rank 30 -> value 29, 10 beyond
        self.assertEqual(stats.tail(range(40)), (75, 29, 40))
        # ties: values equal to the percentile do not count as beyond
        p, v, n = stats.tail([1] * 30 + [2] * 10)
        self.assertEqual((v, n), (1, 40))
        self.assertEqual(sum(1 for x in [1] * 30 + [2] * 10 if x > v), 10)

    def test_failed_accounting(self):
        ops = [
            {"name": "a", "pass": 0, "ok": True, "fingerprint": "1"},
            {"name": "a", "pass": 1, "ok": True, "fingerprint": "1"},
            {"name": "a", "pass": 2, "ok": True, "fingerprint": "2"},   # drifted
            {"name": "b", "pass": 0, "ok": False, "fingerprint": ""},   # threw
            {"name": "b", "pass": 1, "ok": True, "fingerprint": "7"},
            {"name": "c", "pass": 0, "ok": True, "fingerprint": "3"},
            {"name": "c", "pass": 1, "ok": True, "fingerprint": "3"},
            {"name": "v", "pass": 0, "ok": True, "fingerprint": "x"},
            {"name": "v", "pass": 1, "ok": True, "fingerprint": "x"},
        ]
        failed = stats.failed_ops(ops, bad_names={"c"}, bad_passes={("v", 1)})
        self.assertEqual([(o["name"], o["pass"]) for o in failed],
                         [("a", 2), ("b", 0), ("c", 0), ("c", 1), ("v", 1)])
        self.assertAlmostEqual(stats.failed_share(len(ops), len(failed)), 5 / 9)
        self.assertEqual(stats.failed_share(9, 0), 0.0)
        with self.assertRaises(ValueError):
            stats.failed_share(0, 0)

    def test_trace_overhead_pairs(self):
        def p(n, kind, traced, wall):
            return {"pass": n, "kind": kind, "traced": traced, "wall_s": wall, "cpu_s": 2 * wall}
        # the cold pass is left out; pairs (1, 2) and (3, 4) alternate
        # their order; a JVM warming up by 1 s a pass cancels out
        passes = [p(0, "cold", True, 30.0), p(1, "warm", True, 14.5), p(2, "warm", False, 13.0),
                  p(3, "warm", False, 12.0), p(4, "warm", True, 11.5)]
        self.assertAlmostEqual(stats.trace_overhead(passes, "wall_s"), 0.5)
        self.assertAlmostEqual(stats.trace_overhead(passes, "cpu_s"), 1.0)

    def test_spread(self):
        self.assertAlmostEqual(stats.spread([10] * 10), 0.0)
        self.assertGreater(stats.spread(list(range(1, 11))), 0.5)


if __name__ == "__main__":
    unittest.main()
