"""Tests of the benchmark's own logic: the generator, the percentile and
sample-count rules, the warehouse check and the end-to-end metric derivation.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import argparse
import datetime as dt
import filecmp
import json
import os
import struct
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def tree(root):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.relpath(os.path.join(d, f), root) for f in files]
    return sorted(out)


def warehouse_rows(inputs, files):
    """The warehouse fields of every valid line of `files`, derived from the
    files alone (JSON parse, comma strip, UTC normalisation, FX join) — an
    independent path to the values the generator digested."""
    with open(os.path.join(inputs, "rates.jsonl")) as f:
        idr = {r["rate_date"]: r["fx_rate"] for r in map(json.loads, f)
               if r["from_ccy"] == "USD" and r["to_ccy"] == "IDR"}
    rows = []
    for path in files:
        with open(path) as f:
            for line in f:
                try:
                    p = json.loads(line)
                except json.JSONDecodeError:
                    continue
                t = dt.datetime.fromisoformat(p["time"]["updatedISO"]).astimezone(dt.timezone.utc)
                ts = t.strftime("%Y-%m-%d %H:%M:%S")
                fl = {c: float(p["bpi"][c]["rate"].replace(",", "")) for c in ("USD", "GBP", "EUR")}
                fields = [p["disclaimer"], p["chartName"]]
                for c in ("USD", "GBP", "EUR"):
                    fields += [p["bpi"][c]["code"], gen.bits(fl[c]), p["bpi"][c]["description"]]
                fields += [gen.bits(fl["USD"] * idr[t.date().isoformat()]), ts, ts]
                rows.append(tuple(fields))
    return rows


def digest(rows):
    return f"{sum(gen.row_key(r) for r in rows) & gen.MASK64:016x}"


class GeneratorTest(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        cls.a = os.path.join(cls.tmp.name, "a")
        cls.b = os.path.join(cls.tmp.name, "b")
        cls.c = os.path.join(cls.tmp.name, "c")
        kw = dict(polls=6, poll_lines=40, backlog_lines=3000, backlog_files=3)
        cls.ma = gen.generate(5, cls.a, **kw)
        gen.generate(5, cls.b, **kw)
        gen.generate(6, cls.c, **kw)

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def test_same_seed_gives_byte_identical_files(self):
        self.assertEqual(tree(self.a), tree(self.b))
        _, mismatch, errors = filecmp.cmpfiles(self.a, self.b, tree(self.a), shallow=False)
        self.assertEqual((mismatch, errors), ([], []))

    def test_another_seed_gives_other_payloads(self):
        with open(os.path.join(self.a, "backlog", "part-00.json")) as f1, \
                open(os.path.join(self.c, "backlog", "part-00.json")) as f2:
            self.assertNotEqual(f1.read(), f2.read())

    def test_payloads_carry_quarantine_lines_comma_rates_and_offsets(self):
        lines = []
        for p in glob_files(self.a, "backlog"):
            with open(p) as f:
                lines += f.read().splitlines()
        bad = 0
        offsets = set()
        commas = 0
        for line in lines:
            try:
                p = json.loads(line)
            except json.JSONDecodeError:
                bad += 1
                continue
            offsets.add(p["time"]["updatedISO"][-6:])
            commas += "," in p["bpi"]["USD"]["rate"]
            self.assertTrue(p["time"]["updated"].endswith(" UTC"))
        self.assertEqual(len(lines), 3000)
        self.assertGreater(bad, 5)
        self.assertLess(bad, 90)
        self.assertEqual(self.ma["backlog"]["rows"], 3000 - bad)
        self.assertIn("+00:00", offsets)
        self.assertGreater(len(offsets), 3)
        self.assertGreater(commas, 2900 - bad)

    def test_rates_cover_every_generated_date(self):
        files = glob_files(self.a, "backlog") + glob_files(self.a, "polls")
        rows = warehouse_rows(self.a, files)  # KeyError on a missing date
        self.assertEqual(len(rows), self.ma["backlog"]["rows"] + sum(p["rows"] for p in self.ma["polls"]))

    def test_manifest_digest_matches_the_files(self):
        rows = warehouse_rows(self.a, glob_files(self.a, "backlog"))
        self.assertEqual(digest(rows), self.ma["backlog"]["digest"])
        for p in self.ma["polls"]:
            rows = warehouse_rows(self.a, [os.path.join(self.a, "polls", p["file"])])
            self.assertEqual((len(rows), digest(rows)), (p["rows"], p["digest"]))

    def test_poll_listing_matches_the_files(self):
        with open(os.path.join(self.a, "polls.tsv")) as f:
            listing = [l.split("\t") for l in f.read().splitlines()]
        self.assertEqual([l[0] for l in listing], [p["file"] for p in self.ma["polls"]])
        for name, lines, size in listing:
            path = os.path.join(self.a, "polls", name)
            self.assertEqual(int(size), os.path.getsize(path))
            with open(path) as f:
                self.assertEqual(int(lines), len(f.read().splitlines()))


def glob_files(root, sub):
    d = os.path.join(root, sub)
    return sorted(os.path.join(d, f) for f in os.listdir(d))


class PercentileTest(unittest.TestCase):

    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5)
        self.assertEqual(stats.percentile(xs, 90), 9)
        self.assertEqual(stats.percentile(list(reversed(xs)), 90), 9)
        self.assertEqual(stats.percentile([7.5], 90), 7.5)
        self.assertEqual(stats.percentile(list(range(1, 101)), 99), 99)

    def test_no_samples_raises(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_highest_percentile_keeping_ten_beyond(self):
        self.assertIsNone(stats.highest_supported(19))
        self.assertEqual(stats.highest_supported(20), 50.0)
        self.assertEqual(stats.highest_supported(99), 50.0)
        self.assertEqual(stats.highest_supported(100), 90.0)
        self.assertEqual(stats.highest_supported(200), 95.0)
        self.assertEqual(stats.highest_supported(1000), 99.0)
        self.assertEqual(stats.beyond(100, 90), 10)

    def test_median(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 3, 2]), 2.5)


class WarehouseCheckTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.m = gen.generate(9, self.tmp.name, polls=4, poll_lines=30)
        self.files = [p["file"] for p in self.m["polls"]]
        self.rows = warehouse_rows(self.tmp.name, [os.path.join(self.tmp.name, "polls", f)
                                                   for f in self.files])
        self.want = stats.expected_for_polls(self.m, self.files)

    def tearDown(self):
        self.tmp.cleanup()

    def found(self, rows):
        return {"rows": len(rows), "digest": digest(rows), "bad_audit": 0}

    def test_exact_warehouse_passes(self):
        self.assertEqual(stats.check_warehouse(self.found(self.rows), *self.want), [])

    def test_order_does_not_matter(self):
        self.assertEqual(stats.check_warehouse(self.found(self.rows[::-1]), *self.want), [])

    def test_dropped_row_fails(self):
        problems = stats.check_warehouse(self.found(self.rows[1:]), *self.want)
        self.assertEqual(len(problems), 2)

    def test_duplicated_row_fails(self):
        problems = stats.check_warehouse(self.found(self.rows + self.rows[:1]), *self.want)
        self.assertEqual(len(problems), 2)

    def test_swapped_row_with_same_count_fails(self):
        other = list(self.rows[0])
        other[3] = gen.bits(struct.unpack(">d", bytes.fromhex(other[3]))[0] + 1.0)
        problems = stats.check_warehouse(self.found([tuple(other)] + self.rows[1:]), *self.want)
        self.assertEqual(len(problems), 1)
        self.assertIn("digest", problems[0])

    def test_malformed_audit_columns_fail(self):
        found = dict(self.found(self.rows), bad_audit=2)
        self.assertEqual(len(stats.check_warehouse(found, *self.want)), 1)

    def test_query_rows(self):
        self.assertEqual(stats.check_query_rows({"q": [3, 3]}, {"q": 3}), [])
        self.assertEqual(len(stats.check_query_rows({"q": [3, 4]}, {"q": 3})), 1)
        self.assertEqual(len(stats.check_query_rows({"r": [1]}, {"q": 3})), 1)


class EndToEndTest(unittest.TestCase):
    """How run.py turns the harness's raw record into the end-to-end
    metrics: p50_ms from the light operations, pass_s from the heavy ones,
    warm-up work in setup_s only."""

    def record(self, ops, passes):
        return {"setup_s": [5.0, 0.2, 0.1], "warmup_s": 3.0, "ops": ops, "passes": passes}

    def test_bpi_polls_give_p50_and_drains_give_pass(self):
        ops = ([{"kind": "warmup", "ms": 9000.0}] +
               [{"kind": "poll", "ms": ms, "layers": {"cpu_ms": 2 * ms}}
                for ms in (900.0, 1000.0, 1100.0, 1200.0)] +
               [{"kind": "drain", "ms": ms, "layers": {"cpu_ms": 3 * ms}}
                for ms in (2000.0, 3000.0, 2500.0)])
        res = dict(self.record(ops, []), backlog_rows=1000)
        m, detail = run.end_to_end(argparse.Namespace(workload="bpi"), res, 0.5)
        self.assertEqual(m["p50_ms"], (1000.0, "ms"))
        self.assertEqual(m["pass_s"], (2.5, "s"))
        self.assertEqual(m["setup_s"], (0.5 + 0.2 + 3.0, "s"))
        self.assertEqual(detail["bpi_backfill_rows_per_s"], 400.0)
        self.assertEqual((detail["p50_cpu_ms"], detail["pass_cpu_s"]), (2100.0, 7.5))
        self.assertEqual((detail["samples"], detail["heavy_samples"]), (4, 3))

    def test_lifecycle_cold_passes_and_warm_passes(self):
        passes = [p for cold, warm in ((6.0, 2.0), (7.0, 2.4), (9.0, 2.2))
                  for p in ({"kind": "cold", "s": cold, "cpu_s": 2 * cold},
                            {"kind": "warm", "s": warm, "cpu_s": 2 * warm})]
        res = dict(self.record([], passes), first_touch_s=20.0)
        m, detail = run.end_to_end(argparse.Namespace(workload="lifecycle_cold"), res, 0.0)
        self.assertEqual(m["pass_s"], (7.0, "s"))
        self.assertEqual(m["p50_ms"], (2200.0, "ms"))
        self.assertEqual(m["setup_s"], (0.2 + 3.0, "s"))
        self.assertEqual(detail["lifecycle_warm_s"], 2.2)
        self.assertEqual(detail["lifecycle_first_touch_s"], 20.0)
        self.assertEqual(detail["pass_cpu_s"], 14.0)


if __name__ == "__main__":
    unittest.main()
