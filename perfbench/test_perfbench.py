"""Self-tests of the benchmark's own logic: seeded inputs, the percentile
rule, operation accounting and the output oracles. Run with

    python3 perfbench/run.py --selftest

from the repository root (the JVM-side checks need the build)."""
import hashlib
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from stats import Ops, median, percentile  # noqa: E402

WORK = os.path.join(os.getcwd(), ".bench_build", "selftest")


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class SeededInputs(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(WORK, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(WORK, ignore_errors=True)

    def test_same_seed_same_bytes_other_seed_other_bytes(self):
        for w, sizes in gen.SIZES.items():
            kind = "warmup" if "warmup" in sizes else "run"
            a, b, c = (os.path.join(WORK, w, x) for x in "abc")
            gen.generate(w, 11, a, kind)
            gen.generate(w, 11, b, kind)
            gen.generate(w, 12, c, kind)
            self.assertEqual(tree_digest(a), tree_digest(b), w)
            self.assertNotEqual(tree_digest(a), tree_digest(c), w)

    def test_weather_inputs_keep_the_lookup_quirks(self):
        out = os.path.join(WORK, "w")
        gen.weather(3, out, days=2, per_day=400, cities=50)
        with open(os.path.join(out, "us_cities.csv"), "rb") as f:
            head = f.readline()
        self.assertTrue(head.startswith("﻿".encode()), "BOM kept")
        self.assertIn(b"land_Area_sq_mile_2020", head)
        with open(os.path.join(out, "us_cities.csv"), encoding="utf-8-sig") as f:
            known = {line.split(",")[0] for line in list(f)[1:]}
        cities = []
        for d in range(2):
            with open(os.path.join(out, f"day_{d:03d}.jsonl")) as f:
                cities += [json.loads(x)["name"] for x in f]
        missing = sum(c not in known for c in cities) / len(cities)
        self.assertTrue(0.05 < missing < 0.15, missing)

    def test_warmup_seed_differs(self):
        for s in (0, 1, 7, 2 ** 31 - 1):
            self.assertNotEqual(run.warm_seed(s), s)


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 41))
        self.assertEqual(percentile(xs, 50), 20)
        self.assertEqual(percentile(xs, 75), 30)
        self.assertEqual(percentile(xs, 100), 40)
        self.assertEqual(percentile([5.0], 75), 5.0)
        self.assertEqual(percentile([3, 1, 2], 50), 2)

    def test_per_batch_samples_reduce_to_numbers(self):
        m = run.reduce_samples({"stream.batch_growth": [1, 2, 3, 4, 5, 6, 7, 8],
                                "stream.add_batch_ms_p50": [30, 10, 20],
                                "stream.store_files": 4})
        self.assertEqual(m, {"stream.batch_growth": 7.5 / 1.5,
                             "stream.add_batch_ms_p50": 20.0, "stream.store_files": 4.0})
        self.assertEqual(run.reduce_samples({"stream.batch_growth": [1, 2, 3]}),
                         {"stream.batch_growth": 0.0})

    def test_median(self):
        self.assertEqual(median([3, 1, 2]), 2)
        self.assertEqual(median([4, 1, 3, 2]), 2.5)


class FailAccounting(unittest.TestCase):
    def test_checks_count_as_operations(self):
        ops = Ops()
        ops.add(10, 0)
        ops.check(True)
        ops.check(False)
        self.assertEqual((ops.attempted, ops.failed), (12, 1))

    def test_result_line_reports_failures(self):
        spec = run.load_spec()
        ops = Ops()
        ops.add(4, 1)
        e2e = {m["name"]: (1.0, m["unit"]) for m in spec["end_to_end"]}
        line = run.result_line(spec, e2e, {}, ops, False)
        self.assertFalse(line["correct"])
        self.assertEqual((line["attempted"], line["failed"]), (4, 1))
        self.assertEqual(set(line["metrics"]), {m["name"] for m in spec["end_to_end"]})
        line = run.result_line(spec, e2e, {}, Ops(), True)
        self.assertEqual(set(line["metrics"]), {m["name"] for m in spec["per_layer"]})


class Oracles(unittest.TestCase):
    def test_flatten_reproduces_the_golden_houston_row(self):
        p = {"weather": [{"description": "clear sky"}], "name": "Houston",
             "main": {"temp": 286.01, "feels_like": 285.18, "temp_min": 283.26,
                      "temp_max": 287.1, "pressure": 1024, "humidity": 70},
             "wind": {"speed": 0.0}, "dt": 1742203868, "timezone": -18000,
             "sys": {"sunrise": 1742214515, "sunset": 1742257853}}
        row = checks.flatten_payload(p)
        self.assertEqual(row[:9], ("Houston", "clear sky", 55.148, 53.654, 50.198, 57.11,
                                   1024, 70, 0.0))
        self.assertEqual(str(row[9]), "2025-03-17 04:31:08")

    def test_stream_oracle_first_batch_min_id_per_scrubbed_fingerprint(self):
        land = os.path.join(WORK, "landing")
        os.makedirs(land, exist_ok=True)
        batches = [[(5, "a b contact x1@example.com"), (3, "c d"), (4, "c d")],
                   [(9, "a b contact y2@example.com"), (8, "e f")]]
        for i, rows in enumerate(batches):
            with open(os.path.join(land, f"part_{i:04d}.json"), "w") as f:
                f.writelines(json.dumps({"doc_id": d, "text": t}) + "\n" for d, t in rows)
        got = {(d, t, b) for d, t, _, b in checks.stream_oracle(land)}
        self.assertEqual(got, {(5, "a b contact <EMAIL>", 0), (3, "c d", 0), (8, "e f", 1)})
        shutil.rmtree(WORK)

    def test_release_digest_is_recorded_then_compared(self):
        record = os.path.join(WORK, "digests", "w-1")
        self.assertTrue(checks.same_seed_digest(record, "abc")[1])
        self.assertTrue(checks.same_seed_digest(record, "abc")[1])
        self.assertFalse(checks.same_seed_digest(record, "abd")[1])
        shutil.rmtree(WORK)

    def test_split_rule(self):
        self.assertIn(checks.split_of("a b c"), {"train", "val", "test"})
        self.assertEqual(checks.fingerprint(" A  b "), checks.fingerprint("a b"))


class JvmSide(unittest.TestCase):
    """The harness's own accounting, run in the JVM (needs the build): a
    timed call that throws is counted as failed and records no timing;
    span self time; plan hashes."""

    def test_harness_selftest(self):
        cp, _ = run.build(os.getcwd(), os.path.join(os.getcwd(), ".bench_build"))
        p = subprocess.run(["java", "-cp", cp, "perfbench.SelfTest"], capture_output=True,
                           text=True, timeout=120)
        self.assertEqual(p.returncode, 0, p.stdout + p.stderr[-2000:])


if __name__ == "__main__":
    unittest.main()
