"""Self-tests of the benchmark's own code (no JVM, no build):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import hashlib
import io
import json
import os
import tempfile
import unittest

import checks
import gen
import report


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(report.supported_percentile(19))
        self.assertEqual(report.supported_percentile(20), 50)
        self.assertEqual(report.supported_percentile(99), 50)
        self.assertEqual(report.supported_percentile(100), 90)
        self.assertEqual(report.supported_percentile(999), 90)
        self.assertEqual(report.supported_percentile(1000), 99)
        self.assertEqual(report.supported_percentile(10000), 99.9)

    def test_describe_prints_the_sample_count(self):
        out = io.StringIO()
        report.describe("metrics latency", list(range(150)), 90, log=out)
        self.assertIn("n=150 supports p90", out.getvalue())
        self.assertNotIn("WARNING", out.getvalue())
        out = io.StringIO()
        report.describe("paths latency", list(range(12)), 50, log=out)
        self.assertIn("n=12", out.getvalue())
        self.assertIn("WARNING", out.getvalue())

    def test_pct_interpolates(self):
        self.assertEqual(report.pct([1, 2, 3, 4, 5], 50), 3)
        self.assertAlmostEqual(report.pct(list(range(11)), 90), 9.0)


class GeneratorTest(unittest.TestCase):
    def feed_bytes(self, seed):
        f = gen.Feed(seed, 2000, 2.0, gen.live_paths(10, "u"), 2)
        h = hashlib.sha256()
        for due, chunks in f.ticks:
            h.update(repr(due).encode())
            for c in chunks:
                h.update(c)
        h.update(repr(f.sent).encode())
        return h.hexdigest(), f

    def tables_digest(self, seed):
        with tempfile.TemporaryDirectory() as d:
            gen.catalog_tables(seed, d, 0.1)
            h = hashlib.sha256()
            for name in sorted(os.listdir(d)):
                with open(os.path.join(d, name), "rb") as fh:
                    h.update(name.encode() + fh.read())
            return h.hexdigest()

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.feed_bytes(5)[0], self.feed_bytes(5)[0])
        self.assertNotEqual(self.feed_bytes(5)[0], self.feed_bytes(6)[0])
        pool = gen.query_pool(5, gen.live_paths(10, "u"))
        self.assertEqual(pool, gen.query_pool(5, gen.live_paths(10, "u")))
        seq = gen.sequence(pool, 8, ["probe", "metrics", "paths", "metrics"])
        self.assertEqual(seq, gen.sequence(pool, 8, ["probe", "metrics", "paths", "metrics"]))
        self.assertEqual([q.split(" ")[0] for q in seq],
                         ["metrics", "metrics", "paths", "metrics"] * 2)
        self.assertEqual(seq[0], gen.PROBE_QUERY)
        self.assertEqual(self.tables_digest(5), self.tables_digest(5))
        self.assertNotEqual(self.tables_digest(5), self.tables_digest(6))

    def test_feed_shape(self):
        _, f = self.feed_bytes(1)
        self.assertEqual(f.lines(), 4000 + len(f.probes))
        self.assertEqual(f.malformed, 4)
        # a path is only ever written to one connection
        where = {}
        for _, chunks in f.ticks:
            for i, c in enumerate(chunks):
                for line in c.decode().splitlines():
                    where.setdefault(line.split(" ")[0], set()).add(i)
        self.assertTrue(all(len(v) == 1 for v in where.values()))
        # timestamps come from the synthetic epoch, not the clock
        self.assertTrue(all(gen.EPOCH <= ts < gen.EPOCH + 2 for _, _, ts, _ in f.sent))


def metrics_body(values):
    return json.dumps({"from": 60, "to": 180, "step": 60,
                       "series": {"servers.click.u1": values}}).encode()


class GateTest(unittest.TestCase):
    q = "metrics servers.click.u1 0 180"
    expected = {q: {"q": q, "from": 60, "to": 180, "step": 60,
                    "series": {"servers.click.u1": [1.5, None, 3.0]}}}

    def record(self, body, t):
        return {"q": self.q, "sent": t, "recv": t + 0.2, "status": 200, "body": body}

    def test_a_dropped_line_fails(self):
        g = checks.Gate()
        g.lines(1000, 1, 1000, 1)
        self.assertEqual(g.failed, 0)
        g.lines(1000, 1, 999, 1)
        self.assertEqual(g.failed, 1)

    def test_a_changed_served_value_fails(self):
        good, bad = metrics_body([1.5, None, 3.0]), metrics_body([1.5, None, 3.5])
        g = checks.Gate()
        g.dashboard([self.record(good, 10.0)], self.expected, 0.0, [])
        self.assertEqual(g.failed, 0)
        g.dashboard([self.record(bad, 10.0)], self.expected, 0.0, [])
        self.assertEqual(g.failed, 1)
        g = checks.Gate()
        g.final([(self.q, 200, bad)], self.expected)
        self.assertEqual(g.failed, 1)

    def test_a_mismatch_during_maintain_is_counted_apart(self):
        g = checks.Gate()
        bad = metrics_body([1.5, None, 3.5])
        g.dashboard([self.record(bad, 10.0)], self.expected, 0.0, [(10050.0, 11000.0)])
        self.assertEqual((g.failed, g.mismatch_during_maintain), (0, 1))

    def test_an_op_that_throws_fails(self):
        g = checks.Gate()
        g.catalog(["q1_pricing"], {"q1_pricing": None}, {"q1_pricing": None})
        self.assertEqual(g.failed, 0)
        g.catalog(["q1_pricing"], {"q1_pricing": "boom"}, {"q1_pricing": "no output"})
        self.assertEqual(g.failed, 2)

    def test_a_store_off_the_reference_fails(self):
        g = checks.Gate()
        g.store(0, 0)
        g.store(1, 0)
        self.assertEqual(g.failed, 1)


class OracleVerdictTest(unittest.TestCase):
    ops = ["q1_pricing", "store_lifecycle"]

    def test_only_ok_lines_pass(self):
        good = "ok   q1_pricing: 4 rows\nok   store_lifecycle: 9 rows\n"
        self.assertEqual(checks.oracle_verdicts(good, 0, self.ops),
                         {"q1_pricing": None, "store_lifecycle": None})
        bad = ("ok   q1_pricing: 4 rows\n"
               "CLOSE store_lifecycle: col=v row=0 spark=0.30000000000000004 duck=0.3\n")
        v = checks.oracle_verdicts(bad, 1, self.ops)
        self.assertIsNone(v["q1_pricing"])
        self.assertIn("CLOSE", v["store_lifecycle"])
        v = checks.oracle_verdicts("FAIL q1_pricing: no spark dump\n", 1, self.ops)
        self.assertIn("no spark dump", v["q1_pricing"])
        self.assertIsNotNone(v["store_lifecycle"])  # no verdict at all

    def test_a_failing_exit_fails_every_op(self):
        g = checks.Gate()
        g.catalog(self.ops, {}, checks.oracle_verdicts(
            "ok   q1_pricing: 4 rows\nok   store_lifecycle: 9 rows\n", 1, self.ops))
        self.assertEqual(g.failed, 2)


class TraceOverheadTest(unittest.TestCase):
    def test_against_the_untraced_median(self):
        untraced = [{"metrics_p50_ms": 300.0}, {"metrics_p50_ms": 320.0},
                    {"metrics_p50_ms": 400.0}]
        self.assertEqual(report.trace_overhead({"metrics_p50_ms": 330.0}, untraced),
                         {"metrics_p50_ms": 10.0})
        self.assertIsNone(report.trace_overhead({"metrics_p50_ms": 330.0}, []))


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted(self):
        spans = [
            {"name": "stage.tcp_flush", "start_us": 0, "end_us": 1000, "parent": "", "req": ""},
            {"name": "store.append", "start_us": 100, "end_us": 400,
             "parent": "stage.tcp_flush", "req": ""},
            {"name": "store.append", "start_us": 300, "end_us": 600,
             "parent": "stage.tcp_flush", "req": ""},
        ]
        t = report.self_times(spans)
        self.assertAlmostEqual(t["stage"], 500 / 1e6)
        self.assertAlmostEqual(t["store"], 600 / 1e6)


if __name__ == "__main__":
    unittest.main()
