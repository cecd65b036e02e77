"""Tests of the output check and the metric arithmetic. No JVM needed:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import check  # noqa: E402
import metrics  # noqa: E402

ORACLE = "SELECT k, sum(v) AS total, count(*)::BIGINT AS n FROM t GROUP BY k"


class CheckTest(unittest.TestCase):

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        d = self.dir.name
        self.con = duckdb.connect()
        self.con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                         "('a', 1.5), ('a', 2.25), ('b', 10.0)) v(k, v)")
        # what the harness would have written for two queries
        os.makedirs(os.path.join(d, "check", "good"))
        self.con.execute(f"COPY ({ORACLE}) TO '{d}/check/good/part-0.parquet' (FORMAT parquet)")
        os.makedirs(os.path.join(d, "check", "noor"))
        self.con.execute(
            f"COPY (SELECT 1 AS x) TO '{d}/check/noor/part-0.parquet' (FORMAT parquet)")

    def tearDown(self):
        self.dir.cleanup()

    def report(self, sql=ORACLE, fingerprints=("3:99", "3:99")):
        return {
            "oracle": {"good": sql},
            "warm": [{"query": "good", "error": None, "fingerprint": ""},
                     {"query": "noor", "error": None, "fingerprint": fingerprints[0]}],
            "execs": [{"pass": 1, "query": "good", "error": None},
                      {"pass": 1, "query": "noor", "error": None,
                       "fingerprint": fingerprints[1]}],
        }

    def verify(self, report, cache="cache"):
        return check.verify(report, ["good", "noor"], ["noor"], self.con,
                            os.path.join(self.dir.name, cache),
                            os.path.join(self.dir.name, "check"))

    def test_matching_outputs_pass(self):
        failed, returned = self.verify(self.report())
        self.assertEqual(failed, [])
        self.assertEqual(returned, {"good": 2, "noor": 1})

    def test_wrong_expected_value_is_caught(self):
        wrong = ORACLE.replace("sum(v)", "sum(v) + 0.001")
        failed, _ = self.verify(self.report(sql=wrong))
        self.assertEqual([(q, w) for q, w, _ in failed], [("good", "warm")])
        self.assertIn("row", failed[0][2])

    def test_expected_values_are_cached_per_sql(self):
        self.verify(self.report())
        self.con.execute("UPDATE t SET v = v + 1")
        # same SQL: the cached expectation stands, so the stale output passes
        self.assertEqual(self.verify(self.report())[0], [])
        # a fresh cache sees the change and catches the stale output
        self.assertEqual(len(self.verify(self.report(), cache="fresh")[0]), 1)

    def test_fingerprint_change_between_passes_is_caught(self):
        failed, _ = self.verify(self.report(fingerprints=("3:99", "3:98")))
        self.assertEqual([(q, w) for q, w, _ in failed], [("noor", "pass 1")])

    def test_errors_count_as_failures(self):
        r = self.report()
        r["execs"][0]["error"] = "java.lang.RuntimeException: boom"
        self.assertEqual([q for q, _, _ in self.verify(r)[0]], ["good"])

    def test_compare_tolerance(self):
        want = (["k", "x"], [("a", 1.0), ("b", None)])
        self.assertIsNone(check.compare((["x", "k"], [(None, "b"), (1.0 + 1e-9, "a")]), want))
        self.assertIn("rows", check.compare((["k", "x"], [("a", 1.0)]), want))
        self.assertIn("columns", check.compare((["k", "y"], want[1]), want))
        self.assertIsNotNone(check.compare((["k", "x"], [("a", 1.001), ("b", None)]), want))


class MetricsTest(unittest.TestCase):

    def test_tail_keeps_ten_samples_beyond(self):
        value, pct, n = metrics.tail(list(range(1, 25)))
        self.assertEqual((value, n), (14, 24))
        self.assertEqual(sum(x > value for x in range(1, 25)), 10)
        self.assertAlmostEqual(pct, 100 * 14 / 24)
        with self.assertRaises(ValueError):
            metrics.tail(list(range(10)))

    def test_end_to_end_uses_medians_over_passes(self):
        execs = [{"pass": p, "query": f"q{i}", "wall_s": w, "probe_s": metrics.REF_PROBE_S}
                 for p, ws in ((1, [1.0] * 6), (2, [2.0] * 6)) for i, w in enumerate(ws)]
        report = {"execs": execs, "setup_s": [9.0, 1.0, 2.0], "peak_exec_mem_bytes": 5e6}
        values, notes = metrics.end_to_end(report, input_rows=900)
        self.assertEqual(values["norm_wall_s"], (9.0, "s"))
        self.assertEqual(values["norm_rows_per_s"], (100.0, "rows/s"))
        self.assertEqual(values["setup_s"], (2.0, "s"))
        self.assertEqual(values["peak_exec_mem_mb"], (5.0, "MB"))
        self.assertEqual(notes["query_tail_samples"], 12)

    def test_times_are_normalised_by_their_pass_probe(self):
        ref = metrics.REF_PROBE_S
        # pass 2 ran on a host twice as slow: its queries and probes doubled
        execs = [{"pass": 1, "query": "a", "wall_s": 1.0, "probe_s": ref},
                 {"pass": 1, "query": "b", "wall_s": 3.0, "probe_s": ref * 1.2},
                 {"pass": 1, "query": "c", "wall_s": 2.0, "probe_s": ref * 0.8},
                 {"pass": 2, "query": "a", "wall_s": 2.0, "probe_s": 2 * ref},
                 {"pass": 2, "query": "b", "wall_s": 6.0, "probe_s": 2 * ref},
                 {"pass": 2, "query": "c", "wall_s": 4.0, "probe_s": 2 * ref}]
        norm = metrics.normalised(execs)
        self.assertEqual([e["wall_s"] for e in norm], [1.0, 3.0, 2.0, 1.0, 3.0, 2.0])
        self.assertEqual(metrics.pass_median(norm, "wall_s"), 6.0)

    def test_per_layer_sums_by_module_per_pass(self):
        def e(p, q, **kw):
            rec = dict.fromkeys(metrics.LAYER_METRICS, 0.0)
            rec.update({"pass": p, "query": q, "wall_s": 1.0,
                        "probe_s": 2 * metrics.REF_PROBE_S, "bytes_left": 0,
                        "bytes_read": 0, "exec_records_read": 0}, **kw)
            return rec
        report = {"execs": [
            e(1, "a", jobs=3, max_task_share=0.5), e(1, "b", jobs=4, max_task_share=1.0),
            e(1, "s", bytes_left=50, bytes_read=100, exec_records_read=30),
            e(2, "a", jobs=5, max_task_share=0.2), e(2, "b", jobs=6, max_task_share=0.4),
            e(2, "s", bytes_left=70, bytes_read=100, exec_records_read=50)]}
        out = metrics.per_layer(report, {"a": "dedup", "b": "dedup", "s": "sources.v2"},
                                returned_rows={"s": 10})
        self.assertEqual(out["dedup.jobs"][0], 9)  # median of 7 and 11
        self.assertEqual(out["dedup.max_task_share"][0], 0.7)  # median of 1.0 and 0.4
        self.assertEqual(out["mapreduce.jobs"][0], 0)
        self.assertAlmostEqual(out["sources.v2.write_amp"][0], 0.6)
        self.assertAlmostEqual(out["sources.v2.read_amp"][0], 4.0)
        # probes at twice the reference time halve every time
        self.assertEqual(out["trace.norm_wall_s"][0], 1.5)


if __name__ == "__main__":
    unittest.main()
