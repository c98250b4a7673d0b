"""Tests of run.py's statistics and of the metric contract it prints.

Run from the root of a checkout: python3 -m unittest discover perfbench/tests
"""
import json
import pathlib
import re
import sys
import tempfile
import unittest

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))

import run  # noqa: E402

SPEC = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def fake_raw(workload):
    """A raw results file as the JVM writes it, for one workload."""
    lake = workload == "lakehouse"
    stream = "st18_stream_sink"
    names = (["append", "merge", "read_point", stream, "compact"] if lake
             else ["flagship_panel", "w1_lag", "p11_group_split"])
    kinds = {"append": "commit", "merge": "commit", "compact": "commit",
             "read_point": "read", stream: "stream"}
    ops = [{"pass": 0, "traced": False, "name": n, "kind": "check",
            "s": 1.0, "ok": True} for n in names]
    passes = []
    for p, traced in ((1, False), (2, True), (3, False)):
        for i, n in enumerate(names):
            ops.append({"pass": p, "traced": traced, "name": n,
                        "kind": kinds.get(n, "query"), "s": 0.1 * (i + p),
                        "ok": True})
        passes.append({"pass": p, "traced": traced, "s": 5.0 + p,
                       "wall_s": 6.0 + p, "ops": len(names),
                       "control_s": 0.1})
    layer = {"pass_s": 7.0, "stream.batch_s": [0.5, 0.6] if lake else []}
    raw = {"context": {"workload": workload}, "setup_s": [3.0, 2.0, 2.5],
           "ops": ops, "passes": passes, "layers": [layer],
           "heap_live_peak_mb": 300.0, "loose_failures": 0,
           "failures": []}
    if lake:
        raw["lake"] = {"commits": 3, "log_bytes_added": 300,
                       "data_bytes_added": 3000, "table_bytes": 4000,
                       "plain_written_bytes": 1000,
                       "plain_live_bytes": 2000, "files_live": 4}
    return raw


class PercentileTest(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(run.percentile([4, 1, 3, 2], 50), 2.5)
        self.assertAlmostEqual(run.percentile(range(1, 11), 90), 9.1)
        self.assertEqual(run.percentile([7], 90), 7)

    def test_ends_are_min_and_max(self):
        xs = [5, 3, 9, 1]
        self.assertEqual(run.percentile(xs, 0), 1)
        self.assertEqual(run.percentile(xs, 100), 9)

    def test_no_values(self):
        with self.assertRaises(ValueError):
            run.percentile([], 50)

    def test_trend(self):
        self.assertEqual(run.trend([2.0, 2.0, 2.0]), 0.0)
        self.assertAlmostEqual(run.trend([1.0, 2.0, 3.0]), 1.0)
        self.assertEqual(run.trend([5.0]), 0.0)

    def test_trace_overhead_uses_neighbouring_passes(self):
        passes = [{"s": 10.0, "traced": False}, {"s": 11.0, "traced": True},
                  {"s": 12.0, "traced": False}]
        self.assertAlmostEqual(run.trace_overhead(passes), 1.0)


class MetricContractTest(unittest.TestCase):
    def test_spec_names_and_units_are_valid(self):
        seen = set()
        for kind in ("end_to_end", "per_layer"):
            for m in SPEC[kind]:
                self.assertRegex(m["name"], NAME)
                self.assertRegex(m["unit"], UNIT)
                self.assertIn(m["better"], ("lower", "higher"))
                self.assertNotIn(m["name"], seen)
                seen.add(m["name"])
        bounds = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
        self.assertTrue(all(0 < b <= 0.25 for b in bounds.values()))
        self.assertEqual(max(bounds.values()), bounds["setup_s"])

    def test_every_printed_metric_has_name_and_unit(self):
        for workload in ("panel", "lakehouse"):
            for trace, kind in ((False, "end_to_end"), (True, "per_layer")):
                res = run.result(fake_raw(workload), {}, trace)
                want = {m["name"]: m["unit"] for m in SPEC[kind]}
                self.assertEqual(set(res["metrics"]), set(want))
                for name, v in res["metrics"].items():
                    self.assertEqual(v["unit"], want[name])
                    self.assertIsInstance(v["value"], (int, float))
                self.assertEqual(set(res), {"correct", "attempted", "failed",
                                            "metrics"})
                self.assertTrue(res["correct"])

    def test_wrong_outputs_count_as_failed(self):
        raw = fake_raw("panel")
        res = run.result(raw, {"w1_lag": "rows differ"}, False)
        self.assertFalse(res["correct"])
        # the check itself and each execution of the wrong query
        self.assertEqual(res["failed"], 1 + 4)


class NoOracleCheckTest(unittest.TestCase):
    """p11_group_split has no oracle: its pinned schema and its row
    totals, counted from the inputs, are what is checked."""

    def verdict(self, table):
        import pyarrow as pa
        import pyarrow.parquet as pq
        with tempfile.TemporaryDirectory() as tmp:
            tmp = pathlib.Path(tmp)
            orders = tmp / "in" / "orders.parquet"
            orders.mkdir(parents=True)
            pq.write_table(pa.table({"o_orderkey": list(range(10))}),
                           orders / "part-0.parquet")
            out = tmp / "out" / "p11_group_split"
            out.mkdir(parents=True)
            (out.parent / "oracle_sql.json").write_text("{}")
            pq.write_table(pa.table(table), out / "part-0.parquet")
            return run.check_outputs(out.parent, tmp / "in")["p11_group_split"]

    def test_right_schema_and_totals_pass(self):
        self.assertIsNone(self.verdict({"part": ["test", "train"],
                                        "n": [2, 8]}))

    def test_wrong_schema_fails(self):
        self.assertIn("schema", self.verdict({"part": ["test", "train"],
                                              "count": [2, 8]}))
        self.assertIn("schema", self.verdict({"part": ["test", "train"],
                                              "n": [2.0, 8.0]}))

    def test_wrong_totals_fail(self):
        self.assertIn("rows", self.verdict({"part": ["test", "train"],
                                            "n": [2, 7]}))
        self.assertIn("rows", self.verdict({"part": ["train"], "n": [10]}))


if __name__ == "__main__":
    unittest.main()
