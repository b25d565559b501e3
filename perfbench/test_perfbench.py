"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py     (or python3 -m unittest)

The smoke test builds the engine, runs every query template once on
both store layouts at sf0.001 (1,500 orders) plus the read-your-writes
probes, and requires each result to match its DuckDB oracle. It takes
about a minute."""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import oracle  # noqa: E402
import run  # noqa: E402
import workload  # noqa: E402


class OracleNormalisation(unittest.TestCase):
    def test_numbers_compare_as_numbers(self):
        self.assertEqual(oracle.canon("23.0"), oracle.canon(23))
        self.assertEqual(oracle.canon("-1.5E2"), oracle.canon(-150.0))
        self.assertEqual(oracle.canon("0.1234564"), oracle.canon(0.123456))

    def test_non_numbers_stay_strings(self):
        for s in ("urn:o:12", "5-LOW", "1998-10-03T00:00:00", "Brand#7"):
            self.assertEqual(oracle.canon(s), s)
        self.assertEqual(oracle.canon(None), "")

    def test_digest_ignores_row_and_column_order(self):
        a = oracle.digest(["b", "a"], [["x", "1"], ["y", "2"]])
        b = oracle.digest(["a", "b"], [[2, "y"], [1, "x"]])
        self.assertEqual(a, b)
        self.assertNotEqual(a, oracle.digest(["a", "b"], [[2, "y"]]))


class Statistics(unittest.TestCase):
    def test_tail_has_ten_samples_beyond(self):
        value, pct, n = run.tail([float(i) for i in range(1, 41)])
        self.assertEqual(value, 30.0)
        self.assertEqual(n, 40)
        self.assertEqual(pct, 75.0)

    def test_tail_is_the_fastest_sample_when_few(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0])[0], 1.0)
        self.assertEqual(run.tail([float(i) for i in range(11)])[0], 0.0)
        self.assertEqual(run.tail([float(i) for i in range(12)])[0], 1.0)


def span(id_, parent, trace, name, start_ms, dur_ms):
    return {"id": id_, "parent": parent, "trace": trace, "name": name,
            "start_ns": int(start_ms * 1e6), "dur_ns": int(dur_ms * 1e6)}


class SpanAccounting(unittest.TestCase):
    """A traced query's child spans must cover its root span, up to the
    tracing overhead."""

    def query(self, trace, first_id, gap_ms):
        # root 100 ms + gap; parse 1 ms, build 19 ms (with a nested
        # optimize), write 80 ms; `gap_ms` of the root left uncovered
        total = 100.0 + gap_ms
        return [span(first_id, -1, trace, "query", 0, total),
                span(first_id + 1, first_id, trace, "SparqlParser.parse", 0, 1),
                span(first_id + 2, first_id, trace, "DictStore.build", 1, 19),
                span(first_id + 3, first_id + 2, trace,
                     "BgpOptimizer.optimize", 2, 5),
                span(first_id + 4, first_id, trace, "Sparql.writeResults",
                     20 + gap_ms, 80)]

    def test_root_self_time_is_what_no_child_covers(self):
        spans = self.query("q1", 0, 0.0) + self.query("q3", 5, 40.0)
        gaps = run.unaccounted_ms(spans)
        self.assertAlmostEqual(gaps["q1"], 0.0)
        self.assertAlmostEqual(gaps["q3"], 40.0)

    def test_covered_queries_pass(self):
        spans = self.query("q1", 0, 0.0) + self.query("q3", 5, 0.05)
        gaps = list(run.unaccounted_ms(spans).values())
        self.assertTrue(run.spans_account(gaps, overhead_ms=12.0))
        # the overhead is a difference of medians and can be negative
        self.assertTrue(run.spans_account(gaps, overhead_ms=-8.0))

    def test_a_phase_outside_every_span_fails(self):
        spans = (self.query("q1", 0, 30.0) + self.query("q3", 5, 35.0)
                 + self.query("q5", 10, 0.0))
        gaps = list(run.unaccounted_ms(spans).values())
        self.assertFalse(run.spans_account(gaps, overhead_ms=12.0))


class Inputs(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        a = workload.query_plan(5, 3000, False, 12)
        self.assertEqual(a, workload.query_plan(5, 3000, False, 12))
        self.assertNotEqual(a, workload.query_plan(6, 3000, False, 12))
        with tempfile.TemporaryDirectory() as d1, \
                tempfile.TemporaryDirectory() as d2:
            self.assertEqual(workload.make_tables(d1, 5, 300),
                             workload.make_tables(d2, 5, 300))
            for t in oracle.TABLES:
                with open(f"{d1}/{t}.parquet", "rb") as f1, \
                        open(f"{d2}/{t}.parquet", "rb") as f2:
                    self.assertEqual(f1.read(), f2.read(), t)

    def test_every_window_holds_every_shape(self):
        plan = workload.query_plan(3, 3000, False, 8)
        for i in (0, 4):
            self.assertEqual(sorted(q["shape"] for q in plan[i:i + 4]),
                             sorted(workload.BGP_SHAPES))

    def test_append_slices_are_disjoint(self):
        slices, base = workload.ingest_plan(9, 3000, 3)
        keys = [k for lo, hi in slices for k in range(lo, hi)]
        self.assertEqual(len(keys), len(set(keys)))
        self.assertEqual(base + len(keys), 3000)

    def test_benchmark_json_lists_what_run_reports(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         run.per_layer_units())
        self.assertTrue({w["name"] for w in spec["workloads"]}
                        <= set(run.WORKLOADS))


class Smoke(unittest.TestCase):
    def test_every_template_matches_its_oracle(self):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            timeout=600)
        self.assertEqual(out.returncode, 0, out.stdout + out.stderr[-3000:])
        summary = json.loads(out.stdout.strip().splitlines()[-1])
        self.assertEqual(summary["failed"], 0)
        shapes = {line.split()[2] for line in out.stdout.splitlines()
                  if line.startswith("smoke ")}
        self.assertEqual(shapes, set(run.SHAPES) | {"ryw"})


if __name__ == "__main__":
    unittest.main()
