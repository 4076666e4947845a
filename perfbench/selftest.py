#!/usr/bin/env python3
"""Self-test of the benchmark harness (no Spark session needed).

    python3 perfbench/selftest.py

Checks that:
- every metric name in BENCHMARK.json, and every name the traced run
  emits, matches ``[A-Za-z0-9_.-]+`` and the declared units agree;
- a percentile above the median is emitted only while at least ten
  samples lie beyond it;
- an injected wrong result, through the same output check a run uses,
  is reported as a failed operation and leaves the timings;
- a result that matches its oracle only within the epsilon is a failed
  operation, except in the one listed known-defect column, where it is
  reported as a known defect and nowhere else.
"""

from __future__ import annotations

import json
import os
import random
import sys
import tempfile
import unittest
from types import SimpleNamespace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import harness as H  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from aws_glue_redshift_datawarehouse_etl_pipeline_spark import queries as Q  # noqa: E402


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def traced_metrics() -> dict:
    """The per-layer metrics a traced run emits, from empty inputs."""
    phase = {"unit_s": [1.0], "job_s": 1.0, "steal": 0.0, "old_gen_peak_mb": 1.0}
    probe = SimpleNamespace(catalyst_ms={})
    return run.per_layer(object(), H.Recorder(), phase, H.ExecTotals(), 0.0, 1.0, probe)


class MetricNames(unittest.TestCase):
    def test_spec_names(self):
        spec = load_spec()
        names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
        self.assertEqual(len(names), len(set(names)))
        for name in names:
            self.assertRegex(name, H.METRIC_NAME)

    def test_emitted_names_match_spec(self):
        spec = load_spec()
        emitted = traced_metrics()
        declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
        self.assertEqual(set(emitted), set(declared))
        for name in emitted:
            self.assertRegex(name, H.METRIC_NAME)
            self.assertEqual(run.unit_of(name), declared[name], name)
        e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        self.assertEqual(e2e, run.END_TO_END_UNITS)


class Percentiles(unittest.TestCase):
    def test_tail_needs_ten_beyond(self):
        self.assertIsNone(H.percentile([float(i) for i in range(99)], 0.9))
        self.assertEqual(H.percentile([float(i) for i in range(100)], 0.9), 89.0)
        self.assertIsNone(H.percentile([float(i) for i in range(19)], 0.6))
        self.assertEqual(H.samples_beyond(100, 0.9), 10)

    def test_median_of_any_sample(self):
        self.assertEqual(H.percentile([3.0], 0.5), 3.0)
        self.assertEqual(H.percentile([1.0, 2.0, 4.0, 8.0], 0.5), 3.0)
        self.assertIsNone(H.percentile([], 0.5))


class InjectedWrongResult(unittest.TestCase):
    """A wrong result goes through Curation.check, the check a
    run makes, on a real generated tree and the registry's oracle."""

    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.TemporaryDirectory()
        datagen.generate(cls.tmp.name, 0.001)
        Q.register_all()

    @classmethod
    def tearDownClass(cls):
        cls.tmp.cleanup()

    def _run(self, results):
        wl = W.Curation(self.tmp.name)
        rec = H.Recorder()
        for i, (name, table) in enumerate(results):
            rec.ops.append(H.Op(name, 1.0 + i, unit=0))
            wl.results.append((i, name, table))
        env = W.Env(None, None, rec, random.Random(0), self.tmp.name, 1)
        wl.check(env)
        return rec

    def _oracle_table(self, name):
        oracle = W.QueryOracle(self.tmp.name, Q.ORACLE, 1)
        try:
            return oracle.con.execute(Q.ORACLE[name]).fetch_arrow_table()
        finally:
            oracle.close()

    def test_right_result_passes(self):
        good = self._oracle_table("pricing_summary")
        rec = self._run([("pricing_summary", good)])
        self.assertTrue(all(op.ok for op in rec.ops))

    def test_wrong_result_is_a_failed_op(self):
        good = self._oracle_table("pricing_summary")
        col = good.column_names.index("sum_qty")
        wrong = good.set_column(
            col, "sum_qty", [[v + 1.0 for v in good.column("sum_qty").to_pylist()]]
        )
        rec = self._run([("pricing_summary", good), ("pricing_summary", wrong)])
        self.assertEqual([op.ok for op in rec.ops], [True, False])
        attempted, failed = run.tally([rec])
        self.assertEqual((attempted, failed), (2, 1))
        metrics = run.end_to_end(rec, {"job_s": 1.0}, 1.0, 1.0)
        self.assertEqual(metrics["op_s.p50"], 1.0)  # the failed op's 2.0 s is not a timing

    def _mapped(self, table, column, fn):
        col = table.column_names.index(column)
        return table.set_column(col, column, [[fn(v) for v in table.column(column).to_pylist()]])

    def test_approx_only_match_is_a_failed_op(self):
        good = self._oracle_table("pricing_summary")
        near = self._mapped(good, "sum_qty", lambda v: v * (1 + 1e-12))
        rec = self._run([("pricing_summary", near)])
        self.assertEqual([op.ok for op in rec.ops], [False])
        self.assertIn("approx-only", rec.ops[0].detail)

    def test_known_defect_is_confined_to_its_column(self):
        name = "embedding_cosine_topk"
        self.assertIn((name, "cosine"), oracle.KNOWN_DEFECTS)
        good = self._oracle_table(name)
        near = self._mapped(good, "cosine", lambda v: v * (1 + 1e-12))
        far = self._mapped(good, "cosine", lambda v: v * (1 + 1e-6))
        other = self._mapped(near, "vec_id", lambda v: v + 1)
        rec = self._run([(name, good), (name, near), (name, far), (name, other)])
        self.assertEqual([op.ok for op in rec.ops], [True, True, False, False])
        self.assertEqual([op.known_defect for op in rec.ops], [False, True, False, False])
        self.assertEqual(run.tally([rec]), (4, 2))

    def test_changed_fingerprint_is_a_failed_op(self):
        a = self._oracle_table("pricing_summary")
        b = a.slice(1)
        rec = self._run([("minhash_lsh_dedup_documents", a), ("minhash_lsh_dedup_documents", b)])
        self.assertEqual([op.ok for op in rec.ops], [True, False])


if __name__ == "__main__":
    unittest.main()
