"""Tests of the benchmark's pure parts. Run from the checkout root:

    python3 -m unittest discover -s perfbench/tests -t perfbench
"""
import random
import tempfile
import unittest
import zipfile
from pathlib import Path

from lib import archive, fingerprint, spans, stats


def span(id, parent, start, end, name="x", kind="other", request=None, op=0, **kw):
    s = {"id": id, "parent": parent, "request": request or id, "op": op, "name": name,
         "kind": kind, "label": "", "start": start, "end": end, "jobs": 0, "stages": 0,
         "tasks": 0, "single_task_stages": 0, "cpu_s": 0.0, "gc_s": 0.0,
         "shuffle_write_bytes": 0, "spill_bytes": 0, "output_bytes": 0, "plan_s": 0.0,
         "retained_bytes": 0, "stage_intervals": []}
    s.update(kw)
    return s


class ArchiveTest(unittest.TestCase):
    def make(self, seed):
        with tempfile.TemporaryDirectory() as d:
            z, m = Path(d, "a.zip"), Path(d, "m.tsv")
            n = archive.make_archive(seed, z, m)
            return n, z.read_bytes(), m.read_text()

    def test_same_seed_same_bytes(self):
        self.assertEqual(self.make(5), self.make(5))

    def test_seed_changes_counts_and_pixels(self):
        a, b = self.make(5), self.make(6)
        self.assertNotEqual(a[1], b[1])
        self.assertNotEqual(archive.label_counts(5), archive.label_counts(6))

    def test_layout_and_manifest(self):
        with tempfile.TemporaryDirectory() as d:
            z, m = Path(d, "a.zip"), Path(d, "m.tsv")
            n = archive.make_archive(11, z, m)
            names = zipfile.ZipFile(z).namelist()
            rows = [line.split("\t") for line in m.read_text().splitlines()]
        self.assertEqual(n, len(names))
        self.assertNotEqual(n % archive.BATCH, 0)
        self.assertEqual(sorted(names), [f"{label}/{name}" for label, name, _ in rows])
        self.assertEqual(len({label for label, _, _ in rows}), archive.LABELS)
        self.assertTrue(all(x.count("/") == 1 and x.endswith(".png") for x in names))

    def test_total_is_fixed_and_never_a_batch_multiple(self):
        for seed in range(200):
            counts = archive.label_counts(seed)
            self.assertEqual(sum(counts), archive.TOTAL)
            self.assertTrue(all(c > 0 for c in counts))
        self.assertNotEqual(archive.TOTAL % archive.BATCH, 0)

    def test_png_header(self):
        data = archive.png(2, 1, bytes(6))
        self.assertTrue(data.startswith(b"\x89PNG\r\n\x1a\n"))
        self.assertEqual(data[12:16], b"IHDR")


class SpanTest(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertAlmostEqual(spans.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertAlmostEqual(spans.union_length([(0, 2), (1, 3), (5, 6)], 1, 5.5), 2.5)
        self.assertEqual(spans.union_length([]), 0)

    def test_self_time_subtracts_children_once(self):
        ss = [span(1, 0, 0, 10), span(2, 1, 1, 4, request=1), span(3, 1, 3, 6, request=1),
              span(4, 3, 3.5, 5, request=1)]
        selfs = spans.self_times(ss)
        self.assertAlmostEqual(selfs[1], 5)   # 10 minus the union [1, 6]
        self.assertAlmostEqual(selfs[3], 1.5)
        self.assertAlmostEqual(selfs[4], 1.5)

    def test_stage_busy_and_driver_gap_per_request(self):
        ss = [span(1, 0, 0, 10), span(2, 1, 0, 4, kind="construct", request=1, jobs=2,
                                         stage_intervals=[[1, 3], [2, 4]]),
              span(3, 1, 4, 10, kind="execute", request=1, stage_intervals=[[5, 9], [9.5, 12]]),
              span(4, 0, 10, 12, request=4, stage_intervals=[[10, 11]])]
        m = spans.op_metrics(ss)
        self.assertAlmostEqual(m["spark.stage_busy_s"], 3 + 4.5 + 1)
        self.assertAlmostEqual(m["spark.driver_gap_s"], 10 - 7.5 + 2 - 1)
        self.assertAlmostEqual(m["construct_s"], 4)
        self.assertEqual(m["construct_jobs"], 2)
        self.assertAlmostEqual(m["spark.execute_s"], 6)

    def test_fit_self_time_excludes_batch_waits(self):
        ss = [span(1, 0, 0, 10, name="session"),
              span(2, 1, 2, 9, name="ml.fit", request=1),
              span(3, 2, 2, 3, name="export.next", request=1),
              span(4, 2, 5, 5.5, name="export.next", request=1)]
        m = spans.ingest_metrics(ss, {"export.rows_delivered": 64.0})
        self.assertAlmostEqual(m["ml.fit_self_s"], 5.5)
        self.assertAlmostEqual(m["export.batch_wait_s"], 1.5)
        self.assertAlmostEqual(m["export.first_batch_s"], 1)
        self.assertAlmostEqual(m["export.rows_per_s"], 64 / 1.5)


class StatsTest(unittest.TestCase):
    def test_quartiles_match_statistics(self):
        q1, q2, q3 = stats.quartiles([1, 2, 3, 4, 5, 6, 7, 8, 9, 10])
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(stats.iqr_share([1, 2, 3, 4, 5, 6, 7, 8, 9, 10]), 5.5 / 5.5)

    def test_percentile_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)

    def test_tail_needs_ten_samples_beyond(self):
        self.assertEqual(stats.tail([3, 1, 2]), ("max", 3))
        self.assertEqual(stats.tail(list(range(1, 21)))[0], "p50")
        self.assertEqual(stats.tail(list(range(1, 101))), ("p90", 90))
        self.assertEqual(stats.tail(list(range(1, 1001))), ("p99", 990))


class FingerprintTest(unittest.TestCase):
    def test_row_order_does_not_matter(self):
        hs = [random.getrandbits(64) - (1 << 63) for _ in range(500)]
        shuffled = hs[:]
        random.Random(3).shuffle(shuffled)
        self.assertEqual(fingerprint.fingerprint(hs), fingerprint.fingerprint(shuffled))

    def test_changed_or_duplicated_rows_do(self):
        hs = [1, 2, 3]
        self.assertNotEqual(fingerprint.fingerprint(hs), fingerprint.fingerprint([1, 2, 4]))
        self.assertNotEqual(fingerprint.fingerprint(hs), fingerprint.fingerprint([1, 2, 3, 3]))
        self.assertTrue(fingerprint.fingerprint(hs).startswith("3:"))


class SpecTest(unittest.TestCase):
    def test_runner_reports_exactly_the_declared_metrics(self):
        import json
        import run
        spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"] for m in spec["end_to_end"]}, {"setup_s", *run.END_TO_END})
        self.assertEqual({m["name"] for m in spec["per_layer"]},
                         {*run.GENERIC_LAYERS, "trace.overhead_s", "trace.unattributed_jobs"})
        self.assertEqual({w["name"] for w in spec["workloads"]}, set(run.WORKLOADS))
        for m in spec["per_layer"]:
            self.assertEqual(run.unit_of(m["name"]), m["unit"], m["name"])


class ReportTest(unittest.TestCase):
    """The runner's tally of a harness result with failed operations."""

    @staticmethod
    def op(t, failures=(), kind="plain"):
        return {"op_s": t, "produce_s": t, "consume_s": t, "kind": kind, "attempted": 4,
                "failures": list(failures), "extra": {}}

    @staticmethod
    def harness_result(ops):
        return {"cpus": 4, "setup": {"session_s": 1.0}, "calibration_s": [0.2, 0.3],
                "warm": {"attempted": 4, "failures": [], "extra": {}}, "ops": ops}

    def test_a_failed_operation_is_counted_and_not_timed(self):
        import json
        import run
        # a pass that threw has null timings; one whose check failed keeps them
        res = self.harness_result([self.op(2.0), self.op(None, ["op 1: boom"]),
                                   self.op(9.0, ["q1: wrong rows"]), self.op(4.0)])
        result, lines, layers = run.report("table_commits", 0, res, 5.0, [])
        self.assertEqual((result["correct"], result["attempted"], result["failed"]), (False, 20, 2))
        self.assertEqual(result["metrics"]["op_s"]["value"], 3.0)
        self.assertEqual(result["metrics"]["setup_s"]["value"], 5.0)
        self.assertIsNone(layers)
        self.assertIn("failed_ratio 0.1000 (2/20)", lines)
        json.loads(json.dumps(result))

    def test_wrong_outputs_count_as_failures(self):
        import run
        result, _, _ = run.report("table_commits", 0, self.harness_result([self.op(1.0)]), 5.0,
                                  ["q121_merge_upsert: fingerprint a != expected b"])
        self.assertEqual((result["correct"], result["failed"]), (False, 1))

    def test_no_completed_operation_is_an_error(self):
        import run
        with self.assertRaises(SystemExit):
            run.report("table_commits", 0, self.harness_result([self.op(None, ["op 0: boom"])]), 5.0, [])


class CompareTest(unittest.TestCase):
    def test_verdicts(self):
        import compare
        base = [10.0 + 0.01 * i for i in range(10)]
        self.assertEqual(compare.verdict(base, [x - 1 for x in base], "lower", 0.1)[0], "better")
        self.assertEqual(compare.verdict(base, [x * 1.2 for x in base], "lower", 0.1)[0], "worse")
        self.assertEqual(compare.verdict(base, base, "lower", 0.1)[0], "same")
        noisy = [5, 15, 5, 15, 5, 15, 5, 15, 5, 15]
        self.assertEqual(compare.verdict(noisy, noisy, "lower", 0.1)[0], "unresolved")


if __name__ == "__main__":
    unittest.main()
