"""Tests of the benchmark's own code. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import metrics  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_level_with_ten_samples_beyond(self):
        self.assertEqual(metrics.tail(list(range(100)))[0], 90.0)
        self.assertEqual(metrics.tail(list(range(99)))[0], 75.0)
        self.assertEqual(metrics.tail(list(range(1000)))[0], 99.0)
        self.assertEqual(metrics.tail(list(range(10000)))[0], 99.9)

    def test_too_few_samples_fall_back_to_median(self):
        self.assertEqual(metrics.tail(list(range(15))), (50.0, 7))

    def test_value_has_ten_samples_above_it(self):
        vals = [float(i) for i in range(100)]
        level, v = metrics.tail(vals)
        self.assertEqual(sum(1 for x in vals if x > v), 10)

    def test_nearest_rank(self):
        self.assertEqual(metrics.percentile([5, 1, 3], 50), 3)
        self.assertEqual(metrics.percentile([1, 2, 3, 4], 100), 4)


def span(i, parent, s, e, name="x"):
    return {"id": i, "parent": parent, "op": 0, "name": name,
            "start_us": s, "end_us": e}


class SelfTime(unittest.TestCase):
    def test_children_overlap_and_overhang(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 1, 3), span(3, 1, 2, 5),
                 span(4, 1, 8, 12)]
        t = metrics.self_times(spans)
        self.assertEqual(t[1], 4)   # 10 - [1,5] - [8,10]
        self.assertEqual(t[2], 2)
        self.assertEqual(t[4], 4)

    def test_grandchildren_count_only_against_their_parent(self):
        spans = [span(1, 0, 0, 10), span(2, 1, 0, 6), span(3, 2, 0, 6)]
        t = metrics.self_times(spans)
        self.assertEqual((t[1], t[2], t[3]), (4, 0, 6))

    def test_stream_jobs_move_under_their_batch(self):
        spans = [span(1, 0, 0, 10, "stream"), span(2, 1, 0, 4, "stream.batch"),
                 span(3, 1, 5, 9, "stream.batch"), span(4, 1, 6, 7, "spark.job")]
        metrics.reparent_stream_jobs(spans)
        self.assertEqual(spans[3]["parent"], 3)


class StolenTime(unittest.TestCase):
    def raw(self):
        return {"setup_s": 10.0, "setup_stolen": 0.5,
                "passes_s": [2.0, 4.0, 3.0], "passes_stolen": [0.0, 0.5, 0.25],
                "ops": [{"latency_s": 1.0, "stolen": 0.1, "ok": True},
                        {"latency_s": 9.0, "stolen": 0.0, "ok": False}],
                "jvm": {"rss_peak_mb": 100.0}}

    def test_share_of_wanted_cpu_time(self):
        self.assertEqual(metrics.stolen((100, 10), (190, 20)), 0.1)
        self.assertEqual(metrics.stolen((100, 10), (100, 10)), 0.0)

    def test_timings_lose_their_stolen_share(self):
        e = metrics.end_to_end(self.raw())
        self.assertEqual(e["setup_s"], 5.0)
        self.assertEqual(e["wall_s"], 2.0)      # median of 2, 2, 2.25
        self.assertAlmostEqual(e["op_p50_s"], 0.9)   # failed ops left out
        self.assertEqual(e["rss_peak_mb"], 100.0)

    def test_as_measured(self):
        e = metrics.end_to_end(self.raw(), less_stolen=False)
        self.assertEqual((e["setup_s"], e["wall_s"], e["op_p50_s"]), (10.0, 3.0, 1.0))


class SeedDeterminism(unittest.TestCase):
    def digest(self, seed, kind):
        with tempfile.TemporaryDirectory() as d:
            if kind == "tables":
                gen.write_tables(seed, 0.001, d)
            elif kind == "corpus":
                gen.corpus(seed, d, 2, 1)
            else:
                gen.telemetry(seed, d, 2, 50)
            return gen.digest(d)

    def test_same_seed_same_inputs(self):
        for kind in ("tables", "corpus", "telemetry"):
            self.assertEqual(self.digest(7, kind), self.digest(7, kind), kind)

    def test_other_seed_other_inputs(self):
        for kind in ("tables", "corpus", "telemetry"):
            self.assertNotEqual(self.digest(7, kind), self.digest(8, kind), kind)


class ResultHash(unittest.TestCase):
    """Order-insensitivity of the JVM-side result hash (graft.perfbench.SelfCheck)."""

    def test_hash_ignores_order_and_sees_changes(self):
        import run
        root = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))
        state = os.path.join(root, ".perfbench")
        _, classes = run.build(root, state)
        cmd = ["java", "-Xmx1g"]
        for p in run.ADD_OPENS:
            cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
        with tempfile.TemporaryDirectory(dir=state) as work:
            cmd += ["-Djava.io.tmpdir=" + work,
                    "-cp", classes + os.pathsep + run.spark_jars(),
                    "graft.perfbench.SelfCheck", work]
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                               text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        self.assertEqual(r.stdout.strip().splitlines()[-1], "ok")


if __name__ == "__main__":
    unittest.main()
