"""Unit tests for the benchmark's own rules (no Spark needed):

    python3 -m unittest discover -s perfbench/tests

except DigestStability, which builds the harness like a benchmark run
and checks its digests on Spark.
"""
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import analyze  # noqa: E402


def span(i, name, parent, s, e):
    return {"id": i, "name": name, "parent": parent, "start_us": s, "end_us": e}


def job(s, e, stack="", site="", cpu_ns=0):
    return {"start_us": s, "end_us": e, "stack": stack, "site": site, "cpu_ns": cpu_ns,
            "tasks": 1, "run_ms": 0, "shuffle_write_b": 0, "shuffle_read_b": 0,
            "spill_b": 0, "output_b": 0}


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(analyze.tail(list(range(1, 1001)))[0], 99.0)
        self.assertEqual(analyze.tail(list(range(1, 10001)))[0], 99.9)
        self.assertEqual(analyze.tail(list(range(1, 100)))[0], 50.0)
        self.assertEqual(analyze.tail(list(range(1, 101))), (90.0, 90))

    def test_too_few_samples_gives_no_tail(self):
        self.assertEqual(analyze.tail(list(range(19))), (0.0, 0.0))
        self.assertEqual(analyze.tail([]), (0.0, 0.0))

    def test_nearest_rank(self):
        self.assertEqual(analyze.percentile([5, 1, 3, 2, 4], 50), 3)
        self.assertEqual(analyze.percentile([5, 1, 3, 2, 4], 100), 5)
        self.assertEqual(analyze.percentile([7], 90), 7)


class Spans(unittest.TestCase):
    def test_union_merges_overlaps_and_ignores_empty(self):
        self.assertEqual(analyze.union_length([(0, 10), (5, 15), (20, 25), (30, 30)]), 20)
        self.assertEqual(analyze.union_length([]), 0)

    def test_self_time_subtracts_covered_children_once(self):
        spans = [span(1, "round", -1, 0, 100), span(2, "write", 1, 10, 50),
                 span(3, "fold", 1, 40, 70), span(4, "inner", 2, 20, 30)]
        st = analyze.self_times(spans)
        self.assertEqual(st["round"], 100 - 60)
        self.assertEqual(st["write"], 40 - 10)
        self.assertEqual(st["fold"], 30)
        self.assertEqual(st["inner"], 10)

    def test_children_outside_parent_are_clipped(self):
        st = analyze.self_times([span(1, "p", -1, 10, 20), span(2, "c", 1, 0, 15)])
        self.assertEqual(st["p"], 5)

    def test_shares_plus_gap_equal_window(self):
        jobs = [job(0, 40), job(20, 60), job(80, 200)]
        sh, gap = analyze.shares(jobs, 10, 100)
        self.assertAlmostEqual(sh[0], 10 + 10)
        self.assertAlmostEqual(sh[1], 10 + 20)
        self.assertAlmostEqual(sh[2], 20)
        self.assertAlmostEqual(gap, 20)
        self.assertAlmostEqual(sum(sh.values()) + gap, 90)


class Attribution(unittest.TestCase):
    STORE = ("org.apache.spark.sql.DataFrameWriter.parquet(DataFrameWriter.scala:1)\n"
             "graft.store.SnapshotStore.writeUnion$1(SnapshotStore.scala:127)\n"
             "graft.crawl.CrawlLoop.runInner(Loop.scala:200)")

    def test_first_graft_frame_wins(self):
        self.assertEqual(analyze.first_graft_frame(self.STORE),
                         ("store", "SnapshotStore", "writeUnion$1"))
        self.assertEqual(analyze.classify(job(0, 1, self.STORE)), "store.write")

    def test_call_sites_to_layers(self):
        cases = {
            "graft.store.SnapshotStore.compact(SnapshotStore.scala:330)": "store.compact",
            "graft.store.SnapshotStore.readAt(SnapshotStore.scala:225)": "store.listing",
            "graft.dedup.SeenSet.aggShards(SeenSet.scala:124)": "dedup.fold",
            "graft.dedup.SeenSet.exactSide(SeenSet.scala:190)": "dedup.prefix",
            "graft.crawl.GoldenSeq$.stats(GoldenSeq.scala:84)": "crawl.stats",
            "graft.frontier.Robots$.prepare(Robots.scala:106)": "frontier.robots",
            "graft.crawl.CrawlLoop.runInner(Loop.scala:160)": "crawl.other",
        }
        for stack, layer in cases.items():
            self.assertEqual(analyze.classify(job(0, 1, stack)), layer, stack)

    def test_broadcast_threads_have_no_graft_frame(self):
        j = job(0, 1, "java.util.concurrent.CompletableFuture$AsyncSupply.run("
                      "CompletableFuture.java:1768)", site="run at CompletableFuture.java:1768")
        self.assertEqual(analyze.classify(j), "crawl.broadcast")

    def test_harness_frames_are_not_graft_modules(self):
        self.assertIsNone(analyze.first_graft_frame("perfbench.Workloads.probes(W.scala:1)"))

    def test_round_accounting_is_exact(self):
        rec = {"values": {"rounds": [{"snap": 2, "start_us": 0, "end_us": 100,
                                      "scheduled": 5, "deduped": 5, "urls_in": 9,
                                      "new_seen": 3}]},
               "jobs": [job(10, 30, self.STORE), job(20, 50, "graft.dedup.SeenSet."
                                                        "aggShards(SeenSet.scala:1)"),
                        job(90, 120, "")]}
        (r,) = analyze.round_breakdown(rec)
        self.assertAlmostEqual(sum(r["layers_s"].values()) + r["gap_s"], r["wall_s"])
        self.assertAlmostEqual(r["gap_s"], 50e-6)
        self.assertAlmostEqual(r["layers_s"]["store.write"], 15e-6)
        self.assertAlmostEqual(r["layers_s"]["dedup.fold"], 25e-6)
        self.assertAlmostEqual(r["layers_s"]["crawl.broadcast"], 10e-6)


class Digests(unittest.TestCase):
    def test_only_recorded_names_are_compared(self):
        got = {"crawl_log": "10:5", "seen": "7:3"}
        self.assertEqual(analyze.compare_digests(got, None), [])
        self.assertEqual(analyze.compare_digests(got, {"crawl_log": "10:5"}), [])
        self.assertEqual(analyze.compare_digests(got, {"seen": "7:4"}), ["seen"])
        self.assertEqual(analyze.compare_digests({}, {"seen": "7:3"}), ["seen"])


class MetricNames(unittest.TestCase):
    def test_names_unique_and_within_limits(self):
        names = [n for n, _ in analyze.per_layer_names()] + analyze.E2E
        self.assertEqual(len(names), len(set(names)))
        self.assertLessEqual(len(analyze.per_layer_names()), 128)
        for n in names:
            self.assertRegex(n, r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


class MetricSets(unittest.TestCase):
    REC = {"values": {"process_start_us": 0, "setup_end_us": 2_000_000,
                      "timed_end_us": 5_000_000, "units": [{"cpu_s": 1.5, "items": 300}]},
           "ops": [{"kind": "leaf", "name": "a", "start_us": 2_000_000, "end_us": 3_000_000,
                    "items": 100},
                   {"kind": "leaf", "name": "a", "start_us": 3_000_000, "end_us": 3_500_000,
                    "items": 100},
                   {"kind": "leaf", "name": "b", "start_us": 3_500_000, "end_us": 5_000_000,
                    "items": 100}],
           "calls": [], "jobs": [], "spans": []}

    def test_every_metric_is_reported(self):
        self.assertEqual(set(analyze.end_to_end("curate_batch", self.REC)), set(analyze.E2E))
        self.assertEqual(set(analyze.per_layer(self.REC, 4)),
                         {n for n, _ in analyze.per_layer_names()})

    def test_repeated_leaves_count_once_in_latency(self):
        m = analyze.end_to_end("curate_batch", self.REC)
        self.assertAlmostEqual(m["latency_ms_p50"], 750 + 1500)
        self.assertAlmostEqual(m["work_per_s"], 300 / 3.0)
        self.assertAlmostEqual(m["cpu_ms_per_work"], 5.0)
        self.assertAlmostEqual(m["setup_s"], 2.0)

    def test_read_tail_covers_all_read_kinds(self):
        calls = [{"name": "analytics." + k, "seconds": (i + 1) / 1e3}
                 for i, k in enumerate(analyze.READ_KINDS * 4)]
        m = analyze.per_layer(dict(self.REC, calls=calls), 4)
        self.assertEqual(m["analytics.reads"], 20)
        self.assertEqual(m["analytics.read_tail_pct"], 50.0)
        self.assertAlmostEqual(m["analytics.read_tail_ms"], 10.0)


class DigestStability(unittest.TestCase):
    """Runs the harness's digest functions on Spark: builds like a
    benchmark run, so it needs the graft sources, a JDK and Spark's jars."""

    def test_digests_depend_only_on_rows(self):
        import run
        root = os.path.abspath(os.path.join(HERE, "..", ".."))
        if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
            self.skipTest("needs the graft sources")
        try:
            jars = run.spark_jars()
        except SystemExit:
            self.skipTest("needs Spark's jars")
        classes, _ = run.build(root, jars)
        with tempfile.TemporaryDirectory(dir=os.path.join(root, run.BUILD_DIR)) as tmp:
            cmd = (["java", "-Xmx1g", "-Djava.io.tmpdir=" + tmp]
                   + [x for p in run.ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
                   + ["-cp", classes + ":" + ":".join(jars), "perfbench.SelfCheck"])
            r = subprocess.run(cmd, cwd=tmp, capture_output=True, text=True, timeout=300)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])


if __name__ == "__main__":
    unittest.main()
