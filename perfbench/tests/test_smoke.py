"""Smoke tests of the benchmark: every workload at smoke size, untraced and
traced; a corrupted output must be caught; the seed must fix the corpus; an
edited source must invalidate the build.

    python3 -m pytest perfbench/tests      (or: python3 -m unittest discover perfbench/tests)

Runs from any directory; builds the program on first use like run.py does.
About ten minutes on 4 cores, most of it the query workload.
"""
import functools
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")
WORKLOADS = ("extract_pagexml", "repair_pagexml", "html_main", "query_iterative")

with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)

sys.path.insert(0, BENCH)
import run as launcher  # noqa: E402


@functools.lru_cache(maxsize=None)
def run(workload, seed=1, trace=0, corrupt=False, smoke=True):
    """(exit code, stdout lines) of one benchmark run; runs are cached."""
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace)] + (["--smoke"] if smoke else []) + (["--corrupt"] if corrupt else [])
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=900)
    return p.returncode, p.stdout.splitlines()


def parsed(workload, **kw):
    code, lines = run(workload, **kw)
    return code, json.loads(lines[-2])["report"], json.loads(lines[-1])


class MetricsPrinted(unittest.TestCase):
    def check_run(self, workload, trace):
        code, report, result = parsed(workload, trace=trace)
        self.assertEqual(code, 0)
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
        self.assertEqual(list(result["metrics"]), [m["name"] for m in wanted])
        block = report["per_layer"] if trace else report["end_to_end"]
        for m in wanted:
            got = block[m["name"]]
            self.assertEqual(result["metrics"][m["name"]], {"value": got["value"], "unit": m["unit"]})
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["samples"], int)
            if got["samples"] == 0:
                self.assertTrue(got.get("absent"), m["name"])  # absent metrics say why
            else:
                self.assertIsInstance(got["value"], (int, float), m["name"])
        if not trace:
            for m in wanted:  # end-to-end metrics are measured on every workload
                self.assertGreater(block[m["name"]]["samples"], 0, m["name"])
                self.assertGreater(block[m["name"]]["value"], 0, m["name"])
        for k in ("nproc", "mem_total_mb", "shm_size_mb", "shm_free_mb", "jvm_max_heap_mb", "jvm_flags",
                  "spark_confs"):
            self.assertIn(k, report["host"])
        self.assertEqual(len(report["steal_pct"]), report["end_to_end"]["pass_s"]["samples"])
        self.assertEqual(report["per_layer"]["fail_ratio"]["value"], 0)
        return report

    def test_untraced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                self.check_run(w, 0)

    def test_traced(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                report = self.check_run(w, 1)
                layer = report["per_layer"]
                self.assertIn("trace.overhead_frac", layer)
                self.assertGreater(layer["spark.jobs"]["samples"], 0)
                if w == "query_iterative":
                    self.assertGreater(layer["q.host_rank_converged.jobs"]["value"], 0)
                else:
                    self.assertGreater(layer["sink.s"]["value"], 0)
                    self.assertGreater(layer["scaling_eff"]["value"], 0)


class CorruptionCaught(unittest.TestCase):
    def test_corrupted_output_fails_the_run(self):
        for w in WORKLOADS:
            with self.subTest(workload=w):
                code, report, result = parsed(w, corrupt=True)
                self.assertNotEqual(code, 0)
                self.assertFalse(result["correct"])
                self.assertGreater(result["failed"], 0)
                self.assertGreater(report["per_layer"]["fail_ratio"]["value"], 0)


class Seeds(unittest.TestCase):
    def corpus(self, seed):
        code, report, _ = parsed("extract_pagexml", seed=seed, trace=1)
        self.assertEqual(code, 0)
        self.assertEqual(report["seed"], seed)
        return report["corpus"]["sha256"]

    def test_same_seed_same_corpus(self):
        first = self.corpus(1)
        # a traced and an untraced run of one seed generate the corpus anew
        _, again, _ = parsed("extract_pagexml", seed=1, trace=0)
        self.assertEqual(again["corpus"]["sha256"], first)

    def test_other_seed_other_corpus(self):
        self.assertNotEqual(self.corpus(1), self.corpus(2))

    def test_same_seed_same_query_order(self):
        _, a, _ = parsed("query_iterative", seed=1, trace=0)
        _, b, _ = parsed("query_iterative", seed=1, trace=1)
        self.assertEqual(a["corpus"]["query_order"], b["corpus"]["query_order"])
        self.assertEqual(a["corpus"]["sha256"], b["corpus"]["sha256"])


class BuildStamp(unittest.TestCase):
    """The launch files are reused only for the sources they were built from."""

    def setUp(self):
        self.root = os.path.join(ROOT, ".bench_work", "stamp-test", "a")
        shutil.rmtree(os.path.dirname(self.root), ignore_errors=True)
        self.addCleanup(shutil.rmtree, os.path.dirname(self.root), True)
        for rel in ("build.sbt", "project/build.properties", "project/target/x.class",
                    "project/project/target/y", "src/main/scala/A.scala", "src/test/scala/T.scala",
                    "target/scala-2.13/classes/A.class", "perfbench/build.sbt",
                    "perfbench/project/build.properties", "perfbench/src/main/scala/B.scala",
                    "perfbench/target/launch/z"):
            self.write(rel, rel)
        self.launch = os.path.join(self.root, "perfbench", "target", "launch")
        self.classes = os.path.join(self.root, "target", "scala-2.13", "classes")
        self.write("perfbench/target/launch/classpath.txt", self.classes + "\n" + RUN + "\n")
        self.write("perfbench/target/launch/java_options.txt", "-Dx=1\n")
        self.write("perfbench/target/launch/stamp.txt", launcher.source_stamp(self.root) + "\n")

    def write(self, rel, text):
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            fh.write(text)

    def test_unchanged_sources_reuse_the_build(self):
        self.assertTrue(launcher.launch_current(self.launch, self.root))

    def test_build_outputs_do_not_count(self):
        self.write("project/target/x.class", "changed")
        self.write("target/scala-2.13/classes/A.class", "changed")
        self.assertTrue(launcher.launch_current(self.launch, self.root))

    def test_edited_sources_rebuild(self):
        for rel in ("build.sbt", "project/build.properties", "src/main/scala/A.scala",
                    "src/main/scala/New.scala", "perfbench/build.sbt", "perfbench/src/main/scala/B.scala"):
            with self.subTest(edited=rel):
                stamp = launcher.source_stamp(self.root)
                self.write(rel, "edited " + rel)
                self.assertNotEqual(launcher.source_stamp(self.root), stamp)
                self.assertFalse(launcher.launch_current(self.launch, self.root))

    def test_copied_tree_rebuilds(self):
        """A copy that kept target/ still lists the original's class directory."""
        copy = os.path.join(os.path.dirname(self.root), "b")
        shutil.copytree(self.root, copy)
        self.assertFalse(launcher.launch_current(os.path.join(copy, "perfbench", "target", "launch"), copy))

    def test_class_directory_outside_the_checkout_rebuilds(self):
        self.write("perfbench/target/launch/classpath.txt", HERE + "\n")
        self.assertFalse(launcher.launch_current(self.launch, self.root))


class IncompleteCheckout(unittest.TestCase):
    def test_fails_without_the_program(self):
        """With only BENCHMARK.json and perfbench/ there is nothing to build."""
        d = os.path.join(ROOT, ".bench_work", "incomplete-checkout")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "html_main", "--seed", "1",
                                "--seconds", "1", "--trace", "0"], cwd=d, stdout=subprocess.PIPE,
                               stderr=subprocess.DEVNULL, text=True, timeout=180)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout.strip(), "")
        finally:
            shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
