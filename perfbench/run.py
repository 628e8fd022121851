#!/usr/bin/env python3
"""Same-host benchmark of the PAGE-XML / web-text engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness with sbt (offline). Later runs reuse that build while its stamp, a
SHA-256 over the checkout's path and every build and source file of the
program and of the harness, still matches; any edit rebuilds. One JVM runs the
workload (see perfbench/src/main/scala/perfbench/Main.scala); this script
launches it, adds the DuckDB oracle check of the query workload, keeps the
full report and the spans under .bench_work/reports/, and prints as its last
line {"correct", "attempted", "failed", "metrics"} with the end-to-end
metrics of BENCHMARK.json (trace 0) or its per-layer metrics (trace 1).
The line before it is the full report: every metric with its unit and
sample count, the host block, the seed and the corpus hash.

--smoke shrinks the corpora and --corrupt damages one output before it is
checked; both exist for perfbench/tests.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "launch")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("extract_pagexml", "repair_pagexml", "html_main", "query_iterative")
# A run's JVM takes under a minute of fixed cost (set-up, a fixed number of
# warm-up passes and, traced, a few local[1] passes) plus about --seconds of
# timed passes.
JVM_FIXED_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 850
HEAP = "-Xmx3g"
# set per run so that every file the run writes stays inside the checkout
PATH_OPTS = ("-Xmx", "-Dspark.local.dir=", "-Djava.io.tmpdir=", "-Dspark.sql.warehouse.dir=")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def read_lines(path):
    with open(path) as fh:
        return [l for l in fh.read().splitlines() if l]


def source_stamp(root):
    """SHA-256 over the checkout's absolute path and the bytes of every build
    and source file the launch files are built from: the program's
    build.sbt, project/ and src/main/, and the harness's build.sbt, project/
    and src/. Build outputs (target/, project/project/) are left out."""
    h = hashlib.sha256(os.path.abspath(root).encode())
    files = []
    for top in ("build.sbt", "project", os.path.join("src", "main"),
                os.path.join("perfbench", "build.sbt"), os.path.join("perfbench", "project"),
                os.path.join("perfbench", "src")):
        path = os.path.join(root, top)
        if os.path.isfile(path):
            files.append(top)
        for d, dirs, names in os.walk(path):
            dirs[:] = sorted(x for x in dirs
                             if x != "target" and not (x == "project" and os.path.basename(d) == "project"))
            files += [os.path.relpath(os.path.join(d, n), root) for n in names]
    for rel in sorted(files):
        h.update(b"\0" + rel.encode() + b"\0")
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def launch_current(launch, root):
    """True when the launch files in `launch` were built from the sources now
    in `root`: the stamp matches, every classpath entry exists, and every
    class directory on it lies under `root` (a copied tree that kept another
    checkout's target/ would otherwise run that checkout's classes)."""
    paths = [os.path.join(launch, n) for n in ("classpath.txt", "java_options.txt", "stamp.txt")]
    if not all(os.path.isfile(p) for p in paths):
        return False
    if read_lines(paths[2]) != [source_stamp(root)]:
        return False
    under = os.path.abspath(root) + os.sep
    return all(os.path.exists(p) and (not os.path.isdir(p) or p.startswith(under))
               for p in read_lines(paths[0]))


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; on timeout the group is killed
    and waited for. Returns the exit code, or None on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    import oracle
    if launch_current(LAUNCH, ROOT):
        return
    stamp = source_stamp(ROOT)
    stamp_path = os.path.join(LAUNCH, "stamp.txt")
    if os.path.exists(stamp_path):
        os.remove(stamp_path)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    code = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"], BUILD_TIMEOUT_S,
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if code != 0:
        die(f"build failed (sbt exit {code})")
    # the query workload's oracle answers do not depend on the seed
    dump = os.path.join(LAUNCH, "oracle_sql.json")
    code = run_bounded(java_cmd(["--dump-oracle", dump]), JVM_FIXED_TIMEOUT_S, cwd=HERE,
                       stdout=sys.stderr, stderr=sys.stderr)
    if code != 0:
        die(f"oracle dump failed (exit {code})")
    with open(dump) as fh:
        d = json.load(fh)
    oracle.warm(d["sf_dir"], d["sql"])
    with open(stamp_path, "w") as fh:
        fh.write(stamp + "\n")
    if not launch_current(LAUNCH, ROOT):
        die("the build wrote a classpath that does not match this checkout")


def java_cmd(args, jvm_opts=()):
    opts = [o for o in read_lines(os.path.join(LAUNCH, "java_options.txt")) if not o.startswith(PATH_OPTS)]
    return (["java"] + opts + [HEAP] + list(jvm_opts)
            + ["-cp", ":".join(read_lines(os.path.join(LAUNCH, "classpath.txt"))), "perfbench.Main"] + args)


def metric_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--corrupt", action="store_true")
    a = ap.parse_args()
    if a.seconds <= 0:
        die("--seconds must be positive")
    end_to_end, per_layer = metric_names()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.isfile(os.path.join(ROOT, "tools", "oracle_diff.py"))):
        die("the program's build.sbt, src/main/scala and tools/oracle_diff.py are not next to perfbench/")
    build()
    import oracle

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}{'-smoke' if a.smoke else ''}"
    work = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    reports = os.path.join(WORK_ROOT, "reports")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(reports, exist_ok=True)
    report_path = os.path.join(reports, tag + ".json")
    spans_path = os.path.join(reports, tag + ".spans.json")
    try:
        cmd = java_cmd(
            ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--work", work, "--report", report_path]
            + (["--spans", spans_path] if a.trace else [])
            + (["--smoke"] if a.smoke else []) + (["--corrupt"] if a.corrupt else []),
            [f"-Djava.io.tmpdir={work}/tmp",
             f"-Dspark.local.dir={work}/local",
             f"-Dspark.sql.warehouse.dir={work}/warehouse"])
        env = dict(os.environ)
        env["SPARK_LOCAL_DIRS"] = f"{work}/local"  # Spark prefers it over spark.local.dir
        if os.path.exists(report_path):
            os.remove(report_path)
        code = run_bounded(cmd, JVM_FIXED_TIMEOUT_S + 3 * a.seconds, cwd=work, env=env,
                           stdout=sys.stderr, stderr=sys.stderr)
        if code != 0 or not os.path.isfile(report_path):
            die(f"benchmark JVM failed (exit {code})")
        with open(report_path) as fh:
            report = json.load(fh)

        if a.workload == "query_iterative":
            # outside every timed interval: the JVM has exited
            sf = os.path.join(work, "corpus0")
            results = oracle.compare(sf, os.path.join(work, "qout"), corrupt=a.corrupt)
            report["oracle"] = {q: (r or "OK") for q, r in results.items()}
            report["attempted"] += len(results)
            bad = [q for q, r in results.items() if r is not None]
            report["failed"] += len(bad)
            report["errors"] += [f"{q}: {results[q]}" for q in bad]

        attempted, failed = report["attempted"], report["failed"]
        report["per_layer"]["fail_ratio"] = {"value": failed / attempted, "unit": "ratio", "samples": attempted}
        report["correct"] = failed == 0 and not report["errors"]
        with open(report_path, "w") as fh:
            json.dump(report, fh)

        wanted = per_layer if a.trace else end_to_end
        block = report["per_layer"] if a.trace else report["end_to_end"]
        metrics = {}
        for m in wanted:
            got = block.get(m["name"])
            if got is None:
                if not a.trace:
                    die(f"end-to-end metric {m['name']} missing from the report")
                got = {"value": 0, "unit": m["unit"], "samples": 0,
                       "absent": "layer not on this workload's path"}
                block[m["name"]] = got
            if got["unit"] != m["unit"]:
                die(f"metric {m['name']} has unit {got['unit']}, BENCHMARK.json says {m['unit']}")
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
        print(json.dumps({"report": report}))
        print(json.dumps({"correct": report["correct"], "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        sys.exit(0 if report["correct"] else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
