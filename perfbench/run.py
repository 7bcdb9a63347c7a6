#!/usr/bin/env python3
"""Crawl, search and curation benchmark for graft.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds graft's sources plus the Scala
harness in perfbench/scala with the Scala compiler shipped in Spark's
jars (into .bench_build/, reused while the sources are unchanged), runs
one workload in a fresh JVM at local[nproc], checks its outputs and
prints one JSON result as the last line of stdout. The line before it
carries the environment (cores, heap, Spark version, source hash).

Optional: --breakdown <file> writes the per-round and per-span detail
of a traced run; --record-digests stores this seed's digests in
perfbench/digests.json (only for a run whose checks all passed).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import analyze  # noqa: E402

WORKLOADS = ["crawl_discover", "curate_batch"]
# these select non-default engine code paths or stdout timers
FORBIDDEN_ENV = ["GRAFT_SEQ_WRITES", "GRAFT_SEQ_BLOOM", "GRAFT_TIMING",
                 "GRAFT_IO_CODEC", "GRAFT_AQE"]
BUILD_DIR = ".bench_build"
RUN_LIMIT_S = 170
HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """Spark's jars: $SPARK_HOME, else the first Spark installation with a
    spark-submit on PATH whose jars include the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(":")
        if d and os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
        if any("scala-compiler" in j for j in jars):
            return jars
    fail("no Spark installation with the Scala compiler among its jars (set SPARK_HOME)")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no graft sources under src/main/scala (run from the repository root)")
    harness = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    return main + harness


def source_hash(root, files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root, jars):
    """Compiles into .bench_build/classes-<source hash>; reuses it if present."""
    files = sources(root)
    digest = source_hash(root, files)
    out = os.path.join(root, BUILD_DIR, "classes-" + digest[:16])
    if os.path.exists(os.path.join(out, "BUILD_OK")):
        return out, digest
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = ":".join(jars)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + files
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-8000:])
        fail("build failed")
    open(os.path.join(tmp, "BUILD_OK"), "w").write("%.1f\n" % (time.time() - t0))
    try:
        os.rename(tmp, out)
    except OSError:
        # another run in this checkout finished the same build first
        shutil.rmtree(tmp, ignore_errors=True)
        if not os.path.exists(os.path.join(out, "BUILD_OK")):
            raise
    for old in glob.glob(os.path.join(root, BUILD_DIR, "classes-*")):
        if old != out and ".tmp" not in old:
            shutil.rmtree(old, ignore_errors=True)
    return out, digest


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return "unknown"
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_harness(classes, jars, args, work, record_path, deadline):
    cmd = (["java", "-Xmx" + HEAP, "-Xss4m", "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-Dderby.system.home=" + work]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + ":" + ":".join(jars), "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", record_path])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = open(os.path.join(work, "harness.log"), "w")
    p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                         start_new_session=True)
    try:
        p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("harness exceeded the time limit", 4)
    except BaseException:
        # interrupted (SIGINT or SIGTERM): stop the JVM before leaving
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        log.close()
    if p.returncode != 0 or not os.path.exists(record_path):
        sys.stderr.write(open(os.path.join(work, "harness.log")).read()[-8000:])
        fail("harness exited with code %d" % p.returncode, 4)
    with open(record_path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--breakdown")
    ap.add_argument("--record-digests", action="store_true")
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bad = [v for v in FORBIDDEN_ENV if v in os.environ]
    if bad:
        fail("refusing to time a run with %s set" % ", ".join(bad), 3)

    root = os.getcwd()
    jars = spark_jars()
    classes, src_digest = build(root, jars)
    work = os.path.join(root, BUILD_DIR, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run_harness(classes, jars, args, work, os.path.join(work, "record.json"),
                          time.time() + RUN_LIMIT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    v = rec["values"]
    cpus = v["cpus"]
    if "timed_end_us" not in v:
        for c in rec["checks"]:
            print("perfbench: %s %s" % (c["name"], c["detail"]), file=sys.stderr)
        fail("workload %s did not complete" % args.workload, 5)
    failures = [c for c in rec["checks"] if not c["ok"]]
    digests_path = os.path.join(HERE, "digests.json")
    known = json.load(open(digests_path)) if os.path.exists(digests_path) else {}
    expected = known.get(args.workload, {}).get(str(args.seed))
    mismatched = analyze.compare_digests(rec["digests"], expected)
    attempted = max(1, len(rec["ops"]))
    failed = min(attempted, len(failures) + len(mismatched))
    for c in failures:
        print("perfbench: check failed: %s %s" % (c["name"], c["detail"]), file=sys.stderr)
    for k in mismatched:
        print("perfbench: digest mismatch: %s got %s expected %s"
              % (k, rec["digests"].get(k), expected[k]), file=sys.stderr)

    if args.trace:
        metrics = analyze.per_layer(rec, cpus)
        units = dict(analyze.per_layer_names())
    else:
        metrics = analyze.end_to_end(args.workload, rec)
        units = analyze.E2E_UNITS
    if args.breakdown:
        with open(args.breakdown, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "rounds": analyze.round_breakdown(rec),
                       "span_self_s": {k: x / 1e6 for k, x in
                                       sorted(analyze.self_times(rec["spans"]).items())},
                       "calls": rec["calls"],
                       "end_to_end": analyze.end_to_end(args.workload, rec),
                       "metrics": metrics}, fh, indent=1)
    if args.record_digests and failed == 0:
        known.setdefault(args.workload, {})[str(args.seed)] = rec["digests"]
        with open(digests_path, "w") as fh:
            json.dump(known, fh, indent=1, sort_keys=True)
            fh.write("\n")

    env = {"nproc": cpus, "heap_max_mb": round(v["heap_max_mb"]),
           "spark_version": v["spark_version"], "git_commit": git_commit(root),
           "source_sha256": src_digest, "workload": args.workload, "seed": args.seed,
           "trace": args.trace, "ops": len(rec["ops"]), "digests": rec["digests"],
           "steal_frac": round(analyze.steal_frac(v), 4)}
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": x, "unit": units[k]} for k, x in metrics.items()}}))


if __name__ == "__main__":
    main()
