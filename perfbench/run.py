#!/usr/bin/env python3
"""Product-path benchmark for graft: one workload per call.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--sf <scale factor>] [--sf-dir <test-data dir>] [--record <file>]

Run from the repository root. The first call builds this package (the
engine's main sources plus the driver under perfbench/src) with sbt; later
calls reuse the build until a source file changes. The driver JVM runs Spark
as local[<cores>] and writes only under .perfbench_work/ in the checkout:
the run's own files, removed when it ends, and the generated corpus, which
does not depend on the seed and is kept for the next run of the same build.

The last line of stdout is one JSON object: `correct`, `attempted`, `failed`
and `metrics`, holding the end-to-end metrics of BENCHMARK.json with
`--trace 0` and its per-layer metrics with `--trace 1`. Progress and check
failures go to stderr. The exit code is 0 only when a result was printed.
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
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "build.stamp")

# Scale factor of the generated corpus: sf0.01 has 60,000 stream rows. Runs
# are about a minute each, mostly fixed cost; NOTES.md gives the sizing.
DEFAULT_SF = "0.01"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    if not os.path.isdir(ENGINE_SRC):
        raise SystemExit(f"[perfbench] engine sources not found under {os.path.relpath(ENGINE_SRC)}")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("building (sbt writeClasspath)")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false", "writeClasspath"]
    proc = subprocess.Popen(cmd, cwd=HERE, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        code = proc.wait(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        raise SystemExit("[perfbench] build timed out")
    except BaseException:
        stop(proc)
        raise
    if code != 0 or not os.path.exists(CLASSPATH):
        raise SystemExit(f"[perfbench] build failed (exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def stop(proc):
    """Stop a process group and wait until it has ended."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
        proc.wait(timeout=15)
    except (ProcessLookupError, subprocess.TimeoutExpired):
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def run_driver(args, work, cache):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed heap: no resizing between the timed runs of one JVM
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:+UseG1GC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", open(CLASSPATH).read().strip(), "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--sf", args.sf, "--work", work, "--cache", cache,
            "--expected", os.path.join(HERE, "expected.json")]
    if args.sf_dir:
        cmd += ["--sf-dir", os.path.abspath(args.sf_dir)]
    if args.record:
        cmd += ["--record", os.path.abspath(args.record)]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(proc)
        raise SystemExit(f"[perfbench] {args.workload} did not finish within {RUN_TIMEOUT_S} s")
    except BaseException:
        stop(proc)
        raise
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"[perfbench] driver failed (exit {proc.returncode})")
    return json.loads(lines[-1])


def select(raw, spec, trace):
    """Keep the metrics BENCHMARK.json declares for this mode, checking units.

    An end-to-end metric the driver did not measure is an error. A per-layer
    metric the workload does not touch reads 0.
    """
    declared = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in declared:
        got = raw["metrics"].get(m["name"])
        if got is None:
            if not trace:
                raise SystemExit(f"[perfbench] metric {m['name']} was not measured")
            got = {"value": 0.0, "unit": m["unit"]}
        if got["unit"] != m["unit"]:
            raise SystemExit(f"[perfbench] {m['name']} measured in {got['unit']}, declared {m['unit']}")
        metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    return {"correct": raw["correct"], "attempted": raw["attempted"],
            "failed": raw["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default=DEFAULT_SF, help="scale factor of the generated corpus")
    ap.add_argument("--sf-dir", help="read this test-data directory instead of generating one")
    ap.add_argument("--record", help="write the output digests seen to this file")
    args = ap.parse_args()
    # on SIGTERM, unwind so that the build or driver process is stopped too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec_file = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_file) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        raise SystemExit(f"[perfbench] unknown workload {args.workload}")
    build()
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    # the generated corpus is kept between runs, per build of the sources
    corpora = os.path.join(base, "corpus")
    stamp = open(STAMP).read()[:16]
    for old in os.listdir(corpora) if os.path.isdir(corpora) else []:
        if old != stamp:
            shutil.rmtree(os.path.join(corpora, old), ignore_errors=True)
    cache = os.path.join(corpora, stamp)
    try:
        raw = run_driver(args, work, cache)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"driver metrics: {json.dumps(raw['metrics'], sort_keys=True)}")
    print(json.dumps(select(raw, spec, args.trace == 1)))


if __name__ == "__main__":
    main()
