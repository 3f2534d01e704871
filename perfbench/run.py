#!/usr/bin/env python3
"""Crawl benchmark runner.

Builds the engine and the benchmark main from source (sbt, first run only),
then runs one workload in a fresh JVM on local[4] and prints the result as
the last line of standard output:

    {"correct": true, "attempted": 12, "failed": 0, "metrics": {...}}

Run from the root of a checkout:

    python3 perfbench/run.py --workload crawl_rounds --seed 42 --seconds 10 --trace 0

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.
Lines before the result hold the run environment and every iteration's
figures. All files it writes stay under perfbench/.work and target/ dirs.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD_RECORD = os.path.join(HERE, "target", "perfbench-build.json")
PINS = os.path.join(HERE, "pins.json")

WORKLOADS = ("crawl_bulk", "crawl_rounds")
# The environment the published figures were taken in; a run elsewhere is
# flagged in its environment record.
EXPECTED_CORES = 4
DEFAULT_HEAP = "4g"
GC = "UseG1GC"

BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit (same list as the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it. Returns (returncode, stdout)."""
    p = subprocess.Popen(cmd, start_new_session=True, stdout=subprocess.PIPE, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out.decode("utf-8", "replace")


def ensure_build():
    """Classpath of the compiled benchmark, building it when stale."""
    stamp = source_stamp()
    if os.path.exists(BUILD_RECORD):
        with open(BUILD_RECORD) as f:
            rec = json.load(f)
        if rec.get("stamp") == stamp:
            return rec["classpath"]
    log("building engine + benchmark (sbt)")
    t0 = time.time()
    cmd = ["sbt", "--batch", "--no-server", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
           "export Runtime/fullClasspath"]
    # resolve from the local caches only; the build has nothing to download
    env = dict(os.environ, COURSIER_MODE="offline")
    code, out = run_bounded(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env, stderr=sys.stderr)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out)
        raise SystemExit(f"build failed (exit {code})")
    classpath = lines[-1].strip()
    os.makedirs(os.path.dirname(BUILD_RECORD), exist_ok=True)
    with open(BUILD_RECORD, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath,
                   "build_s": round(time.time() - t0, 1)}, f)
    log(f"build done in {time.time() - t0:.0f}s")
    return classpath


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("bench", "full"), default="bench",
                    help="full = the original 60k-page / 10-round crawl shapes")
    ap.add_argument("--heap", default=DEFAULT_HEAP)
    ap.add_argument("--write-pins", action="store_true",
                    help="record this run's per-round checks as the reference")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no engine sources next to the benchmark; "
                         "run it from the root of a full checkout")

    classpath = ensure_build()

    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out_path = os.path.join(tmp, "result.json")
    cores = EXPECTED_CORES
    java = ["java", f"-Xms{args.heap}", f"-Xmx{args.heap}", f"-XX:+{GC}", "-XX:-UsePerfData",
            *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(tmp, 'spark-local')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.CrawlBench",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--scale", args.scale, "--cores", str(cores),
            "--work", WORK, "--out", out_path,
            "--max-wall-s", str(RUN_TIMEOUT_S - 40)]
    if os.path.exists(PINS) and not args.write_pins:
        java += ["--pins", PINS]
    # the engine reads tuning overrides from SPARK_GRAFT_*/GRAFT_* variables;
    # the benchmark measures its defaults
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_"))}
    t0 = time.time()
    code, out = run_bounded(java, RUN_TIMEOUT_S if args.scale == "bench" else 3600,
                            cwd=tmp, env=env, stderr=sys.stderr)
    sys.stderr.write(out)
    if not os.path.exists(out_path):
        raise SystemExit(f"perfbench: the benchmark JVM exited {code} without a result")
    with open(out_path) as f:
        res = json.load(f)
    shutil.rmtree(tmp, ignore_errors=True)

    detail = res.pop("detail")
    nproc = os.cpu_count()
    env_rec = {
        "cores": cores, "nproc": nproc, "heap": args.heap, "gc": GC,
        "jvm": detail.pop("jvm"), "git_commit": git_commit(),
        "wall_s": round(time.time() - t0, 1),
        "mismatch": [m for m, bad in (("cores", nproc != EXPECTED_CORES),
                                      ("heap", args.heap != DEFAULT_HEAP)) if bad],
    }
    if env_rec["mismatch"]:
        log(f"environment differs from the reference setup: {env_rec['mismatch']}")
    print(json.dumps({"env": env_rec}))
    print(json.dumps({"detail": detail}))

    if args.write_pins:
        pins = json.load(open(PINS)) if os.path.exists(PINS) else {}
        first = detail["iterations"][0]["rounds"]
        pins.setdefault(f"{args.workload}@{args.scale}", {})[str(args.seed)] = first
        with open(PINS, "w") as f:
            json.dump(pins, f, indent=1, sort_keys=True)
            f.write("\n")

    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    ok = code == 0 and res["correct"] and res["failed"] == 0
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
