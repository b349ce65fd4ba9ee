#!/usr/bin/env python3
"""Benchmark for the graft engine: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark's JVM side with sbt; later runs reuse the build while no source
changed. Inputs are generated once (see gendata.py); the seed permutes the
query order. The last line of
standard output is one JSON object with the run's metrics; everything else
goes to standard error. See README.md for the workloads and metrics.
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
sys.path.insert(0, HERE)

import gendata  # noqa: E402
import metrics  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(ROOT, ".bench_data")
WORK = os.path.join(ROOT, ".bench_work")
OUT = os.path.join(ROOT, ".bench_out")
EXPECTED = os.path.join(HERE, "expected.json")
# the inputs are fixed, so results can be checked against recorded digests;
# the run's --seed permutes the query order
DATA_SEED = 42
SCALE_FACTOR = 0.01
# one core is left to the driver thread, JIT and GC: with every core running
# tasks, a stalled task thread holds up its whole stage and runs spread more
CORES = max(1, min(4, (os.cpu_count() or 2) - 1))
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ----

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".sbt", ".properties"))
                      or "META-INF" in d]
    return sorted(f for f in files if os.path.isfile(f))


def _stamp():
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the engine and the benchmark once per source state; returns
    the runtime classpath."""
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    stamp = _stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.splitlines()
    cps = [l for l in lines if os.pathsep in l and l.rstrip().endswith(".jar")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1].strip()


# ---- inputs ----

def inputs(spec):
    """Generates (once per checkout) the workload's tables; returns their
    directory."""
    with open(os.path.join(HERE, "gendata.py"), "rb") as f:
        gen = hashlib.sha256(f.read()).hexdigest()[:12]
    key = f"sf{SCALE_FACTOR}-c{spec.get('customer_rows') or 0}-s{DATA_SEED}-{gen}"
    d = os.path.join(DATA, key)
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gendata.generate(tmp, DATA_SEED, SCALE_FACTOR, spec.get("customer_rows"))
        try:
            os.rename(tmp, d)
        except OSError:  # another run generated the same tables first
            shutil.rmtree(tmp, ignore_errors=True)
    return d


def link_inputs(src, work):
    """Hard-links the inputs into the run's scratch directory, so anything
    the engine writes beside them goes away with it."""
    d = os.path.join(work, "data")
    os.makedirs(d)
    for name in os.listdir(src):
        os.link(os.path.join(src, name), os.path.join(d, name))
    return os.path.relpath(d, work)


# ---- one run ----

def run_jvm(cp, spec, args, work, data_dir):
    out = os.path.join(work, "record.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-Xmx4g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", "true" if args.trace else "false",
            "--data", data_dir, "--out", out, "--cores", str(CORES),
            "--queries", ",".join(spec["queries"]),
            "--min-rounds", str(spec.get("min_rounds", 1)),
            "--margin-sample", str(spec.get("margin_sample", 0))])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=logf, stderr=logf)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    with open(os.path.join(work, "jvm.log"), errors="replace") as f:
        jvm_log = f.read()
    sys.stderr.write("".join(l + "\n" for l in jvm_log.splitlines() if l.startswith("[perfbench]")))
    if code == 0 and os.path.exists(out):
        keep = os.path.join(OUT, f"{args.workload}-seed{args.seed}")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(out, os.path.join(keep, "record.json"))
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(jvm_log[-3000:])
        raise SystemExit(f"benchmark JVM failed ({code})")
    with open(out) as f:
        return json.load(f)


def _terminate(signum, frame):
    raise SystemExit(f"stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="store this run's check results as the expected ones")
    args = ap.parse_args()
    spec = WORKLOADS[args.workload]

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        raise SystemExit("engine sources not found next to the benchmark (run from a full checkout)")
    cp = build()
    data = inputs(spec)
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run_jvm(cp, spec, args, work, link_inputs(data, work))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    expected = {}
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            expected = json.load(f).get(args.workload, {})
    if args.record:
        metrics.record_expected(EXPECTED, args.workload, rec)
    verdict = metrics.verdict(rec, expected)
    if args.trace:
        out_dir = os.path.join(OUT, f"{args.workload}-seed{args.seed}")
        values = metrics.per_layer(rec, verdict, out_dir)
        log(f"spans and per-query breakdown written to {os.path.relpath(out_dir, ROOT)}")
    else:
        values = metrics.end_to_end(rec, verdict, spec)
    for line in verdict["problems"]:
        log(f"CHECK: {line}")
    print(json.dumps({
        "correct": verdict["correct"], "attempted": verdict["attempted"],
        "failed": verdict["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}))


if __name__ == "__main__":
    main()
