#!/usr/bin/env python3
"""The repository's benchmark: CDC consumer drain and batch latency plus a
batch query mix, with per-layer spans.

Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_large_state --seed 1 --seconds 10 --trace 0

Workloads: cdc_large_state, cdc_dirty_jdbc, query_mix (see BENCHMARK.json
and perfbench/BASELINE.md); `--workload all` runs the three in turn and
prints one JSON object keyed by workload. The first run builds the program and the
harness with sbt (perfbench/harness); later runs reuse the build while the
sources are unchanged. Each run starts one JVM, which generates its inputs
from --seed, sets up, measures, and checks the program's outputs; for
query_mix this script then checks the results against the DuckDB oracles.
The last line of standard output is the result as one JSON object; the exit
code is non-zero when the run failed or any output check failed.

`--trace 1` reports the per-layer metrics instead of the end-to-end ones
and writes the spans to .bench_build/perfbench/trace-<workload>.json.
"""
import argparse
import contextlib
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
DATA = os.path.join(HERE, "data", "sf0.01")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("cdc_large_state", "cdc_dirty_jdbc", "query_mix")
RUN_LIMIT_S = 175  # one run must end within 180 s once built

# Per-layer metrics a workload has no layer for: reported as 0.
CDC_LAYERS = ("sources.", "engine.", "parse.", "merge.", "state.", "route.",
              "jdbc.", "batch.", "sink.")
QUERY_LAYERS = ("query.", "g02_", "s05_")
ABSENT = {"cdc_large_state": QUERY_LAYERS, "cdc_dirty_jdbc": QUERY_LAYERS,
          "query_mix": CDC_LAYERS}

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(1)


# ---------------------------------------------------------------- build
def source_fingerprint():
    """Hash of everything the build reads, so an unchanged tree reuses it."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "project", "build.properties"))
    for top in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, names in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")
                       or d == HARNESS and x == "project"]
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    os.makedirs(BUILD, exist_ok=True)
    fp_file = os.path.join(BUILD, "fingerprint")
    cp_file = os.path.join(BUILD, "classpath.txt")
    fp = source_fingerprint()
    if os.path.isfile(cp_file) and os.path.isfile(fp_file):
        with open(fp_file) as f:
            if f.read().strip() == fp:
                with open(cp_file) as c:
                    return c.read().strip()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no program to build: build.sbt is missing from the checkout root")
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building the program and the harness with sbt ...")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        rc = subprocess.call(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    with open(os.path.join(BUILD, "build.log")) as f:
        lines = f.read().splitlines()
    cps = [l for l in lines if "harness" in l and os.pathsep in l and ".jar" in l
           and not l.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {rc})")
    with open(cp_file, "w") as f:
        f.write(cps[-1].strip())
    with open(fp_file, "w") as f:
        f.write(fp)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1].strip()


# ---------------------------------------------------------------- oracle
def oracle_check(qout):
    """Compare each dumped query_mix result with its DuckDB oracle through
    tools/check_correctness.py. Its report goes to stderr, so the result
    stays the last line of stdout; its temporary files stay in `qout`."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_correctness
    tmp = os.path.join(qout, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ.setdefault("GRAFT_DUCKDB_MEM", "2GB")
    with contextlib.redirect_stdout(sys.stderr):
        rc = check_correctness.main(DATA, qout)
    return {"name": "every result = its DuckDB oracle (tools/check_correctness.py)",
            "ok": rc == 0, "detail": "" if rc == 0 else "see the FAIL lines above"}


# ---------------------------------------------------------------- run
def declared_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench["end_to_end"], bench["per_layer"]


def run_jvm(classpath, workload, args, work, deadline):
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out_file = os.path.join(work, "report.json")
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
            # no log sync per commit: the sink's statement count is measured,
            # not the disk's fsync latency
            "-Dderby.system.durability=test",
            "-Dspark.ui.enabled=false",
            "-cp", classpath, "perfbench.Main",
            "--workload", workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--work", work, "--data", DATA, "--out", out_file]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            # on a timeout, and when this script is stopped mid-run
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0 or not os.path.isfile(out_file):
        with open(jvm_log, errors="replace") as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("the run timed out" if rc is None else f"the JVM exited with {rc}")
    with open(out_file) as f:
        return json.load(f)


def run_workload(workload, args, classpath, end_to_end, per_layer):
    """Run one workload; return its result object: correct, attempted,
    failed and metrics."""
    t0 = time.time()
    work = os.path.join(BUILD, "work", f"{workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        report = run_jvm(classpath, workload, args, work, t0 + RUN_LIMIT_S - 15)
        checks = report["checks"]
        if workload == "query_mix":
            checks.append(oracle_check(os.path.join(work, "qout")))
        if args.trace:
            spans = os.path.join(work, "spans.json")
            if os.path.isfile(spans):
                shutil.copy(spans, os.path.join(BUILD, f"trace-{workload}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    log(f"--- {workload} (seed {args.seed})")
    for c in checks:
        log(f"{'ok  ' if c['ok'] else 'FAIL'} {c['name']} {c['detail']}")
    for k, v in report.get("notes", {}).items():
        log(f"{k}: {v}")
    got = report["metrics"]
    metrics = {}
    for m in (per_layer if args.trace else end_to_end):
        name = m["name"]
        if name in got:
            metrics[name] = {"value": got[name]["value"], "unit": m["unit"]}
            log(f"{name} = {got[name]['value']:.6g} {m['unit']} "
                f"(n={got[name]['samples']})")
        elif args.trace and name.startswith(ABSENT[workload]):
            metrics[name] = {"value": 0, "unit": m["unit"]}
        else:
            checks.append({"name": f"metric {name} reported", "ok": False, "detail": ""})
            log(f"FAIL metric {name} was not reported")
    correct = bool(checks) and all(c["ok"] for c in checks)
    return {"correct": correct, "attempted": max(1, int(report["attempted"])),
            "failed": int(report["failed"]), "metrics": metrics}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a stopped run unwinds, so the finally blocks stop the JVM and sbt
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    end_to_end, per_layer = declared_metrics()
    classpath = build()
    if args.workload == "all":
        results = {w: run_workload(w, args, classpath, end_to_end, per_layer)
                   for w in WORKLOADS}
        print(json.dumps(results))
        sys.exit(0 if all(r["correct"] for r in results.values()) else 1)
    result = run_workload(args.workload, args, classpath, end_to_end, per_layer)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
