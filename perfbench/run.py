#!/usr/bin/env python3
"""The repository's benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload review_job --seed 1 --seconds 40 --trace 0

Run from the repository root. It builds the engine and the harness from
source (sbt, cached by a hash of the sources), generates the workload's
inputs from the seed (cached per seed, never timed), runs the harness in
one JVM with a `local[nproc]` session and one closed-loop client for the
workload's fixed number of operations (`--seconds` caps their summed
time: a run that reaches the cap first fails without a result), checks
the outputs against the engine catalog's DuckDB oracle SQL, and prints
every metric by name with its unit and sample count. The last line of
standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; `--trace 1` runs
the traced variant and reports the per-layer metrics instead.
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

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("review_job", "corpus_dedup", "vector_search")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
# Every how many operations the outputs are checked against the oracles
# (0: only the operations the workload marks, e.g. the pinned query),
# and how many operations a run measures: a fixed count, so that every
# commit runs the same operation sequence whatever its speed (`--seconds`
# only caps the run), untraced and traced. A traced run runs each
# operation twice, plain and traced, so it measures fewer; vector_search
# still reaches the append after its compaction, so that the delta it
# ends with is not empty.
CHECK_EVERY = {"review_job": 1, "corpus_dedup": 4, "vector_search": 0}
OPS = {"review_job": (1, 1), "corpus_dedup": (6, 2), "vector_search": (12, 8)}
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A fixed heap and young generation keep the peak resident set a measure
# of what the run holds, not of when the collector chose to grow the heap.
HEAP = ["-Xms3g", "-Xmx3g", "-Xmn768m"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def sbt_env():
    env = dict(os.environ)
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    env.setdefault("COURSIER_MODE", "offline")
    return env


def build():
    """Compiles engine + harness (once per source hash) and dumps the
    oracle SQL the checks use. Returns (classpath, oracles)."""
    out = os.path.join(BUILD_DIR, "build-" + source_hash())
    cp_file, oracle_file = os.path.join(out, "classpath.txt"), os.path.join(out, "oracles.json")
    if not (os.path.exists(cp_file) and os.path.exists(oracle_file)):
        log("building engine and harness with sbt")
        os.makedirs(out, exist_ok=True)
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=sbt_env(), capture_output=True, text=True,
                           timeout=840)
        lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
        if p.returncode != 0 or not lines or lines[-1].startswith("["):
            sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
            raise SystemExit("build failed")
        cp = lines[-1].strip()
        java(cp, ["perfbench.OracleDump", oracle_file + ".tmp"], timeout=300,
             logfile=os.path.join(out, "oracle-dump.log"), work=out)
        os.rename(oracle_file + ".tmp", oracle_file)
        with open(cp_file, "w") as f:
            f.write(cp)
        for d in os.listdir(BUILD_DIR):  # older builds
            if d.startswith("build-") and os.path.join(BUILD_DIR, d) != out:
                shutil.rmtree(os.path.join(BUILD_DIR, d), ignore_errors=True)
    with open(cp_file) as f, open(oracle_file) as g:
        return f.read().strip(), json.load(g)


def java(cp, args, timeout, logfile, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for o in JVM_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")]
           + ["--add-modules=jdk.incubator.vector"] + HEAP + [
              "-XX:ReservedCodeCacheSize=512m",
              f"-Djava.io.tmpdir={tmp}",
              f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", cp] + args)
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"JVM timed out after {timeout}s (log: {logfile})")
        finally:  # also on SIGTERM or Ctrl-C: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(logfile) as lf:
            sys.stderr.write(lf.read()[-6000:])
        raise SystemExit(f"JVM exited with {rc}")


def git_commit():
    """HEAD of the checkout, or "unknown" outside a git work tree (never
    the commit of some enclosing repository)."""
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def save_record(doc, keep=50):
    """Keeps the run record, with the traced run's spans, jobs and tasks,
    under .bench_build/records (the newest `keep` runs)."""
    d = os.path.join(BUILD_DIR, "records")
    os.makedirs(d, exist_ok=True)
    r = doc["record"]
    name = f"{r['workload']}-{r['seed']}-trace{r['trace']}-{int(time.time() * 1000)}.json"
    with open(os.path.join(d, name), "w") as f:
        json.dump(doc, f)
    for old in sorted(os.listdir(d), key=lambda n: os.path.getmtime(os.path.join(d, n)))[:-keep]:
        os.remove(os.path.join(d, old))


def main():
    # SIGTERM unwinds like Ctrl-C, so the child JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "Pipeline.scala")):
        raise SystemExit("engine sources not found next to perfbench/: "
                         "run from a full checkout of the repository")
    cp, oracles = build()
    t = time.time()
    inputs = gen.generate(args.workload, args.seed, os.path.join(BUILD_DIR, "inputs"))
    log(f"inputs ready in {time.time() - t:.1f}s: {inputs}")
    with open(os.path.join(inputs, "inputs.json")) as f:
        input_info = json.load(f)

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(BUILD_DIR, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "run.json")
    t = time.time()
    try:
        java(cp, ["perfbench.Main", "--workload", args.workload, "--inputs", inputs,
                  "--work", work, "--out", out, "--seconds", str(args.seconds),
                  "--trace", str(args.trace), "--cpus", str(cpus),
                  "--check-every", str(CHECK_EVERY[args.workload]),
                  "--ops", str(OPS[args.workload][args.trace])],
             timeout=max(150, int(args.seconds) + 110),
             logfile=os.path.join(work, "jvm.log"), work=work)
        with open(out) as f:
            run = json.load(f)
        log(f"harness done in {time.time() - t:.1f}s")
        t = time.time()
        verdicts = checks.check_run(args.workload, run, inputs, oracles)
        log(f"{len(verdicts)} checks done in {time.time() - t:.1f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result, report = metrics.summarize(args.workload, run, verdicts, args.trace == 1)
    record = {
        "workload": args.workload, "seed": args.seed, "nproc": cpus,
        "seconds": args.seconds, "trace": args.trace, "loop": "closed", "clients": 1,
        "inputs": input_info, "spark_version": run["spark_version"],
        "java_version": run["java_version"], "git_commit": git_commit(),
        "error_rate": report["error_rate"], "errors": report["errors"],
        "samples": report["samples"], "isolation": report["isolation"],
        "setup": run["setup"],
    }
    for name, m in sorted({**result["metrics"], **report["reported"]}.items()):
        n = report["samples"].get(name)
        # a timing with no successful operation behind it has no value
        value = "n/a" if m["value"] is None else f"{m['value']:.6g}"
        print(f"{name:40s} {value:>16s} {m['unit']:<8s}"
              + (f" n={n}" if n is not None else ""))
    print("error_rate".ljust(40), f"{report['error_rate']:>16.6g}", "ratio",
          f"n={result['attempted']}")
    save_record({"record": record, "result": result, "reported": report["reported"],
                 "checks": verdicts, "ops": run["ops"], "trace_data": run["trace_data"]})
    print("run record: " + json.dumps(record, sort_keys=True))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
