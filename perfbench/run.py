#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the library and the harness with
sbt (once per source change), builds the seeded inputs with DuckDB (once per
seed), runs the JVM harness (`graft.perfbench.Main`), checks every query's
output, and prints as its last stdout line

    {"correct": .., "attempted": .., "failed": .., "metrics": {name: {value, unit}}}

with the end-to-end metrics for ``--trace 0`` and the per-layer metrics for
``--trace 1``. Everything it writes goes under perfbench/.work. See
perfbench/README.md for the workloads, metrics and bounds.
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import check  # noqa: E402
import fixtures  # noqa: E402
import metrics  # noqa: E402

BASE = os.path.join(HERE, "data", "sf0.1")
LIB = os.path.join(ROOT, "src", "main")
KEEP_FIXTURES = 3
# Nominal length of one timed pass of either workload on the 4-core reference
# host: --seconds buys round(seconds / PASS_S) timed passes. The count does not
# depend on how fast the host runs, so every run's medians are over the same
# passes.
PASS_S = 10
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(1)


_children = []


def _stop(signum, frame):
    for p in _children:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    sys.exit(128 + signum)


def run_group(cmd, timeout, **kw):
    """Run ``cmd`` in its own process group and wait for it; kill the whole
    group if it outlives ``timeout`` or this process is told to stop."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.append(p)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded {timeout:.0f} s")
    finally:
        _children.remove(p)


def source_digest():
    h = hashlib.sha1()
    files = sorted(glob.glob(os.path.join(LIB, "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "main", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; returns the classpath."""
    if not os.path.isfile(os.path.join(LIB, "scala", "graft", "SparkEntry.scala")):
        fail(f"library sources not found under {os.path.relpath(LIB, ROOT)}")
    if not os.path.isdir(BASE):
        fail(f"base tables not found under {os.path.relpath(BASE, ROOT)}")
    stamp = os.path.join(WORK, "build.stamp")
    cpfile = os.path.join(WORK, "classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp) and os.path.exists(cpfile):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cpfile) as g:
                    return g.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    logf = os.path.join(WORK, "build.log")
    t0 = time.time()
    with open(logf, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         timeout=840, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(logf) as f:
        lines = f.read().splitlines()
    cps = [ln for ln in lines if os.path.join("target", "scala-2.13", "classes") in ln
           and not ln.startswith("[")]
    if code != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {code}); log in {os.path.relpath(logf, ROOT)}")
    log(f"built in {time.time() - t0:.0f} s")
    with open(cpfile, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return cps[-1]


def prune_fixtures(root, keep):
    """Drop all but the ``keep`` most recently used fixtures (and their
    oracle caches)."""
    dirs = sorted((d for d in glob.glob(os.path.join(root, "*_seed*"))
                   if not d.endswith(".partial")), key=os.path.getmtime)
    for d in dirs[:-keep]:
        shutil.rmtree(d, ignore_errors=True)
        shutil.rmtree(os.path.join(WORK, "oracle", os.path.basename(d)), ignore_errors=True)


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    started = time.time()
    load_start = os.getloadavg()[0]
    nproc = os.cpu_count()
    if load_start > nproc:
        log(f"warning: load average {load_start:.2f} above nproc {nproc} at start")

    with open(os.path.join(HERE, "workloads.json")) as f:
        conf = json.load(f)
    if args.workload not in conf["workloads"]:
        fail(f"unknown workload {args.workload}; have {sorted(conf['workloads'])}")
    wl = conf["workloads"][args.workload]
    modules = conf["modules"]
    queries = wl["queries"]
    no_oracle = [q for q in queries if q in conf["no_oracle"]]

    os.makedirs(WORK, exist_ok=True)
    t0 = time.time()
    classpath = build()
    build_s = time.time() - t0

    fixture_root = os.path.join(WORK, "fixtures")
    t0 = time.time()
    fixture, sizes = fixtures.build(BASE, fixture_root, args.seed, **wl["inputs"])
    os.utime(fixture)
    prune_fixtures(fixture_root, KEEP_FIXTURES)
    log(f"inputs {os.path.relpath(fixture, ROOT)} ready in {time.time() - t0:.1f} s")

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    report_path = os.path.join(run_dir, "report.json")
    spans_path = os.path.join(WORK, f"spans_{args.workload}_seed{args.seed}.json")
    passes = max(1, round(args.seconds / PASS_S))
    cmd = [java_bin(), "-Xms3g", "-Xmx3g"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "graft.perfbench.Main",
            "--data", fixture, "--queries", ",".join(queries),
            "--fingerprint", ",".join(no_oracle), "--passes", str(passes),
            "--trace", str(args.trace), "--out", report_path,
            "--check-dir", os.path.join(run_dir, "check"), "--spans", spans_path]
    # a run stays within 180 s; a first run may take longer only to build
    budget = 175 - (time.time() - started - build_s)
    with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
        code = run_group(cmd, timeout=max(budget, 10), cwd=run_dir,
                         stdout=jlog, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if code != 0 or not os.path.exists(report_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"harness exited with {code}")
    kept = os.path.join(WORK, "reports", f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    os.makedirs(os.path.dirname(kept), exist_ok=True)
    shutil.copyfile(report_path, kept)
    with open(report_path) as f:
        report = json.load(f)

    # Output check: oracle queries against DuckDB; the others must return
    # rows and the same fingerprint on every pass.
    con = check.oracle_connection(fixture)
    oracle_cache = os.path.join(WORK, "oracle", os.path.basename(fixture))
    failed, returned = check.verify(report, queries, no_oracle, con, oracle_cache,
                                    os.path.join(run_dir, "check"))
    for q, where, why in failed:
        log(f"FAILED {q} ({where}): {why[:300]}")
    attempted = len(report["warm"]) + len(report["execs"])

    input_rows = sum(sizes[t]["rows"] for q in queries for t in conf["tables"][q])
    notes = {}
    if args.trace:
        values = metrics.per_layer(report, modules, returned)
        log(f"spans in {os.path.relpath(spans_path, ROOT)}")
    else:
        values, notes = metrics.end_to_end(report, input_rows)
    load_end = os.getloadavg()[0]
    summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
               "load_start": load_start, "load_end": load_end, "nproc": nproc,
               "loaded": load_start > nproc, "input_rows_per_pass": input_rows,
               "elapsed_s": time.time() - started, "failed": len(failed),
               "pass_walls_s": [sum(e["wall_s"] for e in p)
                                for p in metrics.by_pass(report["execs"])],
               "pass_steal": report["pass_steal"],
               **notes, "metrics": {k: v for k, (v, _) in values.items()}}
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(summary) + "\n")
    log(f"load {load_start:.2f} -> {load_end:.2f} (nproc {nproc}), "
        f"pass steal {', '.join(f'{x:.1%}' for x in report['pass_steal'])}; "
        f"{len(report['pass_steal'])} timed passes; "
        f"{summary['elapsed_s']:.0f} s"
        + (f"; tail is p{notes['query_tail_percentile']:.1f} of {notes['query_tail_samples']}"
           if notes else ""))
    result = {"correct": not failed, "attempted": attempted, "failed": len(failed),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in values.items()}}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
