#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload region_build --seed 1 --seconds 1 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark's Scala harness from source (sbt, into perfbench/target); later runs
reuse the build while the sources are unchanged. Inputs are generated
from the seed and cached under .bench_build/cache; a run's outputs go to
.bench_build/work and are removed when it ends. See perfbench/README.md
for the workloads and metrics.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones of a
separate traced operation.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import gen
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SOURCES = os.path.join(ROOT, "src", "main", "scala")

# Region size in GEOIDs. region_build: values drawn from the seed.
# region_delta: a fixed corpus (snapshot A) and tonight's snapshot B, whose
# changed GEOIDs the seed chooses.
CELLS = {"region_build": 100, "region_delta": 100}
HEAP = "2g"
RUN_LIMIT_S = 170  # a run's time limit, less a margin, past any build
BUILD_LIMIT_S = 840

# Spark on JDK 17 outside spark-submit needs these (as in the program's
# own build.sbt).
JVM_OPENS = [
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


def source_digest():
    """Digest of everything the build compiles."""
    h = hashlib.sha256()
    for base in (PROGRAM_SOURCES, os.path.join(HERE, "src"),
                 os.path.join(HERE, "build.sbt"),
                 os.path.join(HERE, "project", "build.properties")):
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def ensure_built():
    """Classpath of the built program + harness; builds when the sources
    changed since the last build."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built["digest"] == digest:
            return built["classpath"]
    log("building the program and the benchmark harness (sbt)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=BUILD_LIMIT_S)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    classpath = lines[-1].strip()
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except OSError:
        return None


def run_jvm(classpath, args, deadline):
    """Run the harness in a fresh JVM; its raw record, or None when it
    failed or ran past the deadline (then it is stopped)."""
    work = os.path.join(BUILD, "work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "record.json")
    cores = min(4, len(os.sched_getaffinity(0)))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main"]
           + args + ["--cores", str(cores), "--work", work, "--out", out])
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True)
    try:
        _, err = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        proc.kill()
        _, err = proc.communicate()
        log("the harness ran past the run's time limit and was stopped")
    lines = err.splitlines()
    try:
        if proc.returncode != 0 or not os.path.exists(out):
            sys.stderr.write("\n".join(l for l in lines if " INFO " not in l)[-6000:] + "\n")
            return None
        sys.stderr.write("".join(l + "\n" for l in lines if l.startswith("[perfbench]")))
        with open(out) as f:
            return json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def prepare_base(classpath, info, deadline):
    """The region_delta base tree (full build of snapshot A and its
    fingerprint artifact), built once per program source digest and size.
    Returns (dir, seconds spent building it here)."""
    base = os.path.join(BUILD, "cache",
                        f"base-n{info['cells']}-{source_digest()[:16]}")
    marker = os.path.join(base, "_COMPLETE")
    if os.path.exists(marker):
        return base, 0.0
    t0 = time.monotonic()
    shutil.rmtree(base, ignore_errors=True)
    rec = run_jvm(classpath, ["--workload", "base", "--long-a", info["long_a"],
                              "--geo", info["geo"], "--base", base], deadline)
    if rec is None:
        raise SystemExit("perfbench: building the region_delta base tree failed")
    open(marker, "w").close()
    return base, time.monotonic() - t0


def untraced_walls(workload, digest, add=()):
    """Walls of the untraced operations recorded by earlier runs of this
    program in this checkout (the baseline of the tracing overhead); `add`
    appends this run's."""
    path = os.path.join(BUILD, "cache", "untraced-walls.json")
    walls = {}
    if os.path.exists(path):
        with open(path) as f:
            walls = json.load(f)
    key = f"{workload}-{digest[:16]}"
    if add:
        walls[key] = walls.get(key, []) + list(add)
        with open(path, "w") as f:
            json.dump(walls, f)
    return walls.get(key, [])


def end_to_end(rec):
    ops = rec["ops"]
    walls = stats.ok_walls(ops)
    ok = [o for o in ops if o["ok"]]
    return {
        "wall_s": (stats.median(walls), "s"),
        "setup_s": (rec["setup_s"], "s"),
        "peak_rss_mb": (rec["peak_rss_mb"], "MB"),
        "out_bytes": (stats.median([o["out_bytes"] for o in ok]), "bytes"),
        "tiles_rewritten": (stats.median([o["tiles_rewritten"] for o in ok]), "count"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(CELLS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(PROGRAM_SOURCES):
        raise SystemExit("perfbench: run from the root of a checkout "
                         "(no src/main/scala here)")
    classpath = ensure_built()
    deadline = time.monotonic() + RUN_LIMIT_S
    cache = os.path.join(BUILD, "cache")
    t_gen = time.monotonic()
    if a.workload == "region_build":
        info = gen.inputs(cache, a.seed, CELLS[a.workload])
    else:
        info = gen.inputs(cache, 0, CELLS[a.workload], change_seed=a.seed)
    gen_s = time.monotonic() - t_gen
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--long-a", info["long_a"], "--geo", info["geo"]]
    base_s = 0.0
    if a.workload == "region_delta":
        base, base_s = prepare_base(classpath, info, deadline)
        args += ["--long-b", info["long_b"], "--base", base]
    rec = run_jvm(classpath, args, deadline)
    if rec is None:
        raise SystemExit("perfbench: the run failed")
    rec["setup_s"] += gen_s + base_s

    ops = rec["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    checks = rec["checks"]
    correct = bool(checks) and all(checks.values()) and failed == 0
    ctx = dict(rec["context"], git_sha=git_sha(),
               src_digest=source_digest()[:16], nproc=os.cpu_count(),
               gen_s=gen_s, base_s=base_s, inputs={
                   "cells": info["cells"], "long_rows": info["cells"] * len(gen.YEARS),
                   "changed": len(info["changed"]),
                   "long_csv_bytes": os.path.getsize(info["long_a"]),
                   "geo_bytes": os.path.getsize(info["geo"])})
    print(json.dumps({"context": ctx}))
    print(json.dumps({"checks": checks}))
    walls = stats.ok_walls(ops)
    tail = stats.tail_percentile(walls)
    print(json.dumps({"operations": {
        "attempted": len(ops), "failed": failed,
        "failed_frac": stats.failed_frac(ops),
        "wall_s_samples": walls, "wall_s_median": stats.median(walls),
        "wall_s_tail": None if tail is None else {"p": tail[0], "value": tail[1]},
        "errors": [o["error"] for o in ops if not o["ok"]]}}))

    if a.trace:
        tr = rec["trace"]
        metrics = {k: (v, unit_of(k)) for k, v in stats.layer_metrics(tr).items()}
        baseline = untraced_walls(a.workload, source_digest())
        print(json.dumps({"tracing_overhead": {
            "traced_wall_s": tr["wall_s"],
            "untraced_median_wall_s": stats.median(baseline),
            "untraced_samples": len(baseline),
            "overhead_s": tr["wall_s"] - stats.median(baseline) if baseline else None}}))
        spans = {s["id"]: s for s in tr["spans"]}
        selfs = stats.self_times(tr["spans"])
        print(json.dumps({"spans": [
            {"name": s["name"], "parent": spans[s["parent"]]["name"] if s["parent"] >= 0 else None,
             "wall_s": s["end_s"] - s["start_s"], "self_s": selfs[s["id"]],
             "jobs": s["jobs"], "task_s": s["task_s"], "planning_ms": s["planning_ms"]}
            for s in tr["spans"]]}))
    else:
        metrics = end_to_end(rec)
        untraced_walls(a.workload, source_digest(), add=walls)
    for k, (v, u) in metrics.items():
        print(f"{k:42s} {v if v is None else format(v, '.6g'):>16} {u}")
    print(json.dumps({
        "correct": correct, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


UNITS = (("_bytes", "bytes"), ("_s", "s"), ("_ms", "ms"), (".bytes", "bytes"),
         ("coverage", "ratio"), ("ratio", "ratio"), ("per_changed", "ratio"))


def unit_of(name):
    for suffix, unit in UNITS:
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    main()
