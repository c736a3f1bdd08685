"""Pure functions that turn a run's raw record into metrics."""

import math
import statistics

# Percentiles tried, highest first, when choosing the tail to report.
PERCENTILE_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)


def median(values):
    return statistics.median(values) if values else None


def nearest_rank(values, p):
    """The p-th percentile by nearest rank: the smallest sample with at
    least p% of the samples at or below it."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100.0 * len(xs)) - 1)]


def tail_percentile(values, min_beyond=10):
    """(p, value) for the highest percentile of the ladder that has at
    least `min_beyond` samples beyond it, or None when even the lowest
    rung has fewer."""
    n = len(values)
    for p in PERCENTILE_LADDER:
        if n * (1 - p / 100.0) >= min_beyond - 1e-9:
            return p, nearest_rank(values, p)
    return None


def failed_frac(ops):
    """Failed operations over attempted ones."""
    if not ops:
        return None
    return sum(1 for o in ops if not o["ok"]) / len(ops)


def ok_walls(ops):
    """Timings of the operations that succeeded: a failed operation
    contributes no timing."""
    return [o["wall_s"] for o in ops if o["ok"]]


def self_times(spans):
    """Span id -> duration minus the part of it its child spans cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_s"], s["end_s"]
        covered, cursor = 0.0, lo
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start_s"]):
            a, b = max(c["start_s"], cursor), min(c["end_s"], hi)
            if b > a:
                covered += b - a
                cursor = b
        out[s["id"]] = (hi - lo) - covered
    return out


def layer_metrics(trace):
    """Every per-layer metric of a traced operation (0 where the layer
    does no work on the workload). A layer is a program module; its spans
    are named "<layer>" or "<layer>.<part>"."""
    spans = trace["spans"]
    cores = trace["cores"]
    selfs = self_times(spans)
    counters = {}
    for c in [s["counters"] for s in spans] + [trace.get("counters", {})]:
        for k, v in c.items():
            counters[k] = counters.get(k, 0.0) + v

    def named(*names):
        return [s for s in spans if s["name"] in names]

    def layer(name):
        return [s for s in spans if s["name"].split(".")[0] == name]

    def wall(ss):
        return sum(s["end_s"] - s["start_s"] for s in ss)

    def total(ss, key):
        return sum(s[key] for s in ss)

    m = {}

    def engine(name, keys):
        ss = layer(name)
        values = {
            "wall_s": wall(ss),
            "self_s": sum(selfs[s["id"]] for s in ss),
            "task_s": total(ss, "task_s"),
            "sched_s": wall(ss) - total(ss, "task_s") / cores,
            "jobs": total(ss, "jobs"),
            "planning_ms": total(ss, "planning_ms"),
            "shuffle_bytes": total(ss, "shuffle_bytes"),
            "spill_bytes": total(ss, "spill_bytes"),
        }
        for k in keys:
            m[f"{name}.{k}"] = values[k]

    def count(*names):
        for n in names:
            m[n] = counters.get(n, 0.0)

    m["sources.scan_s"] = wall(named("sources.scan"))
    count("sources.rows")
    m["sources.csv_write_s"] = wall(named("sources.csv_write"))
    count("sources.csv_bytes")
    engine("sources", ("self_s",))
    engine("shape", ("wall_s", "self_s", "task_s", "sched_s", "jobs", "planning_ms",
                     "shuffle_bytes", "spill_bytes"))
    engine("extents", ("wall_s", "self_s", "task_s", "jobs", "planning_ms"))
    engine("geometry", ("wall_s", "self_s", "task_s"))
    count("geometry.features")
    engine("tiling", ("wall_s", "self_s", "jobs"))
    engine("tilebuild", ("wall_s", "self_s", "task_s", "sched_s", "shuffle_bytes",
                         "spill_bytes"))
    count("tilebuild.tiles", "tilebuild.tile_bytes")
    engine("pbf_sink", ("wall_s", "self_s"))
    count("pbf_sink.files", "pbf_sink.bytes")
    engine("mbtiles", ("wall_s", "self_s"))
    count("mbtiles.bytes")
    m["incremental.fingerprint_s"] = wall(named("incremental.fingerprint"))
    m["incremental.fan_s"] = wall(named("incremental.fan"))
    m["incremental.wall_s"] = wall(named("incremental"))
    engine("incremental", ("self_s",))
    count("incremental.changed", "incremental.affected_tiles", "incremental.contributors")
    changed = m["incremental.changed"]
    rewritten = counters.get("incremental.rewritten", 0.0)
    m["incremental.contributors_per_changed"] = (
        m["incremental.contributors"] / changed if changed else 0.0)
    # rewritten tiles whose bytes changed, over tiles rewritten
    m["incremental.useful_rewrite_ratio"] = (
        counters.get("incremental.rewritten_changed", 0.0) / rewritten if rewritten else 0.0)

    # engine totals: every job lands in exactly one (innermost) span
    traced = trace["wall_s"]
    for k in ("jobs", "stages", "tasks", "task_s", "planning_ms", "shuffle_bytes",
              "spill_bytes"):
        m[f"spark.{k}"] = total(spans, k)
    m["spark.sched_s"] = traced - m["spark.task_s"] / cores
    m["spark.gc_s"] = total(spans, "gc_s")
    # the share of the traced operation its layer spans cover
    roots = [s for s in spans if s["parent"] == -1]
    m["trace.wall_s"] = traced
    m["trace.coverage"] = (wall(roots) - sum(selfs[r["id"]] for r in roots)) / traced
    m["trace.unattributed_jobs"] = trace["unattributed_jobs"]
    return m
