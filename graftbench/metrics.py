"""Metric arithmetic of the graft benchmark.

End-to-end metrics come from the harness's result file of an untraced
run; per-layer metrics come from the span, job and micro-batch records of
a traced run. Every per-layer count or time is a mean per timed pass, so
runs that fit a different number of passes into their seconds compare.
"""
import statistics

LAYERS = ["sources", "operators", "functions", "workflow", "streaming"]
LAYER_METRICS = [
    ("calls", "count"), ("wall_s", "s"), ("driver_s", "s"),
    ("jobs", "count"), ("stages", "count"), ("stages_skipped", "count"),
    ("tasks", "count"), ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_write_mib", "MiB"), ("shuffle_read_mib", "MiB"),
    ("result_mib", "MiB"), ("core_util", "ratio"),
]
EXTRA_METRICS = [
    ("sources.read_mib", "MiB"), ("sources.written_mib", "MiB"),
    ("streaming.batches", "count"), ("streaming.batch_p50_s", "s"),
    ("streaming.state_rows", "count"), ("streaming.input_rows_per_s", "1/s"),
    ("harness.self_s", "s"), ("trace.total_s", "s"), ("trace.span_coverage", "ratio"),
]
MIB = 1048576.0


def per_layer_names():
    """(name, unit) of every per-layer metric, in report order."""
    out = [(f"{layer}.{m}", u) for layer in LAYERS for m, u in LAYER_METRICS]
    return out + EXTRA_METRICS


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_time(span, children):
    """A span's wall time minus the part of it its child spans cover
    (nanosecond clock: spans come from one JVM)."""
    covered = union_length(clip([(c["start_ns"], c["end_ns"]) for c in children],
                                span["start_ns"], span["end_ns"])) / 1e9
    return max(span["wall_s"] - covered, 0.0)


def driver_time(span, jobs):
    """Span wall time minus the union of the intervals its jobs ran in."""
    covered = union_length(clip([(j["start_ms"], j["end_ms"]) for j in jobs],
                                span["start_ms"], span["end_ms"])) / 1000.0
    return max(span["wall_s"] - covered, 0.0)


def core_util(task_run_s, wall_s, cores):
    return task_run_s / (wall_s * cores) if wall_s > 0 else 0.0


def attribute_jobs(spans, jobs):
    """span id -> jobs it submitted. A job belongs to the innermost span
    whose tag it carries; an untagged job (a streaming query's thread may
    drop the tags) belongs to the innermost span open when it started."""
    by_tag = {s["tag"]: s for s in spans}
    depth = {}

    def depth_of(s):
        if s["id"] not in depth:
            parent = next((p for p in spans if p["id"] == s["parent"]), None)
            depth[s["id"]] = 0 if parent is None else depth_of(parent) + 1
        return depth[s["id"]]

    out = {s["id"]: [] for s in spans}
    for j in jobs:
        tagged = [by_tag[t] for t in j["tags"] if t in by_tag]
        if not tagged:
            tagged = [s for s in spans if s["start_ms"] <= j["start_ms"] <= s["end_ms"]]
        if tagged:
            out[max(tagged, key=depth_of)["id"]].append(j)
    return out


def end_to_end(res, launched_ms):
    """setup_s runs from the JVM's launch to the end of the warm-up pass;
    the others are medians over the run's timed passes."""
    passes = res["passes"]
    out = {"setup_s": (res["setup_end_ms"] - launched_ms) / 1000.0}
    for name, key in [("total_s", "wall_s"), ("cpu_s", "cpu_s"),
                      ("driver_cpu_s", "driver_cpu_s"), ("peak_heap_mib", "peak_heap_mib")]:
        out[name] = statistics.median(p[key] for p in passes)
    return out


def per_layer(trace):
    """Per-layer metrics of one traced run, each a mean per timed pass."""
    cores = trace["cores"]
    spans = trace["spans"]
    passes = [s for s in spans if s["layer"] == "harness"]
    n = max(len(passes), 1)
    owned = attribute_jobs(spans, trace["jobs"])
    m = {}
    for layer in LAYERS:
        ls = [s for s in spans if s["layer"] == layer]
        js = [j for s in ls for j in owned[s["id"]]]
        wall = sum(s["wall_s"] for s in ls)
        run_s = sum(j["run_ms"] for j in js) / 1000.0
        vals = {
            "calls": len(ls),
            "wall_s": wall,
            "driver_s": sum(driver_time(s, owned[s["id"]]) for s in ls),
            "jobs": len(js),
            "stages": sum(j["stages_run"] for j in js),
            "stages_skipped": sum(j["stages"] - j["stages_run"] for j in js),
            "tasks": sum(j["tasks"] for j in js),
            "task_run_s": run_s,
            "task_cpu_s": sum(j["cpu_ns"] for j in js) / 1e9,
            "gc_s": sum(j["gc_ms"] for j in js) / 1000.0,
            "shuffle_write_mib": sum(j["shuffle_write"] for j in js) / MIB,
            "shuffle_read_mib": sum(j["shuffle_read"] for j in js) / MIB,
            "result_mib": sum(j["result"] for j in js) / MIB,
        }
        for k, v in vals.items():
            m[f"{layer}.{k}"] = v / n
        m[f"{layer}.core_util"] = core_util(run_s, wall, cores)

    # storage I/O goes through the sources layer whichever call triggers it
    timed_jobs = [j for s in spans for j in owned[s["id"]]]
    m["sources.read_mib"] = sum(j["read"] for j in timed_jobs) / MIB / n
    m["sources.written_mib"] = sum(j["written"] for j in timed_jobs) / MIB / n

    t0 = min((p["start_ms"] for p in passes), default=0)
    batches = [b for b in trace["stream"] if b["end_ms"] >= t0]
    durations = [b["duration_ms"] / 1000.0 for b in batches]
    last_state = {}
    for b in batches:
        last_state[b["query"]] = b["state_rows"]
    m["streaming.batches"] = len(batches) / n
    m["streaming.batch_p50_s"] = statistics.median(durations) if durations else 0.0
    m["streaming.state_rows"] = sum(last_state.values()) / n
    m["streaming.input_rows_per_s"] = (
        sum(b["input_rows"] for b in batches) / sum(durations) if sum(durations) > 0 else 0.0)

    children = {p["id"]: [s for s in spans if s["parent"] == p["id"]] for p in passes}
    pass_wall = sum(p["wall_s"] for p in passes)
    m["harness.self_s"] = sum(self_time(p, children[p["id"]]) for p in passes) / n
    m["trace.total_s"] = statistics.median(p["wall_s"] for p in passes) if passes else 0.0
    top = sum(s["wall_s"] for p in passes for s in children[p["id"]])
    m["trace.span_coverage"] = top / pass_wall if pass_wall > 0 else 0.0
    return m
