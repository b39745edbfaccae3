"""End-to-end and per-layer metrics from one run's recorded operations.

`result` is the JSON `BenchMain` writes: the timed operations (`ops`),
the set-up rounds, the JVM's peak RSS and, in a traced run, the raw
Spark events (`trace`). Event times are wall-clock milliseconds; an
event belongs to the operation whose interval contains it.
"""
import bisect
import statistics

from stats import median, self_times, tail

END_TO_END_UNITS = {"setup_s": "s", "light_p50_s": "s", "heavy_p50_s": "s",
                    "throughput_per_s": "1/s", "peak_rss_mb": "MB"}

PER_LAYER_UNITS = {
    "pipeline.extract_s": "s", "pipeline.extract_tail_s": "s", "pipeline.load_s": "s",
    "pipeline.staging_s": "s", "pipeline.transform_s": "s",
    "lake.files_written": "count", "lake.bytes_written": "bytes", "lake.files_listed": "count",
    "warehouse.table_write_p50_s": "s", "storage.bytes_per_input_byte": "ratio",
    "catalyst.analysis_s": "s", "catalyst.optimization_s": "s", "catalyst.planning_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count", "queries.exec_s": "s",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.empty_task_share": "ratio", "scheduler.task_failures": "count",
    "driver.no_task_s": "s", "executor.busy_wall_s": "s", "catalyst.self_s": "s",
    "scheduler.self_s": "s", "driver.self_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.busy_share": "ratio", "shuffle.read_bytes": "bytes", "shuffle.write_bytes": "bytes",
    "spill.memory_bytes": "bytes", "spill.disk_bytes": "bytes", "cache.entries_left": "count",
    "ops.failed_share": "ratio", "trace.unaccounted_share": "ratio",
}

# The outermost query execution of one `saveAsTable` (the session
# catalog's, or a v2 catalog's); the commands it runs report on their own.
TABLE_WRITES = {"SaveAsV1TableCommand", "CreateTableAsSelect", "ReplaceTableAsSelect"}


def end_to_end(result, spawn_s, throughput_of):
    """The metrics a user sees; `throughput_of(op)` is the units one
    completed operation delivers (responses, or 1 query)."""
    ok = [o for o in result["ops"] if o["ok"]]
    light = [o["wall_s"] for o in ok if o["cls"] == "light"]
    heavy = [o["wall_s"] for o in ok if o["cls"] == "heavy"]
    timed = sum(o["wall_s"] for o in result["ops"])
    return {
        "setup_s": (result["entered_ms"] / 1000 - spawn_s) + statistics.median(result["setup_s"]),
        "light_p50_s": median(light),
        "heavy_p50_s": median(heavy),
        "throughput_per_s": sum(throughput_of(o) for o in ok) / timed,
        "peak_rss_mb": result["vm_hwm_kb"] / 1024,
    }


def _spans(op, name):
    return [(s["start_ms"], s["end_ms"]) for s in op["spans"] if s["name"] == name]


def _span_s(ops, name):
    return sum(s["wall_s"] for o in ops for s in o["spans"] if s["name"] == name)


class _Timeline:
    """Sorted event times for counting the events inside an interval."""

    def __init__(self, times):
        self.times = sorted(times)

    def count(self, lo, hi):
        return bisect.bisect_right(self.times, hi) - bisect.bisect_left(self.times, lo)


def _in(t, windows):
    return any(lo <= t <= hi for lo, hi in windows)


def per_layer(result, cores, storage):
    """Per-layer metrics of a traced run; `storage` holds the byte and
    file counts measured on disk after the run."""
    ops = result["ops"]
    trace = result["trace"]
    cols = {c: i for i, c in enumerate(trace["task_columns"])}
    tasks = sorted(trace["tasks"], key=lambda t: t[cols["launch_ms"]])
    launches = [t[cols["launch_ms"]] for t in tasks]
    jobs = _Timeline(j[1] for j in trace["jobs"])
    stage_done = _Timeline(s[1] for s in trace["stages"])

    # The last report of each planning tracker, by its first phase start.
    trackers = {}
    for q in trace["query_execs"]:
        trackers[q["tracker"]] = q
    qes = [q for q in trackers.values() if q["phases"]]
    for q in qes:
        q["start_ms"] = min(p[0] for p in q["phases"].values())
    sql = [(s[1], s[2]) for s in trace["sql_execs"]]

    m = dict.fromkeys([
        "catalyst.analysis_s", "catalyst.optimization_s", "catalyst.planning_s",
        "queries.build_jobs", "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
        "scheduler.task_failures", "driver.no_task_s", "executor.busy_wall_s",
        "catalyst.self_s", "scheduler.self_s", "driver.self_s", "executor.run_s",
        "executor.cpu_s", "executor.gc_s", "shuffle.read_bytes", "shuffle.write_bytes",
        "spill.memory_bytes", "spill.disk_bytes"], 0.0)
    empty = 0
    writes = []
    unaccounted = 0.0
    for op in ops:
        lo, hi = op["start_ms"], op["end_ms"]
        # tasks overlapping the operation (none starts before the first op)
        mine = [t for t in tasks[:bisect.bisect_right(launches, hi)]
                if t[cols["finish_ms"]] >= lo]
        busy = [(t[cols["launch_ms"]], t[cols["finish_ms"]]) for t in mine]
        phases = []
        for q in qes:
            if lo <= q["start_ms"] <= hi:
                for name in ("analysis", "optimization", "planning"):
                    if name in q["phases"]:
                        a, b = q["phases"][name]
                        m[f"catalyst.{name}_s"] += (b - a) / 1000
                        phases.append((a, b))
                if q["plan"] in TABLE_WRITES and _in(q["start_ms"], _spans(op, "load")):
                    writes.append(q["duration_s"])
        parts = self_times((lo, hi), [("executor", busy), ("catalyst", phases),
                                      ("scheduler", sql)])
        m["executor.busy_wall_s"] += parts["executor"] / 1000
        m["catalyst.self_s"] += parts["catalyst"] / 1000
        m["scheduler.self_s"] += parts["scheduler"] / 1000
        m["driver.self_s"] += parts["self"] / 1000
        m["driver.no_task_s"] += (hi - lo - parts["executor"]) / 1000
        # The parts come from millisecond clocks, the wall time from
        # System.nanoTime; they must agree.
        if op["wall_s"] > 0.05:
            accounted = sum(parts.values()) / 1000
            unaccounted = max(unaccounted, abs(op["wall_s"] - accounted) / op["wall_s"])
        m["queries.build_jobs"] += sum(jobs.count(a, b) for a, b in _spans(op, "build"))
        m["scheduler.jobs"] += jobs.count(lo, hi)
        m["scheduler.stages"] += stage_done.count(lo, hi)
        for t in mine:
            if not lo <= t[cols["finish_ms"]] <= hi:
                continue
            m["scheduler.tasks"] += 1
            m["scheduler.task_failures"] += t[cols["failed"]]
            empty += t[cols["empty"]]
            m["executor.run_s"] += t[cols["run_ms"]] / 1000
            m["executor.cpu_s"] += t[cols["cpu_ns"]] / 1e9
            m["executor.gc_s"] += t[cols["gc_ms"]] / 1000
            m["shuffle.read_bytes"] += t[cols["shuffle_read_bytes"]]
            m["shuffle.write_bytes"] += t[cols["shuffle_write_bytes"]]
            m["spill.memory_bytes"] += t[cols["spill_memory_bytes"]]
            m["spill.disk_bytes"] += t[cols["spill_disk_bytes"]]

    wall = sum(o["wall_s"] for o in ops)
    extracts = [o["wall_s"] for o in ops if o["name"] == "extract" and o["ok"]]
    m.update({
        "pipeline.extract_s": sum(extracts),
        "pipeline.extract_tail_s": tail(extracts) or 0.0,
        "pipeline.load_s": _span_s(ops, "load"),
        "pipeline.staging_s": _span_s(ops, "staging"),
        "pipeline.transform_s": _span_s(ops, "transform"),
        "lake.files_written": storage["lake_files"],
        "lake.bytes_written": storage["lake_bytes"],
        "lake.files_listed": sum(o["files_listed"] for o in ops),
        "warehouse.table_write_p50_s": median(writes) or 0.0,
        "storage.bytes_per_input_byte": storage["bytes_per_input_byte"],
        "queries.build_s": _span_s(ops, "build"),
        "queries.exec_s": _span_s(ops, "exec"),
        "scheduler.empty_task_share": empty / m["scheduler.tasks"] if m["scheduler.tasks"] else 0.0,
        "executor.busy_share": m["executor.run_s"] / (cores * wall) if wall else 0.0,
        "cache.entries_left": sum(o.get("cache_entries_left", 0) for o in ops),
        "ops.failed_share": sum(not o["ok"] for o in ops) / len(ops),
        "trace.unaccounted_share": unaccounted,
    })
    return m
