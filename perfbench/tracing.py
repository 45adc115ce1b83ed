"""Per-layer tracing for the traced run (``--trace 1``).

Spans are recorded from the benchmark's side, around each call into a
package module; nothing inside the package is instrumented. Each
request also runs under its own Spark job group, so the Spark
status tracker (jobs, stages, tasks, read right after the group ends) and
Spark's event log (job spans, executor CPU, GC, bytes; read after the
session stops) can be attributed to it. With tracing off every hook is a
shared no-op context, so the untraced run pays nothing.
"""

from __future__ import annotations

import glob
import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext

_OFF = nullcontext()


class Tracer:
    def __init__(self, on: bool):
        self.on = on
        self.sc = None
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.values: dict[str, float] = {}
        # (kind, group id, wall start s, wall end s, jobs, stages, tasks)
        self.groups: list[tuple] = []

    def span(self, name: str):
        """Time one call; durations accumulate per name (seconds)."""
        return self._span(name) if self.on else _OFF

    @contextmanager
    def _span(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name].append(time.perf_counter() - t0)

    def record(self, name: str, seconds: float) -> None:
        """Add a duration the caller measured itself."""
        if self.on:
            self.spans[name].append(seconds)

    def set(self, name: str, value: float) -> None:
        if self.on:
            self.values[name] = value

    def add(self, name: str, value: float = 1) -> None:
        if self.on:
            self.values[name] = self.values.get(name, 0) + value

    def group(self, kind: str):
        """Run the enclosed Spark jobs under a fresh job group."""
        return self._group(kind) if self.on else _OFF

    @contextmanager
    def _group(self, kind: str):
        gid = f"perfbench-{len(self.groups)}"
        self.sc.setJobGroup(gid, kind)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            st = self.sc.statusTracker()
            jobs = st.getJobIdsForGroup(gid)
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            tasks = 0
            for s in stages:
                info = st.getStageInfo(s)
                if info is not None:
                    tasks += info.numTasks
            self.groups.append((kind, gid, t0, t1, len(jobs), len(stages), tasks))

    def median_ms(self, name: str) -> float:
        xs = self.spans.get(name)
        return statistics.median(xs) * 1000 if xs else 0.0


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def spark_layer(tracer: Tracer, log_dir: str, kinds: set[str]) -> dict[str, float]:
    """Median per job group of the request ``kinds`` for the Spark layer:
    status-tracker counts plus event-log job spans, executor CPU, GC and
    bytes. ``driver_only_ms`` is the group's wall time minus the union of
    its job spans."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_tot: dict[int, list[float]] = defaultdict(lambda: [0.0, 0.0, 0.0, 0.0])
    for path in sorted(glob.glob(f"{log_dir}/**/*", recursive=True)):
        try:
            fh = open(path, encoding="utf-8")
        except (IsADirectoryError, PermissionError):
            continue
        with fh:
            for line in fh:
                ev = json.loads(line)
                name = ev.get("Event")
                if name == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": ev["Submission Time"],
                        "end": ev["Submission Time"],
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif name == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif name == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    t = stage_tot[ev["Stage ID"]]
                    t[0] += m.get("Executor CPU Time", 0) / 1e6
                    t[1] += m.get("JVM GC Time", 0)
                    t[2] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    t[3] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    per_group: dict[str, dict] = defaultdict(
        lambda: {"spans": [], "cpu": 0.0, "gc": 0.0, "in": 0.0, "shw": 0.0}
    )
    for jid, j in jobs.items():
        if j["group"]:
            per_group[j["group"]]["spans"].append((j["start"], j["end"]))
    for sid, t in stage_tot.items():
        g = jobs.get(stage_job.get(sid, -1), {}).get("group")
        if g:
            acc = per_group[g]
            acc["cpu"] += t[0]
            acc["gc"] += t[1]
            acc["in"] += t[2]
            acc["shw"] += t[3]
    rows = defaultdict(list)
    for kind, gid, t0, t1, n_jobs, n_stages, n_tasks in tracer.groups:
        if kind not in kinds:
            continue
        acc = per_group[gid]
        exec_ms = _union_ms(acc["spans"])
        rows["spark.jobs"].append(n_jobs)
        rows["spark.stages"].append(n_stages)
        rows["spark.tasks"].append(n_tasks)
        rows["spark.exec_ms"].append(exec_ms)
        rows["spark.driver_only_ms"].append(max(0.0, (t1 - t0) * 1000 - exec_ms))
        rows["spark.executor_cpu_ms"].append(acc["cpu"])
        rows["spark.gc_ms"].append(acc["gc"])
        rows["spark.input_bytes"].append(acc["in"])
        rows["spark.shuffle_write_bytes"].append(acc["shw"])
    return {k: float(statistics.median(v)) for k, v in rows.items()}
