"""Per-layer measurement for the traced run, taken from outside the engine.

Two sources, neither of which changes an engine file:

* spans: timing wrappers installed over the engine's public functions
  (``catalog.load_table``, ``registry.shared_frame``) by rebinding the
  module attributes that hold them, and over the parity apps' map and
  reduce functions, whose time and output records inside the Python
  workers come back through accumulators;
* Spark's own event log (``spark.eventLog.enabled``), folded per job
  group.  Every step runs under the group ``<pass>/<step>/<phase>``
  (phase ``construct`` or ``action``), so jobs, stages and task
  metrics are attributed to a pass and a step.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from collections import defaultdict

LAYER_UNITS = {
    "session.import_s": "s",
    "session.start_s": "s",
    "session.cold_pass_s": "s",
    "catalog.load_table_calls": "count",
    "catalog.load_table_s": "s",
    "spark.plan_s": "s",
    "registry.memo_builds": "count",
    "registry.memo_hits": "count",
    "registry.memo_hit_ratio": "ratio",
    "registry.memo_build_s": "s",
    "operators.construct_s": "s",
    "operators.construct_jobs": "count",
    "operators.action_s": "s",
    "driver.gap_s": "s",
    "functions.python_s": "s",
    "functions.python_boot_s": "s",
    "functions.python_sent_mb": "MB",
    "functions.python_received_mb": "MB",
    "parity.run_job_s": "s",
    "parity.sink_write_s": "s",
    "parity.map_records": "count",
    "parity.udf_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_util": "ratio",
    "spark.scheduler_delay_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.broadcast_mb": "MB",
    "trace.overhead_s": "s",
}

_PY_METRICS = {
    "time to run Python workers": "python_ms",
    "time to start Python workers": "python_boot_ms",
    "data sent to Python workers": "python_sent_b",
    "data returned from Python workers": "python_received_b",
}


class Spans:
    """Running totals of the spans, read before and after each pass."""

    def __init__(self, spark):
        self._tot: dict[str, float] = defaultdict(float)
        self._patched: list[tuple[object, str, object]] = []
        self._build_depth = 0
        self.udf_acc = spark.sparkContext.accumulator(0.0)
        self.records_acc = spark.sparkContext.accumulator(0)

    def totals(self) -> dict[str, float]:
        return {
            **self._tot,
            "parity.udf_s": self.udf_acc.value,
            "parity.map_records": self.records_acc.value,
        }

    def _rebind(self, original, wrapper) -> None:
        """Point every engine module attribute holding ``original`` at
        ``wrapper`` (operator modules import the function by name)."""
        for name, mod in list(sys.modules.items()):
            if not name.startswith("go_map_reduce_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if val is original:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        if self._patched:
            return
        from go_map_reduce_spark import catalog, registry

        load_table, shared_frame = catalog.load_table, registry.shared_frame
        tot = self._tot

        def traced_load_table(*a, **k):
            t0 = time.perf_counter()
            try:
                return load_table(*a, **k)
            finally:
                tot["catalog.load_table_calls"] += 1
                tot["catalog.load_table_s"] += time.perf_counter() - t0

        def traced_shared_frame(spark_, key, builder, *a, **k):
            def traced_builder():
                # nested builds (a shared frame built from another) are
                # counted once each but timed only at the outermost one
                tot["registry.memo_builds"] += 1
                self._build_depth += 1
                t0 = time.perf_counter()
                try:
                    return builder()
                finally:
                    self._build_depth -= 1
                    if self._build_depth == 0:
                        tot["registry.memo_build_s"] += time.perf_counter() - t0

            tot["registry.calls"] += 1
            return shared_frame(spark_, key, traced_builder, *a, **k)

        self._rebind(load_table, traced_load_table)
        self._rebind(shared_frame, traced_shared_frame)

    def uninstall(self) -> None:
        while self._patched:
            mod, attr, val = self._patched.pop()
            setattr(mod, attr, val)

    def app_wrapper(self):
        """Wrap a parity map or reduce function so its time inside the
        Python worker is added to ``udf_acc`` and, for a map function,
        the pairs it emits to ``records_acc``."""
        secs, records = self.udf_acc, self.records_acc

        def wrap(fn, is_map: bool):
            def timed(*a):
                t0 = time.perf_counter()
                out = fn(*a)
                secs.add(time.perf_counter() - t0)
                if is_map:
                    records.add(len(out))
                return out

            return timed

        return wrap


def plan_seconds(df) -> float:
    """Analysis + optimization + planning time of an executed frame,
    from its ``QueryPlanningTracker``."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1000.0


def _plan_metrics(info: dict, out: dict) -> None:
    for m in info.get("metrics", []):
        out[m["accumulatorId"]] = (info.get("nodeName", ""), m["name"])
    for child in info.get("children", []):
        _plan_metrics(child, out)


def fold_event_log(paths: list[str]) -> dict[str, dict]:
    """Fold a Spark event log into per-job-group totals: jobs, stages,
    tasks, failed tasks, executor run/CPU/GC time, scheduler delay,
    shuffle and spill bytes, Python-worker metrics, broadcast bytes,
    and the job intervals (ms since the epoch)."""
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    intervals: dict[str, list] = defaultdict(list)
    accum_names: dict[int, tuple[str, str]] = {}
    driver_updates: list[tuple[int, int, int]] = []
    for line in _lines(paths):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g is None:
                continue
            jid = ev["Job ID"]
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"]
            groups[g]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group[sid] = g
            eid = props.get("spark.sql.execution.id")
            if eid is not None:
                exec_group.setdefault(int(eid), g)
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            if jid in job_group:
                intervals[job_group[jid]].append(
                    (job_start[jid], ev["Completion Time"])
                )
        elif kind == "SparkListenerStageSubmitted":
            g = stage_group.get(ev["Stage Info"]["Stage ID"])
            if g is not None:
                groups[g]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None:
                continue
            d = groups[g]
            info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            d["tasks"] += 1
            if ev["Task End Reason"]["Reason"] != "Success":
                d["failed_tasks"] += 1
            run = tm.get("Executor Run Time", 0)
            d["run_ms"] += run
            d["cpu_ns"] += tm.get("Executor CPU Time", 0)
            d["gc_ms"] += tm.get("JVM GC Time", 0)
            d["sched_delay_ms"] += max(
                0,
                info["Finish Time"]
                - info["Launch Time"]
                - run
                - tm.get("Executor Deserialize Time", 0)
                - tm.get("Result Serialization Time", 0),
            )
            sw = tm.get("Shuffle Write Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            d["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
            d["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            d["spill_b"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                "Disk Bytes Spilled", 0
            )
            for acc in info.get("Accumulables", []):
                key = _PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    d[key] += float(acc.get("Update") or 0)
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _plan_metrics(ev.get("sparkPlanInfo") or {}, accum_names)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for aid, val in ev.get("accumUpdates", []):
                driver_updates.append((ev["executionId"], aid, val))
    for eid, aid, val in driver_updates:
        g = exec_group.get(eid)
        node, name = accum_names.get(aid, ("", ""))
        if g is not None and node == "BroadcastExchange" and name == "data size":
            groups[g]["broadcast_b"] += val
    for g, ivs in intervals.items():
        groups[g]["intervals"] = ivs
    return groups


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            yield from f


def busy_ms(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Milliseconds of [lo, hi] covered by at least one interval."""
    total, cur_end = 0, lo
    for s, e in sorted(intervals):
        s, e = max(s, cur_end), min(e, hi)
        if e > s:
            total += e - s
            cur_end = e
    return total


def event_log_files(log_dir: str) -> list[str]:
    """The application's event log files in write order: one file, or
    the ``events_<n>_*`` parts of a rolling log directory."""
    (app,) = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    path = os.path.join(log_dir, app)
    if not os.path.isdir(path):
        return [path]
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def _pass_layers(p: dict, groups: dict[str, dict], cores: int) -> dict[str, float]:
    """Per-layer values of one traced pass."""
    g = {k: v for k, v in groups.items() if k.startswith(p["label"] + "/")}

    def tot(key: str, phase: str | None = None) -> float:
        return sum(
            v.get(key, 0.0)
            for k, v in g.items()
            if phase is None or k.endswith("/" + phase)
        )

    def phase_sum(key: str) -> float:
        return sum(s.phases.get(key, 0.0) for s in p["steps"])

    wall = sum(s.seconds for s in p["steps"])
    gap_ms = 0
    for s in p["steps"]:
        lo, hi = s.phases["window_ms"]
        jobs = [
            iv
            for k, v in g.items()
            if k.split("/")[1] == s.step
            for iv in v.get("intervals", [])
        ]
        gap_ms += (hi - lo) - busy_ms(jobs, lo, hi)
    spans = defaultdict(float, p["spans"])
    calls, builds = spans["registry.calls"], spans["registry.memo_builds"]
    cpu_s = tot("cpu_ns") / 1e9
    return {
        "catalog.load_table_calls": spans["catalog.load_table_calls"],
        "catalog.load_table_s": spans["catalog.load_table_s"],
        "spark.plan_s": phase_sum("plan_s"),
        "registry.memo_builds": builds,
        "registry.memo_hits": calls - builds,
        "registry.memo_hit_ratio": (calls - builds) / calls if calls else 0.0,
        "registry.memo_build_s": spans["registry.memo_build_s"],
        "operators.construct_s": phase_sum("construct_s"),
        "operators.construct_jobs": tot("jobs", "construct"),
        "operators.action_s": phase_sum("action_s"),
        "driver.gap_s": gap_ms / 1000.0,
        "functions.python_s": tot("python_ms") / 1000.0,
        "functions.python_boot_s": tot("python_boot_ms") / 1000.0,
        "functions.python_sent_mb": tot("python_sent_b") / 1e6,
        "functions.python_received_mb": tot("python_received_b") / 1e6,
        "parity.run_job_s": phase_sum("run_job_s"),
        "parity.sink_write_s": phase_sum("sink_write_s"),
        "parity.map_records": spans["parity.map_records"],
        "parity.udf_s": spans["parity.udf_s"],
        "spark.jobs": tot("jobs"),
        "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"),
        "spark.failed_tasks": tot("failed_tasks"),
        "spark.executor_run_s": tot("run_ms") / 1000.0,
        "spark.executor_cpu_s": cpu_s,
        "spark.cpu_util": cpu_s / (wall * cores) if wall else 0.0,
        "spark.scheduler_delay_s": tot("sched_delay_ms") / 1000.0,
        "spark.gc_s": tot("gc_ms") / 1000.0,
        "spark.shuffle_write_mb": tot("shuffle_write_b") / 1e6,
        "spark.shuffle_read_mb": tot("shuffle_read_b") / 1e6,
        "spark.spill_mb": tot("spill_b") / 1e6,
        "spark.broadcast_mb": tot("broadcast_b") / 1e6,
    }


def layer_metrics(
    passes: list[dict], setup: dict, event_dir: str, cores: int
) -> dict[str, tuple[float, str]]:
    """Every per-layer metric as (value, unit): medians over the passes
    run with spans; ``trace.overhead_s`` compares them with the rest."""
    groups = fold_event_log(event_log_files(event_dir))
    per_pass = [_pass_layers(p, groups, cores) for p in passes if p["traced"]]

    def pass_median(traced: bool) -> float:
        return statistics.median(
            sum(s.seconds for s in p["steps"]) for p in passes if p["traced"] == traced
        )

    values = {
        "session.import_s": setup["import_s"],
        "session.start_s": setup["start_s"],
        "session.cold_pass_s": setup["cold_pass_s"],
        "trace.overhead_s": pass_median(True) - pass_median(False),
    }
    for name in per_pass[0]:
        values[name] = statistics.median(m[name] for m in per_pass)
    return {name: (values[name], unit) for name, unit in LAYER_UNITS.items()}
