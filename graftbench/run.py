"""Benchmark entry point: one workload per invocation.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Generates the workload's seeded inputs, starts the engine on
``local[nproc]`` and runs a closed loop with one client: passes over the
workload's step list, one step at a time, while a typical pass still
ends within ``--seconds`` (at least ``MIN_PASSES`` passes).  Every output
is then checked against its oracle.  The last stdout line is the result
object ``{"correct", "attempted", "failed", "metrics"}``; the line before it is
a ``{"detail": ...}`` record with per-step latencies, the pinned
environment, CPU steal and the input digest.

``--trace 1`` runs the same loop with spans and Spark's event log on and
reports the per-layer metrics instead (see README.md).  ``--corrupt``
drops one row (or sink line) of the first step's output before it is
checked; the run must then report it as failed.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

import gen  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS, Runner  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_PASSES = 3
DRIVER_MEM = "2g"  # pinned: the engine's 48g default lets heap and RSS wander


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # guest time is already counted in user/nice
    return vals[7], sum(vals[:8])


def tree_pss_mb() -> float:
    """Proportional set size of this process and all its descendants:
    the driver, the JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(d))
    total_kb, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        stack.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def pin_environment(work: str, trace: bool) -> dict:
    """Point every writable location at ``work`` and pin the engine's
    cores and heap; returns the settings for the detail record."""
    tmp, local, conf = (os.path.join(work, d) for d in ("tmp", "local", "conf"))
    for d in (tmp, local, conf):
        os.makedirs(d)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    defaults = {
        # the heap is committed and touched whole at start: RSS does not
        # follow the collector's timing-dependent heap sizing, and heap
        # pressure shows as GC time instead
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch {java_opts}"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        defaults.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": "file:" + os.path.join(work, "events"),
            }
        )
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in defaults.items())
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_CONF_DIR": conf,
        "SPARK_LAUNCHER_OPTS": java_opts,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    }
    os.environ.update(env)
    tempfile.tempdir = tmp
    return {"env": env, "spark_defaults": defaults}


def host_probe_s() -> float:
    """Seconds for a fixed single-threaded Python loop: a reading of the
    host's speed at the time of the run, so a slow run can be told apart
    as host weather rather than engine code."""
    t0 = time.perf_counter()
    x = 0
    for i in range(2_000_000):
        x += i
    return time.perf_counter() - t0


def full_gc(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def stop_engine(spark) -> None:
    """Stop the session (and with it the Python workers), then the JVM,
    and wait until the JVM has exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the gateway server exits on EOF
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def timed_loop(args, spark, runner, snap, spans) -> tuple[list[dict], float, float]:
    """Passes over the step list while a typical pass still ends within
    ``args.seconds``, and at least MIN_PASSES.  Returns the passes, the
    peak PSS of the process tree and the CPU steal share."""
    from go_map_reduce_spark import registry

    passes: list[dict] = []
    peak_pss = 0.0
    steal0, total0 = cpu_ticks()
    t_loop = time.perf_counter()

    def next_pass_fits() -> bool:
        # start a pass only if a typical pass ends inside --seconds, so a
        # run's length does not swing by a whole pass
        typical = statistics.median(sum(s.seconds for s in p["steps"]) for p in passes)
        return time.perf_counter() - t_loop + typical <= args.seconds

    while len(passes) < MIN_PASSES or next_pass_fits():
        # the traced run alternates passes with and without spans; the
        # difference of their medians is the tracing overhead
        traced = spans is not None and len(passes) % 2 == 0
        if spans is not None:
            spans.install() if traced else spans.uninstall()
            runner.app_wrap = spans.app_wrapper() if traced else (lambda fn, m: fn)
            before = spans.totals()
        registry.memo_restore(spark, snap)
        full_gc(spark)
        p = {"label": f"p{len(passes)}", "traced": traced, "steps": []}
        for step in runner.wl.steps:
            t0 = time.time()
            sr = runner.run_step(p["label"], step)
            sr.phases["window_ms"] = (int(t0 * 1000), int(time.time() * 1000))
            if traced and sr.frame is not None:
                sr.phases["plan_s"] = layers.plan_seconds(sr.frame)
            sr.frame = sr.output = None
            p["steps"].append(sr)
            if spans is None:
                peak_pss = max(peak_pss, tree_pss_mb())
        if traced:
            after = spans.totals()
            p["spans"] = {k: after[k] - before.get(k, 0.0) for k in after}
        passes.append(p)
    if spans is not None:
        spans.uninstall()
    steal1, total1 = cpu_ticks()
    return passes, peak_pss, (steal1 - steal0) / max(total1 - total0, 1)


def check_outputs(runner, cold, passes, corrupt: bool) -> tuple[dict, int, int]:
    """The cold (first) pass against the oracles, every later pass
    against the checked pass by digest.  Returns the per-step checks
    and the attempted and failed step counts."""
    checks = {}
    for j, sr in enumerate(cold):
        err = sr.error or runner.check(sr.step, sr.output, corrupt and j == 0)
        checks[sr.step] = {"digest": sr.digest, "error": err}
        sr.output = None
    runs = cold + [sr for p in passes for sr in p["steps"]]
    failed = sum(
        1
        for sr in runs
        if sr.error or checks[sr.step]["error"] or sr.digest != checks[sr.step]["digest"]
    )
    return checks, len(runs), failed


def run(args, work: str) -> tuple[dict, dict]:
    wl = WORKLOADS[args.workload]
    settings = pin_environment(work, args.trace)
    sys.path.insert(0, ROOT)
    try:
        import go_map_reduce_spark  # noqa: F401  (registers the queries)
        from go_map_reduce_spark import registry
        from go_map_reduce_spark.session import get_spark
    except ImportError as e:
        raise SystemExit(f"engine not importable from {ROOT}: {e}")
    t_import = time.perf_counter()

    data = os.path.join(work, "data")
    wl.generate(data, args.seed)
    t_gen = time.perf_counter()
    spark = get_spark(app_name=f"graftbench-{wl.name}")
    try:
        t_start = time.perf_counter()
        runner = Runner(spark, wl, data, os.path.join(work, "out"))
        spans = layers.Spans(spark) if args.trace else None
        snap = registry.memo_snapshot(spark)
        cold = [runner.run_step("cold", s) for s in wl.steps]
        t_cold = time.perf_counter()
        for sr in cold:
            sr.frame = None
        passes, peak_pss, steal = timed_loop(args, spark, runner, snap, spans)
        checks, attempted, failed = check_outputs(runner, cold, passes, args.corrupt)
        app_id = spark.sparkContext.applicationId
    finally:
        stop_engine(spark)
    setup = {
        "import_s": t_import - T_START,
        "gen_s": t_gen - t_import,
        "start_s": t_start - t_gen,
        "cold_pass_s": t_cold - t_start,
    }
    # a pass with a failed step has no time; the step counts in ``failed``
    pass_secs = [
        sum(s.seconds for s in p["steps"])
        for p in passes
        if not any(s.error for s in p["steps"])
    ] or [float("nan")]
    inputs = gen.digest(data)
    with open("/proc/loadavg") as f:
        loadavg = f.read().split()[:3]
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "passes": len(passes),
        "pass_s": pass_secs,
        "step_s": {
            s: [p["steps"][k].seconds for p in passes] for k, s in enumerate(wl.steps)
        },
        "cold_step_s": {sr.step: sr.seconds for sr in cold},
        "setup": setup,
        "checks": checks,
        "errors": sorted(
            {f"{sr.step}: {sr.error}" for sr in cold if sr.error}
            | {f"{s.step}: {s.error}" for p in passes for s in p["steps"] if s.error}
        ),
        "input": {**inputs, "rows": gen.row_counts(data)},
        "cpu_steal_share": steal,
        "host_probe_s": host_probe_s(),
        "loadavg": loadavg,
        "cores": nproc(),
        "settings": settings,
        "app_id": app_id,
    }
    if args.trace:
        metrics = layers.layer_metrics(
            passes, setup, os.path.join(work, "events"), nproc()
        )
    else:
        pass_s = statistics.median(pass_secs)
        metrics = {
            "setup_s": (sum(setup.values()), "s"),
            "pass_s": (pass_s, "s"),
            "input_mb_per_s": (inputs["bytes"] / 1e6 / pass_s, "MB/s"),
            "peak_rss_mb": (peak_pss, "MB"),
        }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
