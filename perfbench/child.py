"""The measured part of a benchmark run, in a fresh process.

Sets the workload up ``SETUPS`` times: the first set-up starts the
process's session and JVM cold, each later one stops the session,
empties the temp and cache directories and starts a new session in the
same JVM.  A set-up ends after one untimed run of the workload.  Then the
workload runs repeatedly for the configured seconds, its output is
checked and, when traced, the event log is read and the layer probes run.

Invoked by run.py as ``python3 -m perfbench.child CONFIG.json``;
prints one JSON object as its last line of standard output."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback

SETUPS = 3


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)


def _measure(wl, spark, cfg: dict, tracer) -> dict:
    from perfbench import meters

    jvm = spark.sparkContext._gateway.proc.pid
    counter = meters.Py4jCounter(spark) if tracer.enabled else None
    wl.py4j = counter
    wl.set_phase("timed")
    runs, ops, failed = [], [], 0
    cpu0 = meters.tree_cpu_seconds(jvm)
    with meters.RssPeak(jvm) as rss:
        deadline = time.perf_counter() + cfg["seconds"]
        rep = 0
        while True:
            t0 = time.perf_counter()
            try:
                ops.extend(wl.run_once(rep))
            except Exception:  # noqa: BLE001 — a failed run is counted, not fatal
                traceback.print_exc()
                failed += 1
            runs.append(time.perf_counter() - t0)
            rep += 1
            if time.perf_counter() >= deadline:
                break
    cpu = meters.tree_cpu_seconds(jvm) - cpu0
    py4j_calls = counter.calls if counter else 0

    wl.set_phase("check")
    errors = wl.check()
    from wikihadoop_spark.functions import native

    native_loaded = native.load() is not None
    if not native_loaded:
        errors.append("native diff kernel not loaded: the pure-Python fallback ran")
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)

    out = {
        "attempted": len(ops) + failed,
        "failed": min(failed + len(errors), len(ops) + failed),
        "runs": runs,
        # latency samples: one per run, or per catalog query its median
        # over the passes in the window
        "samples": [statistics.median(v) for v in wl.latencies.values()]
        if getattr(wl, "latencies", None) else runs,
        "cpu_s": cpu / len(runs),
        "peak_rss_mb": rss.peak / 1e6,
        "input_bytes": wl.input_bytes(),
        "native_loaded": native_loaded,
    }
    if tracer.enabled:
        out["layers"] = _layers(wl, tracer, cfg, len(runs), py4j_calls)
        out["layers"]["trace.run_s"] = statistics.median(runs)
        out["layers"]["diffs.native_loaded"] = int(native_loaded)
    return out


def _layers(wl, tracer, cfg: dict, reps: int, py4j_calls: int) -> dict:
    from perfbench import meters

    def per_run(name: str, phase: str = "timed") -> float:
        return sum(
            s["end"] - s["start"]
            for s in tracer.spans
            if s["name"] == name and s.get("phase") == phase
        ) / (reps if phase == "timed" else 1)

    layers = {
        "driver.py4j_calls": py4j_calls / reps,
        "wikidump.plan_s": per_run("wikidump.read"),
        "diffdb.build_s": per_run("diffdb.build"),
        "relational.build_s": per_run("relational.build"),
        "relational.plan_s": per_run("relational.plan"),
        "relational.exec_s": per_run("relational.exec"),
        "relational.cold_build_s": per_run("relational.build", phase="setup0"),
        "components.s": per_run("components.connected_components"),
        "components.calls": sum(
            1 for s in tracer.spans
            if s["name"] == "components.connected_components" and s["phase"] == "timed"
        ) / reps,
    }
    if hasattr(wl, "noop_write"):
        wl.set_phase("noop")
        noop = []
        for _ in range(2):
            t0 = time.perf_counter()
            wl.noop_write()
            noop.append(time.perf_counter() - t0)
        layers["diffdb.sink_s"] = per_run("diffdb.write_tsv") - statistics.median(noop)

    events = meters.read_event_log(cfg["event_log_dir"])
    spark_m = meters.stage_metrics(events, wl.groups_where(phase="timed"))
    for k in (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
        "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    ):
        layers[f"spark.{k}"] = spark_m[k] / reps
    layers["spark.task_skew"] = spark_m["task_skew"]
    layers["arrow.to_python_mb"] = spark_m["arrow_to_python_mb"] / reps
    layers["arrow.from_python_mb"] = spark_m["arrow_from_python_mb"] / reps
    layers["relational.build_jobs"] = meters.stage_metrics(
        events, wl.groups_where(phase="timed", name="relational.build")
    )["jobs"] / reps
    layers["components.jobs"] = meters.stage_metrics(
        events, wl.groups_where(phase="timed", name="components.connected_components")
    )["jobs"] / reps
    layers.update(wl.probe())
    tracer.write(cfg["spans_path"])
    return layers


def _empty(directory: str) -> None:
    for name in os.listdir(directory):
        path = os.path.join(directory, name)
        if os.path.isdir(path):
            shutil.rmtree(path)
        else:
            os.unlink(path)


def main() -> int:
    t_start = time.perf_counter()
    with open(sys.argv[1]) as fh:
        cfg = json.load(fh)

    from perfbench import meters, workloads
    from wikihadoop_spark.session import get_spark

    tracer = meters.Tracer(cfg["trace"], run_id=cfg["run_id"])
    cls = workloads.WORKLOADS[cfg["workload"]]
    extra = {"seed": cfg["seed"]} if cls is workloads.Catalog else {}
    setups, starts = [], []
    spark = None
    try:
        for i in range(SETUPS):
            if spark is not None:
                spark.stop()
                for d in cfg["fresh_dirs"]:
                    _empty(d)
                t_start = time.perf_counter()
            t0 = time.perf_counter()
            with tracer.span("session.get_spark", phase=f"setup{i}"):
                spark = get_spark("perfbench", cpus=cfg["cores"])
            starts.append(time.perf_counter() - t0)
            spark.sparkContext.setLogLevel("ERROR")
            wl = cls(spark, cfg["truth"], cfg["work_dir"], tracer, cfg["cores"], **extra)
            wl.set_phase(f"setup{i}")
            wl.run_once(-1)
            setups.append(time.perf_counter() - t_start)
        result = {"setups": setups, "session_starts": starts}
        result.update(_measure(wl, spark, cfg, tracer))
    finally:
        if spark is not None:
            _stop(spark)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
