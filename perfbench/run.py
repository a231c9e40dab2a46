"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the dump workload's input from the seed (cached under
``.perfbench/inputs``; the catalog reads the tables in ``data/``), then runs perfbench/child.py in a fresh process
with its own JVM and empty temp, cache and Spark directories: it sets the
workload up three times, runs it for ``--seconds`` seconds and checks its
output.  Prints one JSON line: the end-to-end metrics with
``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
Run from the root of a checkout; everything it writes stays under
``.perfbench/`` there.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import inputs  # noqa: E402

DEADLINE_S = 170  # the whole run, input generation included

WORKLOADS = ("diffdb_bz2", "catalog_sf0.01")

# raw XML bytes of the diffdb_bz2 dump: big enough that one full-output
# run is a few seconds of engine work, small enough that the set-ups plus
# the timed window fit the per-run budget (see README.md)
DUMP_SIZE = 3_000_000

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "raw_gb_per_core_hour": "GB/core-h",
    "query_p50_s": "s",
    "query_p90_s": "s",
}

PER_LAYER = {
    "session.start_s": "s",
    "session.cold_setup_s": "s",
    "wikidump.plan_s": "s",
    "wikidump.partitions": "count",
    "wikidump.scan_s": "s",
    "wikidump.revisions": "count",
    "wikidump.read_amplification": "ratio",
    "bz2blocks.decode_s": "s",
    "bz2blocks.blocks": "count",
    "bz2blocks.decode_amplification": "ratio",
    "diffs.token_diff_s": "s",
    "diffs.pairs": "count",
    "diffs.ops": "count",
    "diffs.native_loaded": "bool",
    "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB",
    "arrow.to_python_mb": "MB",
    "arrow.from_python_mb": "MB",
    "diffdb.build_s": "s",
    "diffdb.sink_s": "s",
    "diffdb.output_mb": "MB",
    "relational.build_s": "s",
    "relational.cold_build_s": "s",
    "relational.plan_s": "s",
    "relational.exec_s": "s",
    "relational.build_jobs": "count",
    "driver.py4j_calls": "count",
    "components.calls": "count",
    "components.s": "s",
    "components.jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.task_skew": "ratio",
    "trace.run_s": "s",
}


def percentile(values: list[float], q: float) -> float:
    """Linear interpolation between closest ranks (inclusive method)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def driver_memory() -> str:
    """A quarter of the host's memory, between 1 and 2 GiB: the inputs
    are small, and the host's memory may be shared."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(1, min(2, total_kb // (4 << 20)))}g"


def _session_pids(sid: int) -> list[int]:
    pids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            if int(raw[raw.rindex(")") + 2 :].split()[3]) == sid:
                pids.append(int(entry))
    return pids


def reap_session(sid: int) -> None:
    """Kill whatever the child's session left running (JVM, Python
    workers) and wait until it is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + 10
        while _session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.05)


def run_child(cfg: dict, run_dir: str, timeout: float) -> dict:
    """The measured process, with its temp, cache, Spark local and conf
    directories under ``run_dir``; nothing it or its JVM writes lands
    outside it."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "cache", "local", "conf", "events", "work")}
    for d in dirs.values():
        os.makedirs(d)
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}"
    memory = driver_memory()
    conf = [
        "spark.ui.showConsoleProgress false",
        # a fixed-size heap: the JVM's resident memory then follows what
        # the run touches, not when G1 chose to grow the heap
        f"spark.driver.extraJavaOptions {java_opts} -Xms{memory}",
        f"spark.sql.warehouse.dir {os.path.join(run_dir, 'warehouse')}",
    ]
    if cfg["trace"]:
        conf += [
            "spark.eventLog.enabled true",
            f"spark.eventLog.dir file://{dirs['events']}",
            # one plain JSON-lines file per application
            "spark.eventLog.rolling.enabled false",
            "spark.eventLog.compress false",
        ]
    with open(os.path.join(dirs["conf"], "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(conf) + "\n")
    env = dict(
        os.environ,
        TMPDIR=dirs["tmp"],
        XDG_CACHE_HOME=dirs["cache"],
        SPARK_LOCAL_DIRS=dirs["local"],
        SPARK_CONF_DIR=dirs["conf"],
        SPARK_LAUNCHER_OPTS=java_opts,
        SPARK_DRIVER_MEMORY=memory,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    cfg = dict(
        cfg, work_dir=dirs["work"], event_log_dir=dirs["events"],
        fresh_dirs=[dirs["tmp"], dirs["cache"]],
    )
    cfg_path = os.path.join(run_dir, "config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.child", cfg_path],
        cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=timeout)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        reap_session(proc.pid)
    if proc.returncode != 0:
        raise RuntimeError(f"benchmark process exited with code {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def result_line(trace: bool, m: dict, cores: int) -> dict:
    run_s = statistics.median(m["runs"])
    if trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(m["layers"])
        layers["session.start_s"] = m["session_starts"][0]
        layers["session.cold_setup_s"] = m["setups"][0]
        metrics = {k: {"value": layers[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
    else:
        values = {
            "setup_s": statistics.median(m["setups"]),
            "run_s": run_s,
            "cpu_s": m["cpu_s"],
            "peak_rss_mb": m["peak_rss_mb"],
            "raw_gb_per_core_hour": m["input_bytes"] / 1e9 / (run_s / 3600) / cores,
            "query_p50_s": percentile(m["samples"], 0.5),
            "query_p90_s": percentile(m["samples"], 0.9),
        }
        metrics = {k: {"value": values[k], "unit": END_TO_END[k]} for k in END_TO_END}
    return {
        "correct": m["failed"] == 0 and m["native_loaded"],
        "attempted": m["attempted"],
        "failed": m["failed"],
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=DUMP_SIZE,
                    help="raw bytes of the generated dump (diffdb_bz2 only)")
    args = ap.parse_args(argv)
    t_begin = time.monotonic()

    for module in ("wikihadoop_spark", "pyspark", "duckdb"):
        if importlib.util.find_spec(module) is None:
            print(f"perfbench: cannot import {module}; run from a checkout of the engine",
                  file=sys.stderr)
            return 2

    state = os.path.join(ROOT, ".perfbench")
    if args.workload == "catalog_sf0.01":
        truth = inputs.catalog_tables()
    else:
        truth = inputs.cached(
            os.path.join(state, "inputs"), "markup_dump", args.seed, args.size,
            inputs.build_markup_dump,
        )

    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    run_dir = os.path.join(state, "runs", run_id)
    trace_dir = os.path.join(state, "traces")
    os.makedirs(trace_dir, exist_ok=True)
    cores = min(4, len(os.sched_getaffinity(0)))
    cfg = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": bool(args.trace), "run_id": run_id, "truth": truth, "cores": cores,
        "spans_path": os.path.join(trace_dir, f"{run_id}.json"),
    }
    try:
        m = run_child(cfg, run_dir, DEADLINE_S - (time.monotonic() - t_begin))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(
        f"perfbench: set-ups {[round(x, 2) for x in m['setups']]} s, "
        f"runs {[round(x, 2) for x in m['runs']]} s, "
        f"{time.monotonic() - t_begin:.1f} s in all",
        file=sys.stderr,
    )
    print(json.dumps(result_line(bool(args.trace), m, cores)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
