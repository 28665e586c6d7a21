"""Benchmark entry point: one seeded workload, one closed-loop client.

    python3 perfbench/run.py --workload etl_star --seed 1 --seconds 12 --trace 0

Run from the repository root.  The run

1. generates the workload's inputs from ``--seed`` (``gen.py``, own process)
   and their expected outputs (``oracle.py``, own process, DuckDB);
2. sets up: imports the program, starts its Spark session with ``get_spark``,
   runs one untimed, checked first iteration and then the workload's fixed
   number of checked warm-up iterations -- ``setup_s``;
3. runs iterations back to back for ``--seconds``, each checked cheaply
   against the expected row count.  Nothing is cleared and no GC is forced
   between iterations, as in a user's long-running session;
4. compares the last output with the DuckDB oracle in full;
5. prints one JSON object as the last line of stdout: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

With ``--trace 1`` every second iteration is traced (see ``tracing.py``); the
others are not, and the difference of the two medians is the tracing
overhead.  Work files go to ``.perfbench_work/`` under the current directory.
The exit code is 1 when any output is wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))

# Per-iteration figures are CPU seconds of the whole process tree, not wall
# seconds: on a shared host the wall time of a run moves with the co-tenants'
# load (steal), the CPU time much less.  The wall-time figures and the drift
# ratios, too unsteady over a run's few iterations to gate on, are recorded
# as ``extra`` in result.json and on the "# extra" line of the output.
END_TO_END = {
    "setup_s": "s", "cpu_s_p50": "s", "cpu_s_tail": "s", "rows_per_cpu_s": "rows/s",
    "peak_rss_mb": "MB", "ok_frac": "ratio",
}
PER_LAYER = {
    "session.start_s": "s", "session.persisted_rdds": "count/iter",
    "config.build_s": "s",
    "pipeline.run_s": "s", "pipeline.jobs": "count", "pipeline.stages": "count",
    "sources.call_s": "s", "sources.scan_s": "s", "sources.scan_rows": "count",
    "sources.scan_bytes": "B",
    "operators.call_s": "s", "operators.shuffle_bytes": "B",
    "operators.shuffle_records": "count", "operators.spill_bytes": "B",
    "operators.peak_mem_bytes": "B",
    "dag.build_s": "s", "dag.run_s": "s", "dag.jobs": "count", "dag.stages": "count",
    "dag.persisted_nodes": "count",
    "functions.call_s": "s", "functions.eager_jobs": "count", "functions.python_s": "s",
    "functions.python_init_s": "s",
    "functions.arrow_bytes": "B", "functions.shuffle_bytes": "B",
    "sinks.write_s": "s", "sinks.jobs": "count", "sinks.tasks": "count",
    "sinks.bytes_written": "B", "sinks.files_written": "count", "sinks.commit_s": "s",
    "spark.failed_tasks": "count",
    "trace.overhead_s": "s",
}
# Table metrics the traced run cannot measure from outside the program.
UNAVAILABLE = {
    "functions.pair_yield": (
        "candidate and verified pair counts exist only inside "
        "similarity.cell_cosine_pairs and dedup.jaccard_pairs; their plan nodes "
        "are not told apart from the other joins and filters of the same call"),
}
# SQL plan-node metrics (by Spark's display name) behind each per-layer metric.
SQL_METRICS = {
    "sources.scan_s": [("sources", "scan time")],
    "sources.scan_rows": [("sources", "number of output rows")],
    "sources.scan_bytes": [("sources", "size of files read")],
    "operators.shuffle_bytes": [("operators", "shuffle bytes written")],
    "operators.shuffle_records": [("operators", "shuffle records written")],
    "operators.spill_bytes": [("operators", "spill size")],
    "operators.peak_mem_bytes": [("operators", "peak memory")],
    "functions.shuffle_bytes": [("functions", "shuffle bytes written")],
    "functions.python_s": [("functions", "time to run Python workers")],
    "functions.python_init_s": [("functions", "time to start Python workers"),
                                ("functions", "time to initialize Python workers")],
    "functions.arrow_bytes": [("functions", "data sent to Python workers"),
                              ("functions", "data returned from Python workers")],
    "sinks.bytes_written": [("sinks", "written output")],
    "sinks.files_written": [("sinks", "number of written files")],
    "sinks.commit_s": [("sinks", "task commit time"), ("sinks", "job commit time")],
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """A quarter of the box's memory, between 1 and 4 GiB: the workloads need
    little heap, and the box is shared."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return max(1, min(4, total_kb // (4 << 20)))


def cpu_times() -> list[int]:
    """/proc/stat cpu counters, then the CPU pressure stall total in µs
    (-1 where the kernel has no pressure accounting)."""
    with open("/proc/stat") as fh:
        counters = [int(v) for v in fh.readline().split()[1:9]]
    try:
        with open("/proc/pressure/cpu") as fh:
            stall_us = int(fh.readline().rsplit("total=", 1)[1])
    except (OSError, IndexError, ValueError):
        stall_us = -1
    return counters + [stall_us]


def contention(before: list[int], after: list[int], wall_s: float) -> dict:
    """Steal and iowait shares of all CPU time during the loop, and a label.

    Co-tenants that share the kernel show up as CPU pressure, not steal, so
    the share of wall time in which some task waited for a CPU is recorded
    too.  It includes this run's own threads, so it does not set the label.
    """
    delta = [b - a for a, b in zip(before[:8], after[:8])]
    total = sum(delta) or 1
    steal, iowait = delta[7] / total, delta[4] / total
    label = "contended" if steal > 0.02 or iowait > 0.05 else "clean"
    pressure = (after[8] - before[8]) / 1e6 / wall_s if before[8] >= 0 else None
    return {"label": label, "steal_frac": steal, "iowait_frac": iowait,
            "cpu_pressure_some_frac": pressure}


def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and all its descendants: the driver's Python, its JVM and
    the JVM's Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    pids, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(children.get(pid, []))
    return pids


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak RSS (VmHWM) over the process tree of ``root_pid``."""
    total_kb = 0
    for pid in tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _ticks(stat_path: str, fields: slice) -> tuple[str, int]:
    """(command name, sum of the given CPU-tick fields) of one /proc stat file."""
    with open(stat_path) as fh:
        head, rest = fh.read().rsplit(")", 1)
    return head.split("(", 1)[1], sum(int(v) for v in rest.split()[fields])


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by the process tree of
    ``root_pid``, including children it has already reaped, but without the
    JVM's JIT compiler threads.

    Time the host takes the CPUs away (steal) is not charged to a process, so
    this grows much less than wall time when co-tenants load the host.  The
    JIT compiler's own work is a warm-up cost of the JVM that fades over the
    session; leaving it out keeps the figure to the work the program does.
    """
    ticks = 0
    for pid in tree_pids(root_pid):
        try:
            comm, t = _ticks(f"/proc/{pid}/stat", slice(11, 15))  # utime stime cutime cstime
            ticks += t
            if comm != "java":
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                try:
                    name, t = _ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
                except OSError:
                    continue
                if "CompilerThre" in name:
                    ticks -= t
        except OSError:
            continue
    return ticks / CLK_TCK


def tail(times: list[float]) -> float:
    """90th percentile of the iteration times, interpolated between samples."""
    if len(times) == 1:
        return times[0]
    return statistics.quantiles(times, n=10, method="inclusive")[-1]


def drift(times: list[float]) -> float:
    q = max(1, len(times) // 4)
    return statistics.median(times[-q:]) / statistics.median(times[:q])


def hygiene_env(work: str) -> dict:
    """Pin the session to the box and keep every file the run writes under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_gb()}g",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def stop_session(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run_step(script: str, *args: str) -> float:
    start = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, script), *args], check=True,
                   stdout=subprocess.DEVNULL)
    return time.perf_counter() - start


def layer_metrics(tracer, traced: list[int], persisted_per_iter: float,
                  start_s: float, overhead_s: float) -> tuple[dict, float]:
    """Per-layer metrics (median over traced iterations) and the lowest share
    of an iteration's wall time covered by its top-level spans."""
    spans = tracer.spans
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)

    def inclusive(i: int, field: str) -> int:
        return getattr(spans[i], field) + sum(inclusive(c, field) for c in children.get(i, []))

    def outermost(i: int) -> bool:
        p = spans[i].parent
        while p is not None:
            if spans[p].layer == spans[i].layer:
                return False
            p = spans[p].parent
        return True

    per_iter: dict[str, list[float]] = {name: [] for name in PER_LAYER}
    coverage = []
    for it in traced:
        idx = [i for i, s in enumerate(spans) if s.iteration == it]
        v: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        for i in idx:
            s = spans[i]
            dur = s.end - s.start
            if s.name == "iteration":
                top = children.get(i, [])
                covered = sum(spans[c].end - spans[c].start for c in top)
                bookkeeping = sum(spans[c].count_s for c in top)
                coverage.append(covered / max(dur - bookkeeping, 1e-9))
            v["spark.failed_tasks"] += s.failed_tasks
            if s.layer in ("sources", "operators", "sinks", "functions", "config") and outermost(i):
                key = {"sources": "sources.call_s", "operators": "operators.call_s",
                       "sinks": "sinks.write_s", "functions": "functions.call_s",
                       "config": "config.build_s"}[s.layer]
                v[key] += dur
                if s.layer == "sinks":
                    v["sinks.jobs"] += inclusive(i, "jobs")
                    v["sinks.tasks"] += inclusive(i, "tasks")
                if s.layer == "functions":
                    v["functions.eager_jobs"] += inclusive(i, "jobs")
            if s.name == "pipeline.run":
                v["pipeline.run_s"] += dur
                v["pipeline.jobs"] += inclusive(i, "jobs")
                v["pipeline.stages"] += inclusive(i, "stages")
            elif s.name == "dag.run":
                v["dag.run_s"] += dur
                v["dag.jobs"] += inclusive(i, "jobs")
                v["dag.stages"] += inclusive(i, "stages")
            elif s.name in ("dag.build", "dag.construct"):
                v["dag.build_s"] += dur
        for name, parts in SQL_METRICS.items():
            v[name] = sum(tracer.sql.get((it, f"{layer}|{metric}"), 0.0) for layer, metric in parts)
        v["dag.persisted_nodes"] = tracer.counts.get((it, "dag.persisted_nodes"), 0.0)
        for name in PER_LAYER:
            per_iter[name].append(v[name])
    out = {name: statistics.median(vals) if vals else 0.0 for name, vals in per_iter.items()}
    out["session.start_s"] = start_s
    out["session.persisted_rdds"] = persisted_per_iter
    out["trace.overhead_s"] = overhead_s
    return out, min(coverage) if coverage else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description="mini_etl_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the smoke test uses a tiny one)")
    args = ap.parse_args()

    sys.path.insert(0, HERE)
    from gen import GENERATORS

    if args.workload not in GENERATORS:
        ap.error(f"unknown workload {args.workload!r}; choose from {sorted(GENERATORS)}")
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "mini_etl_spark")):
        print("perfbench: run from the repository root (no mini_etl_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, out = os.path.join(work, "inputs"), os.path.join(work, "out")
    env = hygiene_env(work)

    gen_s = run_step("gen.py", "--workload", args.workload, "--seed", str(args.seed),
                     "--out", inputs, "--scale", str(args.scale))
    oracle_s = run_step("oracle.py", "--workload", args.workload, "--dir", inputs)

    # -- set-up: imports + session + first iteration + warm-up iterations ----
    t_setup = time.perf_counter()
    from mini_etl_spark import get_spark
    from tracing import NullTracer, Tracer
    from workloads import WORKLOADS

    t_session = time.perf_counter()
    spark = get_spark("perfbench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    session_start_s = time.perf_counter() - t_session
    sc = spark.sparkContext
    wl = WORKLOADS[args.workload](inputs, out)
    null = NullTracer()
    errors: list[str] = []
    warm_times = []
    for w in range(1 + wl.warmup):
        t0 = time.perf_counter()
        err = wl.check_iteration(wl.iteration(spark, null))
        warm_times.append(time.perf_counter() - t0)
        if err:
            errors.append(f"set-up iteration {w}: {err}")
    setup_s = time.perf_counter() - t_setup

    # -- timed closed loop ---------------------------------------------------
    tracer = Tracer(spark, wl.transform_layer) if args.trace else None
    persisted_before = sc._jsc.getPersistentRDDs().size()
    times: list[float] = []
    cpu: list[float] = []
    traced: list[int] = []
    failed = 0
    cpu0 = cpu_times()
    t_loop = time.perf_counter()
    while True:
        i = len(times)
        is_traced = tracer is not None and i % 2 == 1
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        try:
            if tracer is None:
                rows = wl.iteration(spark, null)
            else:
                with tracer.iteration_scope(i, is_traced):
                    rows = wl.iteration(spark, tracer)
        except Exception:  # noqa: BLE001 - a failed iteration is counted, not fatal
            err = traceback.format_exc()
        else:
            err = None
        times.append(time.perf_counter() - t0)
        cpu.append(tree_cpu_s(os.getpid()) - c0)
        if err is None:
            err = wl.check_iteration(rows)
        if err:
            failed += 1
            errors.append(f"iteration {i}: {err}")
        if is_traced:
            traced.append(i)
        if time.perf_counter() - t_loop >= args.seconds and (tracer is None or traced):
            break
    loop_s = time.perf_counter() - t_loop
    hygiene = contention(cpu0, cpu_times(), loop_s)
    peak_rss_mb = tree_peak_rss_mb(os.getpid())
    persisted_per_iter = (sc._jsc.getPersistentRDDs().size() - persisted_before) / len(times)

    # -- once per run: full comparison with the oracle -------------------------
    try:
        errors.extend(wl.full_check(spark))
    except Exception:  # noqa: BLE001 - reported as a wrong output
        errors.append("full check raised:\n" + traceback.format_exc())
    hygiene.update(
        nproc=nproc(), default_parallelism=sc.defaultParallelism,
        task_threads_within_cores=sc.defaultParallelism <= nproc(),
        python_threads=threading.active_count(), env={k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
        spark_version=spark.version, gen_s=gen_s, oracle_s=oracle_s,
        session_start_s=session_start_s, setup_iter_times=warm_times,
    )

    extra = {
        "iter_s_p50": statistics.median(times),
        "iter_s_tail": tail(times),
        "rows_per_s": wl.input_rows * len(times) / loop_s,
        "drift_ratio_wall": drift(times),
        "drift_ratio_cpu": drift(cpu),
    }
    if tracer is None:
        metrics = {
            "setup_s": setup_s,
            "cpu_s_p50": statistics.median(cpu),
            "cpu_s_tail": tail(cpu),
            "rows_per_cpu_s": wl.input_rows * len(cpu) / sum(cpu),
            "peak_rss_mb": peak_rss_mb,
            "ok_frac": 1 - failed / len(times),
        }
        units = END_TO_END
    else:
        untraced = [t for i, t in enumerate(times) if i not in set(traced)]
        overhead = statistics.median([times[i] for i in traced]) - statistics.median(untraced) \
            if traced and untraced else 0.0
        metrics, coverage = layer_metrics(tracer, traced, persisted_per_iter,
                                          session_start_s, overhead)
        units = PER_LAYER
        sql_totals: dict[str, float] = {}
        for (_, key), value in tracer.sql.items():
            sql_totals[key] = sql_totals.get(key, 0.0) + value / len(traced)
        hygiene.update(span_coverage_min=coverage, traced_iterations=len(traced),
                       unavailable=UNAVAILABLE, sql_nodes=dict(tracer.sql_nodes),
                       sql_metrics_per_iteration=sql_totals)
    stop_session(spark)

    result = {
        "correct": not errors,
        "attempted": len(times),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump({**result, "workload": args.workload, "seed": args.seed,
                   "iter_times": times, "iter_cpu_s": cpu, "extra": extra,
                   "errors": errors, "hygiene": hygiene,
                   "spans": tracer.dump() if tracer else []}, fh, indent=1)
    for e in errors:
        print(f"perfbench: WRONG OUTPUT: {e}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} iterations={len(times)} "
          f"gen_s={gen_s:.3f} oracle_s={oracle_s:.3f}")
    print("# extra " + json.dumps(extra))
    print("# hygiene " + json.dumps({k: v for k, v in hygiene.items() if not k.startswith("sql_")}))
    print(json.dumps(result))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
