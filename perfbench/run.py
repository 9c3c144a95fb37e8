"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds a Spark session sized to the
host, generates the workload's inputs from ``--seed`` inside a scratch
directory of the checkout, runs the workload's closed loop in whole
cycles for at least ``--seconds`` and checks every answer against
DuckDB. The last line of
standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics (from Spark's event log) with ``--trace 1``. The line before it
is a ``{"detail": ...}`` object with per-class timings and gate results.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

LAYER_GROUPS = ("io", "engine", "cells", "join", "tiles", "ops")
LAYER_METRICS = (
    "session.start_s",
    "io.scan_s", "io.bytes_read", "io.files_read", "io.rows_read",
    "io.layout_row_groups", "io.commit_s", "io.bytes_written", "io.write_amp",
    "io.files_live",
    "plan.prune_ratio", "plan.rows_scanned_per_row",
    "engine.plan_s", "engine.routed_frac",
    "functions.udf_rows", "functions.py_bytes_to", "functions.py_bytes_from",
    "cells.encode_s", "cells.cells_per_row",
    "join.s", "join.candidates", "join.pairs", "join.refine_hit_ratio",
    "join.broadcast_bytes", "join.shuffle_write_bytes", "join.shuffle_read_bytes",
    "join.task_skew", "join.py_bytes_to",
    "geom.refine_pairs_per_s",
    "tiles.s", "tiles.py_bytes_to",
    "ops.refresh_s", "ops.stages",
    "trace.plain_op_s", "trace.traced_op_s", "trace.overhead_s",
) + tuple(
    f"{layer}.{m}"
    for layer in LAYER_GROUPS
    for m in ("jobs", "tasks", "run_s", "cpu_s", "wait_s", "spill_bytes")
)
# share of the traced cycles' executor CPU the layer groups may leave
# unattributed: the joins' and COUNTs' result checks run outside them
CPU_CHECK_TOLERANCE = 0.05
PHASE_KEY = "perfbench.phase"


END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
    "rows_per_s": "rows/s",
    "op_cpu_p50_s": "s",
}


def unit_of(name: str) -> str:
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    m = name.rsplit(".", 1)[-1]
    if m.endswith("_bytes") or m.startswith("bytes_") or m.startswith("py_bytes"):
        return "bytes"
    if m.endswith("per_s"):
        return "1/s"
    if m == "s" or m.endswith("_s"):
        return "s"
    if m.endswith("ratio") or m.endswith("frac") or m.endswith("_amp") or m.endswith(
        "per_row"
    ) or m.endswith("skew"):
        return "ratio"
    return "count"


def host_memory_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def prepare_env(run_dir: str) -> dict[str, str]:
    """Environment and Spark options that keep every file inside the
    run directory and size the session to this host."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    cpus = os.cpu_count() or 1
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ.setdefault(
        "SPARK_GRAFT_DRIVER_MEM", f"{min(4096, host_memory_mb() // 4)}m"
    )
    java_tmp = f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": java_tmp,
        "spark.executor.extraJavaOptions": java_tmp,
        "spark.ui.showConsoleProgress": "false",
    }


def quantile_tail(samples: list[float]) -> tuple[float, int]:
    """The highest whole percentile with at least 10 samples beyond it
    (the maximum when there are fewer than 11 samples)."""
    n = len(samples)
    s = sorted(samples)
    if n <= 10:
        return s[-1], 100
    pct = int(math.floor(100.0 * (n - 10) / n))
    return s[max(0, math.ceil(pct / 100.0 * n) - 1)], pct


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def run_loop(wl, seconds: float, k0: int):
    """Whole cycles of ops, starting new ones until ``seconds`` have
    passed (at least one), so every run times the same mix of ops."""
    times: dict[str, list[float]] = {c: [] for c in wl.classes}
    cpu: dict[str, list[float]] = {c: [] for c in wl.classes}
    attempted = failed = 0
    errors: list[str] = []
    t_end = time.perf_counter() + seconds
    k = k0
    while k == k0 or time.perf_counter() < t_end:
        for cls, op, check in wl.cycle(k):
            attempted += 1
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                got = op()
                dt = time.perf_counter() - t0
                c1 = tree_cpu_s()
                ok = check(got)
            except Exception:  # an op that raises counts as failed and the loop goes on
                dt = time.perf_counter() - t0
                c1 = tree_cpu_s()
                ok = False
                errors.append(traceback.format_exc(limit=3))
            times[cls].append(dt)
            cpu[cls].append(c1 - c0)
            failed += not ok
        k += 1
    return times, cpu, attempted, failed, errors, k


def op_summary(times: dict[str, list[float]]) -> tuple[float, dict]:
    """Per-class medians and the op p50: the class medians combined by
    geometric mean, so every class weighs the same."""
    classes = {
        c: {"n": len(v), "p50_s": statistics.median(v), "max_s": max(v)}
        for c, v in times.items()
        if v
    }
    return geomean([c["p50_s"] for c in classes.values()]), classes


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def stop_spark(spark) -> None:
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    if proc.poll() is not None:  # already stopped
        return
    try:
        spark.stop()
        gateway.shutdown()
    except Exception:  # a signal broke the gateway mid-call: the JVM is stopped below
        pass
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt orphaned descendants. Spark's Python worker daemon runs in a
    process group of its own and can outlive the JVM that forked it; as
    subreaper this process becomes its parent and can wait for it."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):  # not Linux: descendants are still signalled
        pass


CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks of the process and its reaped
    children) for every process, from /proc."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            table[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
        except (OSError, IndexError, ValueError):  # ended while being read
            continue
    return table


def descendants(table: dict[int, tuple[int, int]] | None = None) -> list[int]:
    """Pids of every process below this one (zombies included)."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in (table or _proc_table()).items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process below
    it: the driver JVM and Spark's Python workers, whose tasks run the
    engine's work. Time the host takes away (steal) is not in it."""
    table = _proc_table()
    pids = [os.getpid()] + descendants(table)
    return sum(table[p][1] for p in pids if p in table) / CLOCK_TICKS


def stop_descendants(grace_s: float = 10.0) -> None:
    """Stop every process this run started, directly or not, and wait
    until each has ended: SIGTERM first, SIGKILL after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    signalled: set[int] = set()
    while True:
        while True:  # reap the children that have ended
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        live = descendants()
        if not live:
            return
        late = time.monotonic() > deadline
        for pid in live:
            if late or pid not in signalled:
                try:
                    os.kill(pid, signal.SIGKILL if late else signal.SIGTERM)
                except ProcessLookupError:
                    pass
                signalled.add(pid)
        time.sleep(0.05)


def exit_on_signal(signum, frame) -> None:
    """SIGTERM / SIGHUP end the run through its clean-up paths."""
    raise SystemExit(128 + signum)


def run(args, run_dir: str) -> tuple[dict, dict]:
    import workloads

    conf = prepare_env(run_dir)
    if args.trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + log_dir,
            }
        )
    from geomesa_sql_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark(
        f"perfbench-{args.workload}",
        master=f"local[{os.environ['SPARK_GRAFT_CPUS']}]",
        extra_conf=conf,
    )
    session_s = time.perf_counter() - t0
    detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    try:
        wl = workloads.WORKLOADS[args.workload](
            spark, os.path.join(run_dir, "data"), args.seed, args.scale
        )
        wl.gen_inputs()
        # the engine's table builds, ``setup_reps`` times: set-up counts
        # their median (a traced run reports no set-up time and builds once)
        tables_s = []
        for rep in range(1 if args.trace else wl.setup_reps):
            t0 = time.perf_counter()
            wl.setup(rep)
            tables_s.append(time.perf_counter() - t0)
        wl.expect()
        # warm-up: one untimed cycle, answers checked like any other
        t0 = time.perf_counter()
        wl.warm(True)
        w_times, _, w_att, w_fail, w_err, k = run_loop(wl, 0, 0)
        wl.warm(False)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(tables_s) + warm_s
        detail.update(
            input_rows=wl.input_rows,
            setup={
                "session_s": session_s,
                "tables_s": tables_s,
                "warmup_s": warm_s,
                "warmup_classes_s": {c: sum(v) for c, v in w_times.items()},
            },
        )
        if args.trace:
            metrics, attempted, failed, errors = traced(args, wl, spark, k, run_dir, detail)
            attempted += w_att
            failed += w_fail
            metrics["session.start_s"] = session_s
            spark = None
        else:
            t_loop = time.perf_counter()
            times, cpu, attempted, failed, errors, k = run_loop(wl, args.seconds, k)
            loop_s = time.perf_counter() - t_loop
            p50, classes = op_summary(times)
            cpu_p50, cpu_classes = op_summary(cpu)
            all_ops = [t for v in times.values() for t in v]
            tail, pct = quantile_tail(all_ops)
            metrics = {
                "setup_s": setup_s,
                "op_p50_s": p50,
                "ops_per_s": len(all_ops) / loop_s,
                "rows_per_s": wl.input_rows / p50,
                "op_cpu_p50_s": cpu_p50,
            }
            detail.update(
                classes=classes,
                cpu_classes=cpu_classes,
                op_tail_s=tail,
                op_tail_pct=pct,
                loop_s=loop_s,
                peak_rss_mb=jvm_peak_rss_mb(spark),
            )
            attempted += w_att
            failed += w_fail
        errors = w_err + errors
        detail["gates"] = wl.gates
        detail["errors"] = errors[:5]
        result = {
            "correct": failed == 0 and all(wl.gates.values()),
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
        }
        return result, detail
    finally:
        if spark is not None:
            stop_spark(spark)


def traced(args, wl, spark, k: int, run_dir: str, detail: dict):
    """Plain cycles for half of ``--seconds``, then layer-by-layer traced
    cycles for the other half (at least one of each); the event log is
    read after the session stops."""
    import eventlog
    import workloads

    half = args.seconds / 2.0
    spark.sparkContext.setJobGroup(f"{wl.name}~plain", "untraced ops")
    times, _, attempted, failed, errors, k = run_loop(wl, half, k)
    plain_op_s = sum(t for v in times.values() for t in v) / attempted
    wl.prepare_trace()
    tr = workloads.Tracer(spark, wl.name)
    sc = spark.sparkContext
    sc.setLocalProperty(PHASE_KEY, "traced")  # tags every job of the traced cycles
    traced_s: list[float] = []
    t_end = time.perf_counter() + half
    while not traced_s or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        attempted += 1
        try:
            ok = wl.traced_cycle(k, tr)
        except Exception:  # recorded; the traced loop goes on
            ok = False
            errors.append(traceback.format_exc(limit=3))
        traced_s.append(time.perf_counter() - t0)
        failed += not ok
        k += 1
    sc.setLocalProperty(PHASE_KEY, None)
    wl.finish_trace(tr)
    stop_spark(spark)
    log_dir = os.path.join(run_dir, "eventlog")
    (log,) = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    groups = eventlog.read_log(log)
    layers = eventlog.merge_layers(groups, wl.name)
    # the layer groups' task CPU must account for the executor CPU of
    # every job the traced cycles ran (read from the stage aggregates)
    cpu_layers = sum(rec["cpu_s"] for rec in layers.values())
    cpu_phase = eventlog.phase_cpu(log, PHASE_KEY, "traced")
    unattributed = 1.0 - cpu_layers / cpu_phase
    wl.gates["layer_cpu_covers_traced_cpu"] = abs(unattributed) <= CPU_CHECK_TOLERANCE
    # the plain loop does not maintain clusters: leave the ops layer out
    traced_op_s = (
        statistics.median(traced_s) - tr.total("ops") / len(traced_s)
    ) / wl.cycle_ops
    metrics = {name: 0.0 for name in LAYER_METRICS}
    for layer in LAYER_GROUPS:
        calls = tr.calls(layer)
        rec = layers.get(layer, {})
        for m in ("jobs", "tasks", "run_s", "cpu_s", "wait_s", "spill_bytes"):
            metrics[f"{layer}.{m}"] = rec.get(m, 0) / calls if calls else 0.0
    metrics.update(wl.layer_metrics(groups, layers, tr))
    metrics.update(
        {
            "trace.plain_op_s": plain_op_s,
            "trace.traced_op_s": traced_op_s,
            "trace.overhead_s": traced_op_s - plain_op_s,
        }
    )
    unknown = set(metrics) - set(LAYER_METRICS)
    if unknown:
        raise RuntimeError(f"undeclared per-layer metrics: {sorted(unknown)}")
    detail.update(
        cpu_check={
            "layer_groups_cpu_s": cpu_layers,
            "traced_jobs_cpu_s": cpu_phase,
            "unattributed_share": unattributed,
            "tolerance": CPU_CHECK_TOLERANCE,
        },
        layers={
            name: {k: v for k, v in rec.items() if k != "ops"} for name, rec in layers.items()
        },
        traced_cycles=len(traced_s),
    )
    return metrics, attempted, failed, errors


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "geomesa_sql_spark", "__init__.py")):
        print(f"error: no geomesa_sql_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, exit_on_signal)
    run_dir = os.path.join(
        ROOT, ".perfbench_run", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    os.makedirs(run_dir)
    t0 = time.perf_counter()
    try:
        result, detail = run(args, run_dir)
        detail["wall_s"] = time.perf_counter() - t0
    finally:
        stop_descendants()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
