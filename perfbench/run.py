"""s3parq_spark benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload {ingest,serve,index} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout: the engine is imported from
``./s3parq_spark`` and the oracle normalisation from
``./scripts/check_oracle.py``. Everything the run writes (generated
inputs, datasets, Spark scratch, the event log) lives under
``.perfbench_work/`` in the checkout and is removed at exit.

The run generates its inputs from ``--seed``, sets up (session, oracle
precompute, the workload's fixture several times, an untimed warm-up),
runs the workload's closed loop for ``--seconds`` with one client thread, checks
every result, and prints a table of named figures followed by ONE JSON
line: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` wraps the engine's layer
modules in spans, turns on the Spark event log, and reports the
per-layer metrics instead. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
#: data scale of the generated tables (lineitem rows = 6M x SCALE)
SCALE = 0.01
#: times the repeatable part of set-up runs; setup_s uses the median
SETUP_REPS = 3
#: driver heap: the engine's default (``session.get_spark``), reserved at
#: start (not touched) so the heap never resizes during a run
DRIVER_MEM = "8g"
#: young generation, pinned: with G1 sizing heap and young generation
#: adaptively, peak RSS moved 20-50% between seeds of the same workload;
#: pinned, it follows the data the run keeps
YOUNG_GEN = "512m"


def _process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as fh:
        ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(l.split()[1]) for l in fh if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> list:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages split among their sharers."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(pid: int) -> list:
    """Pids of every live process below ``pid`` (the JVM's Python workers)."""
    kids = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


def _jvm_heap_peak_mb(spark) -> float:
    """Sum of the JVM heap pools' peak use since start: an upper bound of
    the heap the run held at once (the pools peak at different times)."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    total = 0
    for pool in mf.getMemoryPoolMXBeans():
        if pool.getType().name() == "HEAP":
            total += pool.getPeakUsage().getUsed()
    return total / 2**20


def _configure_env(work: str, trace: bool, cpus: int) -> None:
    """Process environment for the Spark driver JVM and its Python
    workers: private scratch dirs in the checkout, the checkout on the
    workers' import path (``mapInArrow`` workers import s3parq_spark), and
    — for the traced run only — an uncompressed, non-rolling event log,
    all through submit-time conf."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    confs = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -Xmn{YOUNG_GEN}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


def _stop_jvm(spark) -> None:
    """Stop Spark and the JVM the session launched, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    # the gateway JVM exits when its stdin closes
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def run(args, work: str) -> tuple:
    proc_t0 = _process_start()
    cpu0 = _cpu_times()
    cpus = len(os.sched_getaffinity(0))
    _configure_env(work, bool(args.trace), cpus)
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "scripts")]

    import datagen

    data_dir = os.path.join(work, "data")
    rows = datagen.generate(data_dir, args.seed, SCALE)

    t = time.time()
    from s3parq_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench_{args.workload}")
    session_start_s = time.time() - t
    try:
        return _measure(args, work, spark, data_dir, rows, proc_t0, cpu0, cpus,
                        session_start_s)
    finally:
        _stop_jvm(spark)


def _measure(args, work, spark, data_dir, rows, proc_t0, cpu0, cpus, session_start_s):
    from harness import Bench, tail
    from workloads import WORKLOADS

    trace = bool(args.trace)
    rec = None
    b = Bench(spark, args.seed, float(args.seconds))
    wl = WORKLOADS[args.workload](b, data_dir, work, rows)
    wl.once()
    reps, state = [], None
    for k in range(SETUP_REPS):
        t = time.time()
        new = wl.fixture(k)
        reps.append(time.time() - t)
        if state is not None and state != new and isinstance(state, str):
            shutil.rmtree(state, ignore_errors=True)
        state = new
    if trace:
        from spans import Recorder

        rec = Recorder(spark)
        wrapped = rec.install()
        b.rec = rec
    t_loop = time.time()
    wl.loop(state)
    window_s = time.perf_counter() - b.t_start
    warmup_s = b.t_first - t_loop  # the loop's untimed warm-up
    # setup_s: process start to first timed op, with the repeated fixture
    # set-up counted once at its median
    setup_s = b.t_first - proc_t0 - sum(reps) + statistics.median(reps)
    named = wl.report(state)
    # peak RSS of this process and its JVM; the JVM's Python workers come
    # and go with the tasks, and share most of their pages with the daemon
    # they fork from, so they are reported apart, by proportional size
    from pyspark import SparkContext

    peak_kb = _vm_hwm_kb(os.getpid())
    workers_kb = 0
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        peak_kb += _vm_hwm_kb(proc.pid)
        workers_kb = sum(_pss_kb(p) for p in _descendants(proc.pid))
    heap_mb = _jvm_heap_peak_mb(spark)
    sidecar = os.path.join(wl.dataset, "_s3parq_metadata.json") if wl.dataset else None
    sidecar_bytes = os.path.getsize(sidecar) if sidecar and os.path.exists(sidecar) else 0
    if rec is not None:
        rec.resolve_fetch_files()
        rec.uninstall()
    spark.stop()  # also closes the event log
    cpu1 = _cpu_times()

    ops = b.ops
    attempted, failed = len(ops), sum(1 for o in ops if not o.ok)
    prim = wl.primary_times()
    if not prim:
        raise RuntimeError("no primary op completed")
    tail_v, tail_p = tail(prim)
    d = [y - x for x, y in zip(cpu0, cpu1)]
    steal = d[7] / max(1, sum(d[:8])) if len(d) > 7 else 0.0
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_p50_s": (statistics.median(prim), "s"),
        "op_tail_s": (tail_v, "s"),
        "ops_per_s": (len(b.in_window()) / window_s, "1/s"),
        "peak_rss_mb": (peak_kb / 1024.0, "MB"),
    }
    table = [(k, v, u) for k, (v, u) in e2e.items()]
    table.append(("op_tail_pct", tail_p, f"percentile of n={len(prim)} {wl.primary_name} ops (p50 when n < 20)"))
    table.append(("error_rate", failed / attempted, "ratio"))
    table += named
    table += [("session.start_s", session_start_s, "s"), ("session.warmup_s", warmup_s, "s"),
              ("setup.fixture_reps_s", statistics.median(reps), "s"),
              ("jvm.heap_peak_mb", heap_mb, "MB"),
              ("python_workers.pss_mb", workers_kb / 1024.0, "MB"),
              ("host.nproc", cpus, "count"), ("host.steal_share", steal, "ratio")]
    if trace:
        from layers import per_layer

        table.append(("trace.wrapped_functions", wrapped, "count"))
        metrics = per_layer(rec, b, wl, os.path.join(work, "eventlog"), {
            "session.start_s": session_start_s, "session.warmup_s": warmup_s,
            "metadata.sidecar_bytes": sidecar_bytes, "jvm.heap_peak_mb": heap_mb,
            "python_workers.pss_mb": workers_kb / 1024.0,
            "traced.op_p50_s": e2e["op_p50_s"][0], "traced.op_tail_s": tail_v,
            "traced.ops_per_s": e2e["ops_per_s"][0], "traced.setup_s": setup_s,
        })
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    return table, result


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["ingest", "serve", "index"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    for need in ("s3parq_spark/__init__.py", "scripts/check_oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from the root of a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        table, result = run(args, work)
    except Exception:  # noqa: BLE001 — any failure: no result line
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for name, value, unit in table:
        print(f"# {name:<28} {value:>14.6g}  {unit}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
