"""Benchmark entry point.

    python3 perfbench/run.py --workload build_append --seed 1 --seconds 10 \\
        --trace 0

Run from the root of a checkout. Generates the workload's inputs from the
seed (cached in ``.bench_work/cache``), starts one Spark session at
``local[<nproc>]``, sets the workload up, then issues operations one after
another until ``--seconds`` of operation time have been measured (at least
one operation), checking every operation's output. The last line of
standard output is one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
program's module boundaries in spans, enables Spark's event log and
reports the per-layer metrics instead, plus a span table on standard
error. Machine context (nproc, load average, a CPU calibration probe) and
the per-operation record go to standard error and to
``.bench_work/runs/``, not into the metrics. See README.md.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REQUIRED = ("apollo_spark/__init__.py", "__spark_entry__.py",
            "tools/check_entry.py", "tools/cpu_calibration.py")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def machine_context() -> dict:
    """Load average and a 1->nproc CPU throughput probe: context for
    telling a slow machine from slow code, never a metric."""
    from tools.cpu_calibration import measure
    n = _cores()
    probe = measure(pairs=((1, n),), secs=0.5, trials=1)[f"1->{n}"]
    return {"loadavg": list(os.getloadavg()), "cpu_eff": probe["eff"],
            "cpu_tp_1": probe["tp_lo"], f"cpu_tp_{n}": probe["tp_hi"]}


def _descendants(pid: int) -> list[int]:
    parent: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        parent.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = parent.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Summed peak resident memory of this process, the JVM and the Python
    workers alive now."""
    me = os.getpid()
    return sum(_peak_rss_kb(p) for p in [me] + _descendants(me)) / 1024.0


def _reset_peak_rss() -> None:
    # input generation ran in this process; its memory is not the
    # program's (Linux resets VmHWM on writing 5 to clear_refs)
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _touch(it):
    import numpy  # noqa: F401  (forces the worker-side import)
    yield from it


def warm_up(spark, cores: int) -> None:
    """Fork every Python worker and run one SQL aggregation, so the first
    operation does not pay worker start-up."""
    (spark.range(cores * 4, numPartitions=cores)
     .mapInPandas(_touch, "id long")
     .write.format("noop").mode("overwrite").save())
    spark.range(10_000).selectExpr("sum(id)").collect()


def stop(spark) -> None:
    """Stop Spark (``spark`` may be None if the session never came up),
    then the JVM it launched, and wait until the JVM has ended. The Python
    workers the JVM started are left to ``reap``."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def adopt_orphans() -> None:
    """Make this process the parent of every orphan among its descendants
    (Linux ``PR_SET_CHILD_SUBREAPER``), so that ``reap`` can wait for the
    Python workers that outlive the JVM that started them."""
    import ctypes
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def reap(grace: float = 20.0) -> None:
    """Wait until no process this one started, directly or not, is left;
    kill those still running after ``grace`` seconds."""
    deadline = time.time() + grace
    while True:
        while True:  # collect the exit status of every ended child
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = _descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except OSError:
                    pass
        time.sleep(0.05)


def _spark_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, f"eventlog-{os.getpid()}")
        os.makedirs(log_dir)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{log_dir}",
                     "spark.eventLog.compress": "false"})
    return conf


END_TO_END_UNITS = {"wall_s": "s", "rows_per_s": "rows/s", "setup_s": "s",
                    "ok_ratio": "ratio", "dup_pair_recall": "ratio"}


def per_layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith(("_ratio", "_yield")):
        return "ratio"
    if name.endswith("_mb"):
        return "MB"
    return "count"


def main(argv=None) -> int:
    adopt_orphans()
    try:
        return _main(argv)
    finally:
        reap()


def _main(argv) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in REQUIRED if not os.path.exists(
        os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the repository, missing "
              f"{', '.join(missing)} under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import WORK
    from perfbench.workloads import HEADLINE, WORKLOADS, Outcome
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(WORKLOADS)}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    cores = _cores()
    for sub in ("tmp", "spark-local", "runs"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    # Python workers import the program from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # scratch files of Python, Spark and both JVMs (spark-submit's launcher
    # and the driver) stay in the checkout
    tmp = os.path.join(WORK, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-Djava.io.tmpdir={tmp} "
                                         "-XX:-UsePerfData")

    t0 = time.time()
    ctx_before = machine_context()
    inp = wl.inputs(args.seed)
    excluded = time.time() - t0
    _reset_peak_rss()

    from apollo_spark.session import get_spark
    from perfbench import trace
    tracer = trace.Tracer(enabled=bool(args.trace))
    outcomes: list[Outcome] = []
    spark = None
    try:
        with tracer.span("session.start"):
            spark = get_spark("perfbench", cores=cores,
                              extra_conf=_spark_conf(WORK, bool(args.trace)))
        spark.sparkContext.setLogLevel("ERROR")
        if args.trace:
            tracer.sc = spark.sparkContext
            trace.install(tracer, spark)
        phases = {"inputs_s": excluded, "session_s": time.time() - T_START
                  - excluded}
        t0 = time.time()
        warm_up(spark, cores)
        phases["warm_up_s"] = time.time() - t0
        wl.setup(spark, inp)
        setup_s = time.time() - T_START - excluded
        op_ids: list[int] = []
        while not outcomes or sum(o.seconds for o in outcomes) < \
                args.seconds:
            ctx = wl.prepare()
            err = None
            t_op = time.time()
            with tracer.span("op") as s:
                tracer.root = s.id if s else None
                try:
                    result = wl.op(spark, inp, ctx, tracer)
                except Exception as exc:  # counted, never dropped
                    err = exc
            tracer.root = None
            o = Outcome(time.time() - t_op)
            if s is not None:
                op_ids.append(s.id)
            if err is None:
                try:
                    wl.check(spark, inp, result, o)
                except Exception as exc:
                    o.fail(f"check raised {type(exc).__name__}: {exc}")
            else:
                o.fail(f"operation raised {type(err).__name__}: {err}")
            shutil.rmtree(os.path.join(WORK, "checkpoints"),
                          ignore_errors=True)
            outcomes.append(o)
        peak = peak_rss_mb()
        if args.trace:
            trace.count_edges(tracer)
    finally:
        t0 = time.time()
        stop(spark)
        phases["stop_s"] = time.time() - t0
    load_after = list(os.getloadavg())

    attempted = sum(o.attempted for o in outcomes)
    failed = sum(o.failed for o in outcomes)
    secs = [o.seconds for o in outcomes]
    if args.trace:
        log_dir = os.path.join(WORK, f"eventlog-{os.getpid()}")
        jobs = trace.read_event_log(log_dir)
        shutil.rmtree(log_dir)
        keys = {k for o in outcomes for k in o.extra}
        extra = {k: statistics.fmean(o.extra.get(k, 0.0) for o in outcomes)
                 for k in keys}
        values = trace.layer_metrics(tracer.spans, jobs, op_ids, cores,
                                     queries=HEADLINE, extra=extra)
        values["memory.peak_rss_mb"] = peak
        metrics = {k: {"value": v, "unit": per_layer_unit(k)}
                   for k, v in values.items()}
        trace.dump(tracer, jobs, os.path.join(
            WORK, "runs", f"trace-{args.workload}-s{args.seed}.json"))
        print(trace.report(tracer.spans, op_ids), file=sys.stderr)
    else:
        values = {
            "wall_s": statistics.median(secs),
            "rows_per_s": wl.rows_per_op * len(secs) / sum(secs),
            "setup_s": setup_s,
            "ok_ratio": 1.0 - failed / attempted,
            "dup_pair_recall": min(o.recall for o in outcomes),
        }
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                   for k, v in values.items()}
    record = {"workload": args.workload, "seed": args.seed,
              "trace": args.trace, "nproc": cores,
              "context_before": ctx_before, "loadavg_after": load_after,
              "phases": phases, "peak_rss_mb": peak,
              "ops": [{"seconds": o.seconds, "attempted": o.attempted,
                       "failed": o.failed, "recall": o.recall,
                       "errors": o.errors} for o in outcomes]}
    with open(os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-"
                           f"t{args.trace}-{os.getpid()}.json"), "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps(record), file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
