"""sparkg benchmark: one workload per invocation, one JSON result line.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The program under test is built from the
checkout's own source (``nerzo_spark`` is pure Python; nothing compiles).
The run:

- derives its cores from the CPU affinity mask and runs Spark on
  ``local[C]``, closed loop, one operation at a time, from one process;
- sets up (Spark session, Python-worker warm-up, inputs from ``--seed``
  and, for ``kg_build``, their gold triples) and reports the time as
  ``setup_s``;
- times operations for ``--seconds`` seconds, at least two: the first in
  the fresh JVM (``cold_op_s``), the rest warm (``op_s``, their median;
  ``items_per_s`` is a warm op's output over ``op_s``: triples for
  ``kg_build``, queries answered for ``catalog``);
- checks every operation's output and counts the ones that raise or fail a
  check in ``failed``;
- in the traced run, samples the summed PSS of its process tree (this
  process, the JVM and the Python workers), plus its bytes on tmpfs; the
  peak is a per-layer metric (``run.peak_mem_gb``), as JVM heap sizing
  moves it by +-20% between identical runs.

With ``--trace 1`` it turns on Spark's event log, attributes stage time to
``nerzo_spark`` layers (see ``eventlog.py``) and prints the per-layer
metrics instead.  The traced run then starts a second Spark session in the
same process, with the event log off, and times two more operations; the
second is the untraced baseline of ``trace.overhead_ratio``.

Everything the run writes goes under ``.perfbench_work/`` in the checkout
and is removed on every exit path.  The last line of standard output is
the result: ``{"correct", "attempted", "failed", "metrics"}``; the resolved
run settings are printed on the line before it.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
MIN_OPS = 2  # a cold op and at least one warm one
MEM_SAMPLE_S = 0.25
STOP_WAIT_S = 30.0


END_TO_END_UNITS = {"setup_s": "s", "cold_op_s": "s", "op_s": "s", "items_per_s": "1/s"}


# ------------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _cpu_times() -> list[int]:
    """The machine's CPU times (user nice system idle iowait irq softirq
    steal), from the first line of /proc/stat."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _tmpfs_bytes(path: str) -> int:
    """Bytes under ``path`` if it lives on a tmpfs (which is memory)."""
    best, fstype = "", ""
    try:
        with open("/proc/mounts") as fh:
            for line in fh:
                parts = line.split()
                mnt = parts[1]
                if path.startswith(mnt) and len(mnt) > len(best):
                    best, fstype = mnt, parts[2]
    except OSError:
        return 0
    if fstype != "tmpfs":
        return 0
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


class MemorySampler(threading.Thread):
    """Peak of the summed PSS of this process and its descendants."""

    def __init__(self, work: str):
        super().__init__(daemon=True)
        self.work = work
        self.peak = 0
        self._stop_evt = threading.Event()

    def sample(self) -> int:
        kids = _children()
        todo, total = [os.getpid()], 0
        while todo:
            pid = todo.pop()
            total += _pss_bytes(pid)
            todo.extend(kids.get(pid, []))
        return total + _tmpfs_bytes(self.work)

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self.sample())
            self._stop_evt.wait(MEM_SAMPLE_S)

    def stop(self) -> int:
        self._stop_evt.set()
        if self.ident is not None:
            self.join(timeout=10)
        return self.peak


# ----------------------------------------------------------------- session


def start_session(work: str, cores: int, eventlog_dir: str | None):
    from nerzo_spark.session import get_spark, warm_python_workers

    extra = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    else:
        # spark-submit passed an earlier session's confs to the JVM as
        # system properties, and a new SparkConf loads them: say it outright
        extra["spark.eventLog.enabled"] = "false"
    t0 = time.time()
    spark = get_spark("perfbench", master=f"local[{cores}]", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    warm_python_workers(spark)
    return spark, t1 - t0, time.time() - t1


def resolved_conf(spark, cores: int) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "cores": cores,
        "master": conf.get("spark.master"),
        "spark.driver.memory": conf.get("spark.driver.memory", None),
        "spark.sql.inMemoryColumnarStorage.compressed":
            spark.conf.get("spark.sql.inMemoryColumnarStorage.compressed"),
        "spark.sql.shuffle.partitions": spark.conf.get("spark.sql.shuffle.partitions"),
    }


def stop_jvm() -> None:
    """End the JVM PySpark launched, and wait for it and its Python workers."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    kids = _children()
    todo, tree = [proc.pid], []
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(kids.get(pid, []))
    try:
        gateway.shutdown()
    except Exception:  # the gateway may already be closed
        pass
    try:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=STOP_WAIT_S)
    except Exception:
        proc.kill()
        proc.wait(timeout=STOP_WAIT_S)
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.time() + STOP_WAIT_S
    for pid in tree:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            try:
                os.kill(pid, signal.SIGKILL if time.time() > deadline - 5 else 0)
            except OSError:
                break
            time.sleep(0.05)


# --------------------------------------------------------------- operations


def run_ops(wl, seconds: float, min_ops: int, start_index: int = 0) -> list:
    from workloads import CheckFailed, Op

    ops = []
    deadline = time.time() + seconds
    while len(ops) < min_ops or time.time() < deadline:
        op = Op(index=start_index + len(ops))
        op.t0 = time.time()
        try:
            wl.op(op)
            op.t1 = time.time()
            wl.check(op)
        except CheckFailed as exc:
            op.ok, op.error = False, str(exc)
        except Exception as exc:  # an op that raises counts as failed; go on
            op.t1 = op.t1 or time.time()
            op.ok, op.error = False, f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        if not op.ok:
            print(f"op {op.index} failed: {op.error}", file=sys.stderr)
        ops.append(op)
    return ops


def e2e_metrics(setup_s: float, ops: list) -> dict[str, float]:
    good = [o for o in ops if o.ok]
    warm = [o for o in good if o.index > 0] or good
    op_s = statistics.median(o.wall for o in warm) if warm else float("nan")
    rows = statistics.median(o.rows for o in warm) if warm else 0
    cold = ops[0].wall if ops and ops[0].ok else float("nan")
    return {
        "setup_s": setup_s,
        "cold_op_s": cold,
        "op_s": op_s,
        "items_per_s": rows / op_s if op_s and op_s == op_s else float("nan"),
    }


# --------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "nerzo_spark")):
        print(f"perfbench: no nerzo_spark package under {ROOT}; run it from the "
              "root of a sparkg checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # inherited by the JVM and through it by the Python workers
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM, the spark-submit launcher's too, keeps its files here
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                             "-XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cores),
    })

    def _on_term(signum, frame):
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, _on_term)
    sampler = MemorySampler(work)
    spark = None
    try:
        # reading the JVM's smaps takes its mmap lock, so only the traced
        # run, which reports the peak, samples
        if args.trace:
            sampler.start()
        load_start, cpu_start = os.getloadavg(), _cpu_times()
        eventlog_dir = os.path.join(work, "eventlog") if args.trace else None
        spark, t_session, t_warm = start_session(work, cores, eventlog_dir)
        conf = resolved_conf(spark, cores)
        run = workloads.Run(spark, args.workload, args.seed, work, cores)
        wl = workloads.WORKLOADS[args.workload](run)
        failures: list[str] = []
        package_dir = os.path.join(ROOT, "nerzo_spark")
        tracing = contextlib.ExitStack()
        if args.trace:
            import driver_trace

            tracing.enter_context(driver_trace.eager_call_sites())
            stacks = driver_trace.StackSampler(package_dir)
            stacks.start()
            tracing.callback(stacks.stop)
        with tracing:
            wl.setup()
            # a traced run makes a second warm op: the one that, like the
            # untraced baseline, has two ops before it in the JVM
            ops = run_ops(wl, args.seconds, MIN_OPS + args.trace)
            try:
                wl.finish()
            except Exception as exc:  # a failed check is reported, not fatal
                failures.append(f"{type(exc).__name__}: {exc}")
                traceback.print_exc(file=sys.stderr)
            if args.trace:
                micro = wl.micro_slice()
                try:
                    cycle = wl.incremental_cycle()
                except Exception as exc:  # a failed cycle is reported, not fatal
                    cycle = None
                    failures.append(f"incremental cycle: {type(exc).__name__}: {exc}")
                    traceback.print_exc(file=sys.stderr)
        setup_s = t_session + t_warm + sum(run.setup_times.values())

        if args.trace:
            import trace_report

            spark.stop()
            spark = None
            evfile = trace_report.single_log(eventlog_dir)
            logs = sorted(os.listdir(eventlog_dir))
            # the untraced baseline: a second session in the same JVM; its
            # first op meets a new SparkContext, its second is the warm one
            spark, _, _ = start_session(work, cores, None)
            if spark.sparkContext.getConf().get("spark.eventLog.enabled") != "false":
                raise RuntimeError("the untraced session has the event log on")
            run.spark = spark
            wl.rebind(spark)
            untraced = run_ops(wl, 0, MIN_OPS, start_index=len(ops))
            if sorted(os.listdir(eventlog_dir)) != logs:
                raise RuntimeError("the untraced session wrote an event log")
            metrics, layer_walls = trace_report.per_layer(
                evfile, package_dir, args.workload, stacks.intervals(), ops,
                untraced, micro,
                {"session.get_spark_s": t_session, "session.warm_workers_s": t_warm,
                 "fixtures.corpus_gen_s": run.setup_times.get("corpus_gen", 0.0),
                 "fixtures.gold_check_s": run.check_times.get("gold_check", 0.0)},
                cycle,
            )
            ops = ops + untraced
        else:
            metrics, layer_walls = None, []
        spark.stop()
        spark = None
        peak = sampler.stop()
        if metrics is None:
            metrics = e2e_metrics(setup_s, ops)
            units = END_TO_END_UNITS
        else:
            metrics["run.peak_mem_gb"] = peak / 1e9
            units = trace_report.PER_LAYER_UNITS
        failed = sum(1 for o in ops if not o.ok)
        correct = failed == 0 and not failures and all(
            v == v for v in metrics.values())
        cpu = [b - a for a, b in zip(cpu_start, _cpu_times())]
        print(json.dumps({
            "workload": args.workload, "seed": args.seed, "conf": conf,
            "setup": {"get_spark": t_session, "warm_workers": t_warm, **run.setup_times},
            "loadavg_start": load_start, "loadavg_end": os.getloadavg(),
            # time the CPUs waited while the hypervisor ran other guests, as a
            # share of the run's CPU time: a noisy neighbour shows up here
            "steal_share": cpu[7] / max(sum(cpu), 1),
            "ops": [{"i": o.index, "s": o.wall, "ok": o.ok, "rows": o.rows,
                     **o.counters} for o in ops],
            "failures": failures + [o.error for o in ops if not o.ok],
            **({"layer_walls": layer_walls} if layer_walls else {}),
        }))
        print(json.dumps({
            "correct": bool(correct),
            "attempted": len(ops),
            "failed": failed,
            "metrics": {m: {"value": float(v), "unit": units[m]}
                        for m, v in metrics.items()},
        }))
        return 0
    finally:
        sampler.stop()
        if spark is not None:
            try:
                spark.stop()
            except Exception:  # the JVM may already be gone on an error path
                traceback.print_exc(file=sys.stderr)
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
