#!/usr/bin/env python3
"""Closed-loop benchmark of the engine: one client, one process.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 18 --trace 0

A run is hermetic: it generates its inputs from ``--seed`` under
``perfbench/.work/``, starts the engine's own ``local[<cores>]`` session with
the driver heap sized to the box, and keeps Spark's scratch, warehouse and
sink staging under the same directory, which it deletes at exit.

Set-up is the cold start a user pays: session (and JVM) start, package
import and one warm-up pass that collects every op's output; those outputs
are checked (see ``checks.py``) outside the set-up timing. The timed loop
then runs the workload's op list pass after pass, in a seed-shuffled order,
until ``--seconds`` have passed and at least 34 ops have run; every op is
``QUERIES[key].fn(spark, data_dir)`` followed by a ``noop``-sink write.
Every op and pass is timed in wall time and in the engine's CPU time less
JVM compile time (see ``work_cpu_s``); the JSON carries the CPU-time
figures, which do not depend on how busy the machine's other tenants are.

With ``--trace 1`` the run alternates traced and untraced passes, wraps the
engine's layer entry points (see ``tracing.py``), turns on the Spark event
log, and reports the per-layer metrics instead of the end-to-end ones.
The last line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "classification_problem_with_pyspark_spark"
PERCENTILES = (50, 70, 75, 90, 95, 99, 99.9)
TAIL_BEYOND = 10  # samples the tail percentile must have beyond it
TAIL_MIN_SAMPLES = 34  # so the tail is at least p70; fixes the percentile, see tail()
CLOCK_TICKS = os.sysconf("SC_CLK_TCK")


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=None, help="override the table scale")
    return p.parse_args(argv)


# -- the box -------------------------------------------------------------


def box_cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_heap() -> str:
    """An eighth of the box's memory, between 1 and 4 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(max(total_kb // 1024 // 8, 1024), 4096)}m"


def hermetic_env(work: str, trace: bool) -> None:
    """Environment the engine and Spark read at start-up, all under ``work``."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "stage", "local", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    heap = driver_heap()
    os.environ.update(
        SPARK_GRAFT_CPUS=str(box_cores()),
        SPARK_GRAFT_DRIVER_MEM=heap,
        SPARK_GRAFT_TMP=os.path.join(work, "stage"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=tmp,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    # the heap starts at its maximum: when the JVM grows it depends on how
    # GC timing falls, and that made peak RSS differ by up to 40% between runs
    submit = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap}",
    ]
    if trace:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{os.path.join(work, 'eventlog')}",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    tempfile.tempdir = tmp  # gettempdir() may have cached /tmp already


# -- processes -----------------------------------------------------------


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of (JVM VmHWM + VmHWM of the JVM's live Python workers)."""

    def __init__(self, jvm_pid: int, period_s: float = 1.0) -> None:
        self.jvm_pid, self.period_s = jvm_pid, period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        kb = vm_hwm_kb(self.jvm_pid) + sum(vm_hwm_kb(p) for p in descendants(self.jvm_pid))
        self.peak_kb = max(self.peak_kb, kb)

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def shutdown_spark() -> None:
    """Stop Spark, end the gateway JVM and wait for every process under it.
    Does nothing when no gateway is up, so it is safe to call twice."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    workers = descendants(proc.pid) if proc is not None else []
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for pid in workers:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def proc_cpu_s(pid: int) -> float:
    """CPU time of a process and of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / CLOCK_TICKS


def engine_cpu_s(jvm_pid: int | None) -> float:
    """CPU seconds used so far by the engine: this driver process, the JVM
    and every Python worker under it. Time the hypervisor steals and other
    tenants' use of the machine do not count, so unlike wall time it does
    not grow when the machine is shared."""
    if jvm_pid is None:
        return proc_cpu_s(os.getpid())
    return sum(proc_cpu_s(p) for p in (os.getpid(), jvm_pid, *descendants(jvm_pid)))


def jvm_pid_of(spark) -> int:
    return spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()


def work_cpu_s(spark, jvm_pid: int) -> float:
    """The engine's CPU seconds less the JVM's compile time: what the ops
    themselves cost once the just-in-time compiler has caught up."""
    return engine_cpu_s(jvm_pid) - jit_s(spark)


def jit_s(spark) -> float:
    """Time the JVM has spent compiling bytecode so far (JMX)."""
    jvm = spark.sparkContext._jvm
    return jvm.java.lang.management.ManagementFactory.getCompilationMXBean().getTotalCompilationTime() / 1e3


# -- the engine ----------------------------------------------------------


def materialize(df) -> None:
    w = df.write.mode("overwrite").format("noop")
    w._perfbench_own = True  # the tracer leaves the benchmark's own sink out
    w.save()


class Collected:
    """An op's output, collected once, that the checks can read again."""

    def __init__(self, df) -> None:
        self.rows = df.collect()
        self.columns = df.columns

    def collect(self) -> list:
        return self.rows


def setup_once(ops: list[str], data_dir: str, checker):
    """The set-up: start the session, import the package and run one warm-up
    pass that collects every op's output. ``checker`` checks those outputs
    outside the timing; returns ``{op: failure message}`` for bad ones."""
    cpu0, t0 = engine_cpu_s(None), time.perf_counter()
    session = importlib.import_module(f"{PACKAGE}.session")
    spark = session.get_spark(app_name="perfbench")
    spark.range(1).count()
    jvm_pid = jvm_pid_of(spark)
    t1 = time.perf_counter()
    registry = importlib.import_module(f"{PACKAGE}.registry")
    registry.load_all_modules()
    t2 = time.perf_counter()
    warmup, cpu, bad = 0.0, engine_cpu_s(jvm_pid) - cpu0, {}
    for op in ops:
        query = registry.QUERIES[op]
        cpu0, t = engine_cpu_s(jvm_pid), time.perf_counter()
        try:
            out = Collected(query.fn(spark, data_dir))
        except Exception as e:
            bad[op] = f"{op}: raised {type(e).__name__}: {e}"
            continue
        finally:
            warmup += time.perf_counter() - t
            cpu += engine_cpu_s(jvm_pid) - cpu0
        try:
            ok, msg = checker.check(op, query, out)
        except Exception as e:
            ok, msg = False, f"{op}: check raised {type(e).__name__}: {e}"
        if not ok:
            bad[op] = msg
    times = {"session_s": t1 - t0, "import_s": t2 - t1, "warmup_s": warmup}
    times["total_s"] = sum(times.values())
    times["cpu_s"] = cpu
    return spark, jvm_pid, registry.QUERIES, times, bad


def run_op(spark, query, data_dir: str, tracer, op_id: str) -> None:
    if tracer is None:
        materialize(query.fn(spark, data_dir))
        return
    from tracing import GROUP_PREFIX

    sc = spark.sparkContext
    root = tracer.begin("op")
    tracer.set_op(op_id, root)
    try:
        sc.setJobGroup(f"{GROUP_PREFIX}{op_id}|build", "perfbench build")
        with tracer.span("operators.build"):
            df = query.fn(spark, data_dir)
        sc.setJobGroup(f"{GROUP_PREFIX}{op_id}|exec", "perfbench exec")
        with tracer.span("exec.materialize"):
            materialize(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        tracer.end(root)
        tracer.set_op(None, None)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "workloads.json")) as f:
        config = json.load(f)
    if args.workload not in config["workloads"]:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ops = config["workloads"][args.workload]["ops"]

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import checks
    import datagen

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    hermetic_env(work, bool(args.trace))
    data_dir = os.path.join(work, "data")
    datagen.write(data_dir, args.scale or config["scale"], args.seed)
    os.chdir(work)  # spark-warehouse, metastore_db and derby.log land here

    checker = checks.Checker(ROOT, data_dir, config["rows_only_checks"])
    try:
        spark, jvm_pid, queries, setup, bad = setup_once(ops, data_dir, checker)
        for msg in bad.values():
            print(f"perfbench: output check failed: {msg}", file=sys.stderr)
        with RssSampler(jvm_pid) as rss:
            result = measure(args, spark, jvm_pid, queries, ops, data_dir)
        result.update(setup=setup, bad=bad, rss=rss)
        if args.trace:  # the event log is complete once Spark has stopped
            shutdown_spark()
            finish_trace(result, work)
            spans = os.path.join(HERE, ".work", "trace")
            os.makedirs(spans, exist_ok=True)
            result["tracer"].dump(os.path.join(spans, f"{args.workload}-seed{args.seed}.jsonl"))
    finally:
        checker.close()
        shutdown_spark()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    emit(result, bench, args)
    return 0


def measure(args, spark, jvm_pid: int, queries, ops: list[str], data_dir: str) -> dict:
    """The timed loop: whole passes until ``args.seconds`` have passed."""
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
    rng = random.Random(args.seed)
    latencies: dict[str, list[float]] = {op: [] for op in ops}
    passes: list[tuple[bool, float]] = []
    raised: dict[str, int] = {}
    # enough op samples for a p70 tail, so runs of a workload report the
    # same percentile; a traced run also needs its warming pass 0 and one traced
    # and one untraced pass after it
    min_passes = max(math.ceil(TAIL_MIN_SAMPLES / len(ops)), 3 if tracer is not None else 2)
    gc_start = jvm_gc_s(spark)
    start = time.perf_counter()
    while True:
        order = ops[:]
        rng.shuffle(order)
        # pass 0 still warms up: it runs untraced and is left out of the
        # overhead ratio; later passes alternate traced and untraced
        traced = tracer is not None and len(passes) % 2 == 1
        if traced:
            tracer.install(spark)
        cpu_pass, t_pass = work_cpu_s(spark, jvm_pid), time.perf_counter()
        for op in order:
            cpu_op, t_op = work_cpu_s(spark, jvm_pid), time.perf_counter()
            try:
                run_op(spark, queries[op], data_dir, tracer if traced else None, f"{len(passes)}:{op}")
            except Exception as e:  # an op that raises is a failed op, not a crash
                raised[op] = raised.get(op, 0) + 1
                print(f"perfbench: {op} raised {type(e).__name__}: {e}", file=sys.stderr)
                continue
            wall = time.perf_counter() - t_op
            latencies[op].append((wall, work_cpu_s(spark, jvm_pid) - cpu_op))
        wall = time.perf_counter() - t_pass
        passes.append((traced, (wall, work_cpu_s(spark, jvm_pid) - cpu_pass)))
        if traced:
            tracer.uninstall()
        if time.perf_counter() - start >= args.seconds and len(passes) >= min_passes:
            break
    gc_s = jvm_gc_s(spark) - gc_start
    return {"passes": passes, "latencies": latencies, "raised": raised, "tracer": tracer,
            "gc_s": gc_s, "planned": min_passes * len(ops)}


def jvm_gc_s(spark) -> float:
    """Collection time of the JVM's garbage collectors so far; in local mode
    the driver JVM is also the only executor."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1e3


def finish_trace(result: dict, work: str) -> None:
    """Reduce the event log and the spans to the per-layer metrics."""
    import tracing

    groups = tracing.read_event_log(os.path.join(work, "eventlog"))
    result["per_layer"] = tracing.per_layer(
        result["tracer"], groups,
        [t for traced, (t, _) in result["passes"] if traced],
        [t for traced, (t, _) in result["passes"][1:] if not traced],
        result["setup"], box_cores(), result["gc_s"] / len(result["passes"]),
    )


def tail(latencies: list[float], planned: int) -> tuple[float, float]:
    """(percentile, value): the highest of PERCENTILES with at least
    TAIL_BEYOND samples beyond it, nearest rank; the maximum if none.
    The percentile is chosen for the ``planned`` minimum sample count, not
    for the count a run happened to reach, so that every run of a workload
    reports the same percentile however many passes fit in its time."""
    xs = sorted(latencies)
    n = len(xs)
    fit = [p for p in PERCENTILES if min(n, planned) * (1 - p / 100) >= TAIL_BEYOND]
    if not fit:
        return 100.0, xs[-1]
    p = fit[-1]
    return p, xs[max(math.ceil(p / 100 * n) - 1, 0)]


def emit(result: dict, bench: dict, args) -> None:
    lat_by_op = result["latencies"]
    lat = [x for xs in lat_by_op.values() for x in xs]
    passes = [x for _, x in result["passes"]]
    raised, bad = result["raised"], result["bad"]
    attempted = len(lat) + sum(raised.values())
    failed = sum(raised.values()) + sum(len(lat_by_op[op]) for op in bad)
    pct, tail_wall = tail([w for w, _ in lat], result["planned"])
    _, tail_cpu = tail([c for _, c in lat], result["planned"])
    e2e = {
        "setup_s": result["setup"]["cpu_s"],
        "pass_cpu_s": statistics.median(c for _, c in passes),
        "op_cpu_p50_s": statistics.median(c for _, c in lat),
        "op_cpu_tail_s": tail_cpu,
        "peak_rss_mb": result["rss"].peak_kb / 1024,
    }
    wall = {
        "setup_wall_s": result["setup"]["total_s"],
        "pass_s": statistics.median(w for w, _ in passes),
        "op_latency_p50_s": statistics.median(w for w, _ in lat),
        "op_latency_tail_s": tail_wall,
    }
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    print(f"workload {args.workload} seed {args.seed}: passes (wall/cpu s) "
          + ", ".join(f"{w:.3f}/{c:.3f}" for w, c in passes) + "; set-up "
          + ", ".join(f"{k} {v:.3f}" for k, v in result["setup"].items()))
    for op, xs in lat_by_op.items():
        med = (f"wall {statistics.median(w for w, _ in xs):.4f} s, "
               f"cpu {statistics.median(c for _, c in xs):.4f} s") if xs else "-"
        print(f"  op {op:<32} median {med}  n={len(xs)}")
    tail_note = f"  (p{pct:g}, n={len(lat)})"
    for name, value in e2e.items():
        print(f"  {name:<28} {value:.6g} {units[name]}{tail_note if 'tail' in name else ''}")
    for name, value in wall.items():
        print(f"  {name:<28} {value:.6g} s (wall){tail_note if 'tail' in name else ''}")
    print(f"  {'op_fail_ratio':<28} {failed / attempted:.6g} ratio  ({failed}/{attempted})")
    if args.trace:
        layer = result["per_layer"]
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]} for m in bench["per_layer"]}
        for name, m in metrics.items():
            print(f"  {name:<28} {m['value']:.6g} {m['unit']}")
        print(f"  tracing overhead: traced passes take {layer['trace.overhead_ratio']:.4f}x "
              "the wall time of the untraced ones of the same run")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    print(json.dumps({
        "correct": not raised and not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
