"""Traced-run tooling: spans around calls into the engine's layers, and the
Spark event log turned into per-layer execution counts.

Spans are recorded from outside the program: ``Tracer.install`` wraps the
public functions each layer exposes (``catalog.load`` in every module that
bound it by name, ``Estimator.fit``, ``Evaluator.evaluate`` and the
``DataFrameWriter`` file sinks) and ``Tracer.uninstall`` puts the originals
back, so untraced passes run the program unchanged. Spans stay in memory
until ``Tracer.dump``.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from dataclasses import asdict, dataclass

PACKAGE = "classification_problem_with_pyspark_spark"
WRITER_METHODS = ("save", "parquet", "csv", "text", "json", "orc", "saveAsTable", "insertInto")
GROUP_PREFIX = "perfbench|"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    op: str | None
    start: float
    end: float = 0.0


@dataclass
class WriteStat:
    bytes: int
    files: int


def _tree_size(path: str) -> WriteStat:
    """Data files under a sink's output path (Spark's _/. markers skipped)."""
    if not isinstance(path, str) or not os.path.exists(path):
        return WriteStat(0, 0)
    if os.path.isfile(path):
        return WriteStat(os.path.getsize(path), 1)
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return WriteStat(total, files)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.writes: list[WriteStat] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._fallback_parent: Span | None = None
        self._originals: list[tuple[object, str, object]] = []
        self.op: str | None = None

    # -- spans -----------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self._fallback_parent
        with self._lock:
            span = Span(len(self.spans), parent.id if parent else None, name, self.op, time.perf_counter())
            self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.s = tracer.begin(name)
                return self.s

            def __exit__(self, *exc):
                tracer.end(self.s)
                return False

        return _Ctx()

    def set_op(self, op: str | None, root: Span | None) -> None:
        """Name the op that later spans belong to; threads the op starts
        (e.g. CrossValidator's fit pool) parent their spans to ``root``."""
        self.op = op
        self._fallback_parent = root

    def depth(self, name: str) -> int:
        return sum(1 for s in self._stack() if s.name == name)

    # -- wrappers ----------------------------------------------------------
    def _patch(self, owner: object, attr: str, wrapper) -> None:
        self._originals.append((owner, attr, owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)))
        setattr(owner, attr, wrapper)

    def install(self, spark) -> None:
        from pyspark.ml.base import Estimator
        from pyspark.ml.evaluation import Evaluator
        from pyspark.sql.readwriter import DataFrameWriter

        catalog = sys.modules[f"{PACKAGE}.sources.catalog"]
        load = catalog.load
        tracer = self

        @functools.wraps(load)
        def traced_load(*a, **k):
            with tracer.span("catalog.load"):
                return load(*a, **k)

        for name, mod in list(sys.modules.items()):
            if name.startswith(PACKAGE) and getattr(mod, "load", None) is load:
                self._patch(mod, "load", traced_load)

        sc = spark.sparkContext
        fit = Estimator.__dict__["fit"]

        @functools.wraps(fit)
        def traced_fit(est, *a, **k):
            if tracer.depth("ml.fit"):
                with tracer.span("ml.fit.nested"):
                    return fit(est, *a, **k)
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(f"{GROUP_PREFIX}{tracer.op}|fit", "perfbench fit")
            try:
                with tracer.span("ml.fit"):
                    return fit(est, *a, **k)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", prev)

        self._patch(Estimator, "fit", traced_fit)

        evaluate = Evaluator.__dict__["evaluate"]

        @functools.wraps(evaluate)
        def traced_evaluate(ev, *a, **k):
            with tracer.span("ml.evaluate"):
                return evaluate(ev, *a, **k)

        self._patch(Evaluator, "evaluate", traced_evaluate)

        for meth in WRITER_METHODS:
            orig = DataFrameWriter.__dict__[meth]

            def make(orig=orig, meth=meth):
                @functools.wraps(orig)
                def traced_write(w, *a, **k):
                    if getattr(w, "_perfbench_own", False) or tracer.depth("sink.write"):
                        return orig(w, *a, **k)
                    path = k.get("path", a[0] if a else None)
                    with tracer.span("sink.write"):
                        out = orig(w, *a, **k)
                    if meth not in ("saveAsTable", "insertInto"):
                        self.writes.append(_tree_size(path))
                    return out

                return traced_write

            self._patch(DataFrameWriter, meth, make())

    def uninstall(self) -> None:
        while self._originals:
            owner, attr, orig = self._originals.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s.id] = (s.end - s.start) - covered
    return out


# -- event log -------------------------------------------------------------

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


def _acc(task_info: dict, name: str) -> int:
    for a in task_info.get("Accumulables", []):
        if a.get("Name") == name:
            try:
                return int(a.get("Update", 0))
            except (TypeError, ValueError):
                return 0
    return 0


def read_event_log(log_dir: str) -> dict:
    """Per job-group totals from every Spark event log under ``log_dir``.

    Only jobs whose group starts with ``GROUP_PREFIX`` (set by the runner
    around each traced op phase) are kept. Returns
    ``{group: {"jobs", "stages", "tasks", "single_task_stages", "run_s",
    "cpu_s", "overhead_s", "input_bytes", "input_records",
    "shuffle_write_bytes", "spill_bytes", "py_sent", "py_recv",
    "py_tasks"}}``.
    """
    groups: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)):
        if not os.path.isfile(path):
            continue
        stage_group: dict[int, str] = {}
        stage_tasks: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not g.startswith(GROUP_PREFIX):
                        continue
                    agg = groups.setdefault(g, _empty())
                    agg["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    g = stage_group.get(info["Stage ID"])
                    if g is None:
                        continue
                    n = info.get("Number of Tasks", 0)
                    stage_tasks[info["Stage ID"]] = n
                    groups[g]["stages"] += 1
                    groups[g]["single_task_stages"] += int(n == 1)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    agg = groups[g]
                    ti, tm = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    run_ms = tm.get("Executor Run Time", 0)
                    agg["tasks"] += 1
                    agg["run_s"] += run_ms / 1e3
                    agg["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    dur_ms = ti.get("Finish Time", 0) - ti.get("Launch Time", 0)
                    agg["overhead_s"] += max(dur_ms - run_ms, 0) / 1e3
                    inp = tm.get("Input Metrics") or {}
                    agg["input_bytes"] += inp.get("Bytes Read", 0)
                    agg["input_records"] += inp.get("Records Read", 0)
                    agg["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    agg["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    sent = _acc(ti, PY_SENT)
                    agg["py_sent"] += sent
                    agg["py_recv"] += _acc(ti, PY_RECV)
                    agg["py_tasks"] += int(sent > 0)
    return groups


def _empty() -> dict:
    return dict.fromkeys(
        (
            "jobs stages tasks single_task_stages run_s cpu_s overhead_s input_bytes "
            "input_records shuffle_write_bytes spill_bytes py_sent py_recv py_tasks"
        ).split(),
        0,
    )


def per_layer(
    tracer: Tracer, groups: dict, traced_pass_s: list[float], untraced_pass_s: list[float],
    setup: dict, cores: int, gc_s_per_pass: float,
) -> dict[str, float]:
    """The per-layer metrics of one traced run, normalised per traced pass."""
    import statistics

    n = max(len(traced_pass_s), 1)
    spans = [s for s in tracer.spans if s.op is not None]
    selft = self_times(tracer.spans)

    def total(name: str, own: bool = False) -> float:
        return sum(selft[s.id] if own else s.end - s.start for s in spans if s.name == name)

    def count(name: str) -> int:
        return sum(1 for s in spans if s.name == name)

    def agg(phase: str | None, key: str) -> float:
        return sum(v[key] for g, v in groups.items() if phase is None or g.endswith("|" + phase))

    fits = count("ml.fit")
    wall = sum(traced_pass_s)
    written = sum(w.bytes for w in tracer.writes)
    read = agg(None, "input_bytes")
    return {
        "session.start_s": setup["session_s"],
        "registry.import_s": setup["import_s"],
        "setup.warmup_s": setup["warmup_s"],
        "catalog.load_calls": count("catalog.load") / n,
        "catalog.load_s": total("catalog.load") / n,
        "operators.build_self_s": total("operators.build", own=True) / n,
        "operators.build_jobs": (agg("build", "jobs") + agg("fit", "jobs")) / n,
        "ml.fit_calls": fits / n,
        "ml.fit_s": total("ml.fit") / n,
        "ml.evaluate_s": total("ml.evaluate") / n,
        "ml.jobs_per_fit": agg("fit", "jobs") / fits if fits else 0.0,
        "ml.stages_per_fit": agg("fit", "stages") / fits if fits else 0.0,
        "sink.write_calls": count("sink.write") / n,
        "sink.write_s": total("sink.write") / n,
        "sink.bytes_written": written / n,
        "sink.files_written": sum(w.files for w in tracer.writes) / n,
        "sink.write_amplification": written / read if read else 0.0,
        "exec.materialize_s": total("exec.materialize") / n,
        "exec.jobs": agg(None, "jobs") / n,
        "exec.stages": agg(None, "stages") / n,
        "exec.tasks": agg(None, "tasks") / n,
        "exec.single_task_stages": agg(None, "single_task_stages") / n,
        "exec.slot_utilization": agg(None, "run_s") / (wall * cores) if wall else 0.0,
        "exec.task_cpu_s": agg(None, "cpu_s") / n,
        "exec.gc_s": gc_s_per_pass,
        "exec.task_overhead_s": agg(None, "overhead_s") / n,
        "exec.input_bytes": read / n,
        "exec.input_records": agg(None, "input_records") / n,
        "exec.shuffle_write_bytes": agg(None, "shuffle_write_bytes") / n,
        "exec.spill_bytes": agg(None, "spill_bytes") / n,
        "python.bytes_to_worker": agg(None, "py_sent") / n,
        "python.bytes_from_worker": agg(None, "py_recv") / n,
        "python.tasks": agg(None, "py_tasks") / n,
        "trace.overhead_ratio": (
            statistics.median(traced_pass_s) / statistics.median(untraced_pass_s)
            if traced_pass_s and untraced_pass_s
            else 0.0
        ),
    }
