"""Shared machinery: session pinning, span tracing, Spark counters,
result hashing and the closed loop every workload runs under.

Tracing lives entirely in the benchmark's own files: spans wrap the
calls the benchmark makes into the engine's public functions, and the
per-op Spark counters come from Spark's own status tracker (jobs,
stages, tasks) and SQL status store (executed-plan metrics of every
query an op ran, eager ones inside operators included).
"""

from __future__ import annotations

import contextlib
import datetime
import hashlib
import math
import os
import platform
import re
import statistics
import time
from collections import defaultdict

# copies of the engine's sf0.1 testdata tables the workloads read (README.md)
DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")

# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. ``span(name)`` is a no-op while
    ``enabled`` is False, so untraced rounds pay one attribute check per
    call. Spans: (name, start, end, parent index, op id)."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[tuple[str, float, float, int, int]] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self.op_id = -1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        idx = len(self.spans)
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p, op = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p, op)

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] += value

    def totals(self, ops: set[int]) -> tuple[dict[str, float], dict[str, float]]:
        """(inclusive ms per span name, self ms per span name) over the
        spans of ``ops``. Self time = duration minus child spans."""
        incl: dict[str, float] = defaultdict(float)
        child: dict[int, float] = defaultdict(float)
        for i, (_, t0, t1, p, op) in enumerate(self.spans):
            if op in ops and p >= 0:
                child[p] += t1 - t0
        selft: dict[str, float] = defaultdict(float)
        for i, (n, t0, t1, _, op) in enumerate(self.spans):
            if op in ops:
                incl[n] += (t1 - t0) * 1e3
                selft[n] += (t1 - t0 - child[i]) * 1e3
        return incl, selft

    def dump(self) -> list[dict]:
        return [
            {"name": n, "start": t0, "end": t1, "parent": p, "op": op}
            for n, t0, t1, p, op in self.spans
        ]


def action(tracer: Tracer, fn):
    """Run one Spark action under an ``action`` span."""
    with tracer.span("action"):
        return fn()


def warm(op) -> str | None:
    """Run one op untimed and check it; an error is returned, not raised."""
    try:
        return op.check(op.run())
    except Exception as e:  # reported as a failed warm-up op
        return f"{type(e).__name__}: {str(e)[:300]}"


def cache_hygiene(spark) -> str | None:
    """Between ops: drop cached frames; no dedup sketch cache may be left."""
    from azuredataengineering_deeplearning_spark.operators import dedup

    spark.catalog.clearCache()
    n = dedup.tracked_cache_count()
    return f"{n} tracked dedup caches left" if n else None


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME_MS = {"ns": 1e-6, "us": 1e-3, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}
_NUM = re.compile(r"^(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """SQL-metric display string → number (bytes, ms, or count). Task-
    aggregated metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first number on the second line."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return v * _SIZE[unit]
    if unit in _TIME_MS:
        return v * _TIME_MS[unit]
    return v


# (node-name predicate, metric name) → layer counter
def _layer_of(node: str, metric: str) -> str | None:
    if node.startswith("Scan "):
        return {
            "number of files read": "readers.files_read",
            "size of files read": "readers.bytes_read",
            "scan time": "readers.scan_ms",
            "number of output rows": "readers.rows_scanned",
        }.get(metric)
    if node == "Exchange":
        return {
            "shuffle bytes written": "shuffle.bytes_written",
            "shuffle write time": "shuffle.write_ms",
        }.get(metric)
    if metric == "spill size":
        return "spill.bytes"
    if "Join" in node and metric == "number of output rows":
        return "joins.rows_out"
    if metric == "time to run Python workers":
        return "python.exec_ms"
    if metric == "data sent to Python workers":
        return "python.bytes_sent"
    return None


class SparkCounters:
    """Per-op Spark counters: jobs/stages/tasks from the status tracker
    (the op runs under its own job group) and executed-plan SQL metrics
    of every SQL execution started during the op."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.store = spark._jsparkSession.sharedState().statusStore()
        self._exec_mark = 0

    def begin(self, op_id: int) -> None:
        self.sc.setJobGroup(f"perfbench-op-{op_id}", f"op {op_id}")
        self._exec_mark = self.store.executionsCount()

    def end(self, op_id: int, tracer: Tracer) -> None:
        jobs = self.tracker.getJobIdsForGroup(f"perfbench-op-{op_id}")
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for s in info.stageIds:
                stages += 1
                si = self.tracker.getStageInfo(s)
                tasks += si.numTasks if si is not None else 0
        tracer.count("spark.jobs", len(jobs))
        tracer.count("spark.stages", stages)
        tracer.count("spark.tasks", tasks)
        n = self.store.executionsCount()
        if n > self._exec_mark:
            it = self.store.executionsList(self._exec_mark, n - self._exec_mark).iterator()
            while it.hasNext():
                self._sql_metrics(it.next().executionId(), tracer)
        self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _sql_metrics(self, eid: int, tracer: Tracer) -> None:
        values = self.store.executionMetrics(eid)
        nodes = self.store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            name = node.name()
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                layer = _layer_of(name, m.name())
                if layer is None:
                    continue
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    tracer.count(layer, parse_metric(v.get()))


# ---------------------------------------------------------------------------
# Results
# ---------------------------------------------------------------------------


def canon_cell(v) -> str:
    """Order-insensitive value canon shared by the engine's oracle
    checks: doubles rounded to 6 decimals, timestamps ISO-8601."""
    if v is None:
        return "\0NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{round(v, 6):.6f}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    return str(v)


def frame_hash(pdf) -> tuple[int, list[str], str]:
    """(rows, sorted columns, value hash) of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        ",".join(canon_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return len(pdf), cols, hashlib.md5("\n".join(rows).encode()).hexdigest()


# ---------------------------------------------------------------------------
# Session, processes, machine
# ---------------------------------------------------------------------------


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work_dir: str, app: str):
    """Engine session pinned to this machine: ``local[nproc]`` and
    shuffle partitions = nproc, passed through ``get_spark`` arguments;
    scratch and warehouse paths inside the benchmark's work directory."""
    from azuredataengineering_deeplearning_spark import get_spark

    n = nproc()
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name=app,
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def shutdown_jvm(spark) -> None:
    """Stop the session, then the JVM itself, and wait for it to exit
    (it exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _hwm_kb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


def collect_garbage(spark) -> None:
    """Full GC in the JVM and in Python, so garbage left by set-up and
    warm-up is not collected inside a timed op."""
    import gc

    spark.sparkContext._jvm.System.gc()
    gc.collect()


def reset_peak_rss() -> bool:
    """Reset the resident-set high-water mark of this process and the JVM
    (``clear_refs`` 5), so the peak read later covers only what ran since.
    Returns False where the kernel refuses."""
    ok = True
    for pid in ("self", jvm_pid()):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            ok = False
    return ok


def peak_rss_mb() -> float:
    """Peak resident set of this Python process plus the JVM, from /proc."""
    pid = jvm_pid()
    return (_hwm_kb("self") + (_hwm_kb(pid) if pid else 0.0)) / 1024.0


def fingerprint(spark, seed: int, inputs: dict[str, int]) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": nproc(),
        "python": platform.python_version(),
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "machine": platform.machine(),
        "seed": seed,
        "input_bytes": inputs,
    }


# ---------------------------------------------------------------------------
# Closed loop
# ---------------------------------------------------------------------------


def tail(rounds: list[list[float]]) -> tuple[float, str]:
    """Tail latency of the ops of ``rounds`` → (value, rule). The
    highest percentile with at least ten samples beyond it. With fewer
    than eleven samples no percentile has ten beyond it, and the maximum
    of so few rides on single host hiccups: the tail is then each round's
    slowest op, median over rounds (the maximum when there is one round)."""
    s = sorted(x for r in rounds for x in r)
    n = len(s)
    if n < 11:
        return statistics.median(max(r) for r in rounds), "median round max"
    return s[n - 11], f"p{100.0 * (n - 10) / n:.1f}"


class Loop:
    """One client, closed loop: the next op starts when the previous one
    (and its correctness and hygiene checks) finished. Ops come in
    rounds; the loop ends at the first round boundary after ``seconds``
    so every run measures whole rounds of the same menu.

    ``trace_mode`` alternates untraced and traced rounds: per-layer
    numbers come from the traced rounds and the tracing overhead is the
    traced minus the untraced median op latency of the same run.

    Throughput is the median over untraced rounds of the work a round
    completed per second of its op time: every round runs the same menu,
    so one round slowed by the host moves the median less than the mean.
    The tail falls back to rounds in the same way (``tail``)."""

    def __init__(self, spark, tracer: Tracer, trace_mode: bool) -> None:
        self.tracer = tracer
        self.trace_mode = trace_mode
        self.counters = SparkCounters(spark) if trace_mode else None
        self.lat_ms: dict[bool, list[float]] = {False: [], True: []}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # untraced rounds: op latencies (ms) and result rows of each
        self.round_ms: list[list[float]] = []
        self.round_rows: list[int] = []
        self.traced_ops: set[int] = set()
        self.op_log: list[tuple[str, float]] = []

    def run(self, rounds, seconds: float, hygiene, min_rounds: int = 1) -> None:
        t_end = time.perf_counter() + seconds
        for r, ops in enumerate(rounds):
            if r >= min_rounds and time.perf_counter() >= t_end:
                break
            traced = self.trace_mode and r % 2 == 1
            self.tracer.enabled = traced
            if not traced:
                self.round_ms.append([])
                self.round_rows.append(0)
            for op in ops:
                self._one(op, traced, hygiene)
        self.tracer.enabled = False

    def _one(self, op, traced: bool, hygiene) -> None:
        op_id = self.attempted
        self.attempted += 1
        self.tracer.op_id = op_id
        if traced:
            self.traced_ops.add(op_id)
            self.counters.begin(op_id)
        err = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span("op"):
                result = op.run()
            dt = time.perf_counter() - t0
        except Exception as e:  # a failing op is counted, the loop goes on
            dt = time.perf_counter() - t0
            result, err = None, f"{type(e).__name__}: {str(e)[:300]}"
        if traced:
            self.counters.end(op_id, self.tracer)
            if err is None and hasattr(op, "probe"):
                op.probe(result)
        if not traced:
            self.round_ms[-1].append(dt * 1e3)
        self.lat_ms[traced].append(dt * 1e3)
        self.op_log.append((op.name, round(dt * 1e3, 1)))
        if err is None:
            try:
                err = op.check(result)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {str(e)[:300]}"
        if err is None:
            rows = op.rows(result)
            if not traced:
                self.round_rows[-1] += rows
            self.tracer.count("result.rows", rows)
        h = hygiene()
        if err is None and h:
            err = h
        if err is not None:
            self.failed += 1
            self.failures.append(f"op {op_id} ({op.name}): {err}")

    def end_to_end(self) -> dict[str, float]:
        lat = self.lat_ms[False]
        t, self.tail_rule = tail(self.round_ms)
        self.samples = len(lat)
        secs = [sum(r) / 1e3 for r in self.round_ms]
        return {
            "op_p50_ms": statistics.median(lat),
            "op_tail_ms": t,
            "ops_per_s": statistics.median(len(r) / s for r, s in zip(self.round_ms, secs)),
            "rows_per_s": statistics.median(n / s for n, s in zip(self.round_rows, secs)),
        }

    def per_layer(self, session_ms: float) -> dict[str, float]:
        ops = self.traced_ops
        n = max(1, len(ops))
        incl, selft = self.tracer.totals(ops)
        c = self.tracer.counts
        out: dict[str, float] = {"session.start_ms": session_ms}
        out["action_ms"] = incl.get("action", 0.0) / n
        out["build_ms"] = sum(
            v for k, v in selft.items() if k not in ("op", "action")
        ) / n
        for k, v in incl.items():
            if k not in ("op", "action"):
                out[f"{k}_ms"] = v / n
        for k, v in c.items():
            out[k] = v / n
        if c.get("result.rows"):
            out["readers.rows_per_result"] = c.get("readers.rows_scanned", 0.0) / c["result.rows"]
        if self.lat_ms[True] and self.lat_ms[False]:
            out["trace.overhead_ms"] = statistics.median(
                self.lat_ms[True]
            ) - statistics.median(self.lat_ms[False])
        out["trace.spans"] = len(self.tracer.spans) / n
        return out

