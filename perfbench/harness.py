"""Run-time plumbing shared by the workloads: the Spark session's life, JVM
log capture, the tracer, op records and result comparison.

Everything here stays inside the checkout: temporary files, Spark's local
directories and the JVM's temp dir all live under ``.bench_build/perfbench``.
"""

from __future__ import annotations

import contextlib
import json
import math
import numbers
import os
import re
import statistics
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from typing import Any

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

#: A JVM log record at level ERROR, in Spark's JSON layout or its plain one.
_ERROR_RECORD = re.compile(rb'"level": ?"ERROR"|^\S+ \S+ ERROR ', re.MULTILINE)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def now_ms() -> float:
    """Wall-clock milliseconds, the time base of Spark's status store."""
    return time.time() * 1000.0


def cpu_ticks() -> tuple[int, int]:
    """Busy and stolen CPU ticks of the whole host so far, from /proc/stat:
    on a virtual machine, steal is time the hypervisor gave to others."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    busy = sum(fields[:3]) + sum(fields[5:7])  # user, nice, system, irq, softirq
    return busy, fields[7] if len(fields) > 7 else 0


# -- JVM log capture -----------------------------------------------------


class JvmLog:
    """Sends this process's standard error, which the JVM inherits, to a
    file, so the JVM's log records can be counted per op."""

    def __init__(self, path: str):
        self.path = path
        self._saved = os.dup(2)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)

    def offset(self) -> int:
        return os.path.getsize(self.path)

    def errors_since(self, offset: int) -> int:
        with open(self.path, "rb") as f:
            f.seek(offset)
            return len(_ERROR_RECORD.findall(f.read()))

    def restore(self) -> None:
        """Point standard error back at the terminal."""
        os.dup2(self._saved, 2)
        os.close(self._saved)


# -- Spark session -------------------------------------------------------


def configure_environment(tmp: str) -> None:
    """Settings read when the JVM launches: width, and every temporary
    directory inside the checkout. Set before the first session; driver
    memory stays the engine's own default."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        f"--conf spark.local.dir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def jvm_process():
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    return getattr(gateway, "proc", None) if gateway is not None else None


def peak_rss_mb() -> tuple[float, float]:
    """VmHWM of this process and VmHWM of its JVM, in MiB."""

    def hwm_kb(pid: int | str) -> int:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
        return 0

    proc = jvm_process()
    jvm = hwm_kb(proc.pid) if proc is not None and proc.poll() is None else 0
    return hwm_kb("self") / 1024.0, jvm / 1024.0


def shutdown_jvm() -> None:
    """Stop the gateway JVM and wait until it has exited (its Python
    workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# -- tracing -------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # wall-clock ms
    end: float
    op: int
    parent: int | None
    attrs: dict = field(default_factory=dict)


class NullTracer:
    """Tracing off: every hook is a no-op, so timed ops pay nothing."""

    enabled = False

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str, name: str) -> Iterator[None]:
        yield

    @contextlib.contextmanager
    def call(self, layer: str, frame=None) -> Iterator[None]:
        yield

    def count(self, name: str, value: float) -> None:
        pass


class Tracer(NullTracer):
    """Records spans around each layer call: op -> layer call -> Spark jobs
    -> stages. Each call runs under its own Spark job group, named uniquely
    per op, and after the op the jobs of each group are read back from
    Spark's status store. Spans stay in memory until :meth:`dump`."""

    enabled = True

    def __init__(self, spark, log: JvmLog):
        self.spark = spark
        self.sc = spark.sparkContext
        self.log = log
        self.spans: list[Span] = []
        self.counts: list[tuple[int, str, float]] = []
        self.overhead_ms = 0.0
        self._op: int | None = None
        self._last_op = 0
        self._op_span: int | None = None
        self._groups: list[tuple[str, int]] = []
        self._mapper = None

    # -- spans ----------------------------------------------------------
    def _open(self, name: str, parent: int | None, attrs: dict | None = None) -> int:
        self.spans.append(Span(name, now_ms(), 0.0, self._op or 0, parent, attrs or {}))
        return len(self.spans) - 1

    @contextlib.contextmanager
    def op(self, op_id: int, kind: str, name: str) -> Iterator[None]:
        self._op = op_id
        log_at = self.log.offset()
        memo_at = len(memo(self.spark))
        self._op_span = self._open("op", None, {"kind": kind, "name": name})
        try:
            yield
        finally:
            span = self.spans[self._op_span]
            span.end = now_ms()
            t0 = time.perf_counter()
            self._collect_jobs()
            self.count("catalog.memo_builds", len(memo(self.spark)) - memo_at)
            self.count("jvm.error_logs", self.log.errors_since(log_at))
            self.overhead_ms += (time.perf_counter() - t0) * 1000.0
            self._last_op = op_id
            self._op = self._op_span = None

    @contextlib.contextmanager
    def call(self, layer: str, frame=None) -> Iterator[None]:
        """A span named ``layer`` around one layer call. ``frame`` is the
        DataFrame whose Catalyst phase times the call pays."""
        idx = self._open(layer, self._op_span)
        group = f"perfbench-op{self._op}-span{idx}"
        self.sc.setJobGroup(group, layer)
        try:
            yield
        finally:
            self.spans[idx].end = now_ms()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._groups.append((group, idx))
            if frame is not None:
                self.spans[idx].attrs["plan_ms"] = plan_ms(frame)

    def count(self, name: str, value: float) -> None:
        """A count for the current op, or for the op just ended."""
        self.counts.append((self._op if self._op is not None else self._last_op, name, value))

    # -- Spark status store --------------------------------------------
    def _json(self, obj) -> dict:
        if self._mapper is None:
            jvm = self.sc._jvm
            self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
            scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
            self._mapper.registerModule(getattr(scala, "MODULE$"))
        return json.loads(self._mapper.writeValueAsString(obj))

    def _collect_jobs(self) -> None:
        """Turn the jobs of each finished group into child spans, with
        their stages' metrics. Waits for the listener bus first so the
        status store has seen every job end."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        for group, parent in self._groups:
            for job_id in sorted(self.sc.statusTracker().getJobIdsForGroup(group)):
                job = self._json(store.job(job_id))
                stages = []
                for stage_id in job["stageIds"]:
                    stage = self._json(store.lastStageAttempt(stage_id))
                    if stage["status"] != "SKIPPED":
                        stages.append(stage)
                start = job.get("submissionTime") or self.spans[parent].start
                end = job.get("completionTime") or start
                job_idx = len(self.spans)
                self.spans.append(Span("spark.job", start, end, self._op, parent, {"job": job_id}))
                for st in stages:
                    s0 = st.get("submissionTime") or start
                    s1 = st.get("completionTime") or s0
                    self.spans.append(Span("spark.stage", s0, s1, self._op, job_idx, {
                        "tasks": st["numCompleteTasks"] + st["numFailedTasks"],
                        "failed_tasks": st["numFailedTasks"],
                        "run_ms": st["executorRunTime"],
                        "cpu_ms": st["executorCpuTime"] / 1e6,
                        "shuffle_read_b": st["shuffleReadBytes"],
                        "shuffle_write_b": st["shuffleWriteBytes"],
                        "spill_b": st["memoryBytesSpilled"] + st["diskBytesSpilled"],
                    }))
        self._groups = []

    def cached_mb(self) -> float:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(info.memSize() for info in infos) / 2**20

    def dump(self, path: str) -> None:
        """Writes one JSON line per span, with its derived self time."""
        with open(path, "w") as f:
            for i, (s, self_ms) in enumerate(zip(self.spans, self_times(self.spans))):
                f.write(json.dumps({"id": i, **s.__dict__, "self_ms": self_ms}) + "\n")


def memo(spark) -> dict:
    """The engine's per-session projection memo (``catalog.session_memo``)."""
    return spark.__dict__.get("_fns_projection_memo", {})


def plan_ms(df) -> float:
    """Sum of the Catalyst phase times recorded on ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.valuesIterator()
    total = 0.0
    while it.hasNext():
        total += it.next().durationMs()
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out = []
    for i, s in enumerate(spans):
        covered, cursor = 0.0, s.start
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, cursor), min(b, s.end)
            if b > a:
                covered += b - a
                cursor = b
        out.append(max(0.0, (s.end - s.start) - covered))
    return out


# -- ops ---------------------------------------------------------------


def warm(fn: Callable[[], Any]) -> None:
    """Runs one warm-up op. A failure is not fatal here: the same op fails
    again in the timed phase, where it is counted."""
    try:
        fn()
    except Exception:  # noqa: BLE001 - counted when the timed op fails
        pass


@dataclass
class Op:
    """One timed operation. ``run(tracer)`` is the timed part and returns
    ``(rows, check)``: the rows it moved and a callable run after the timed
    phase that returns None or what is wrong with the output. ``before``
    and ``after(tracer, rows, check)`` run untimed around it; ``after`` may
    replace rows and check."""

    kind: str  # "read" | "write" | "kernel"
    name: str
    run: Callable[[NullTracer], tuple[int, Callable[[], str | None] | None]]
    before: Callable[[], None] | None = None
    after: Callable[..., tuple[int, Callable[[], str | None] | None]] | None = None


@dataclass
class OpRecord:
    op_id: int
    kind: str  # "read" | "write" | "kernel"
    name: str
    ms: float
    rows: int = 0
    error: str | None = None
    check: Callable[[], str | None] | None = None  # deferred output check

    @property
    def failed(self) -> bool:
        return self.error is not None


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def metric(value: float, unit: str, n: int | None = None) -> dict:
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    return out


# -- result comparison ---------------------------------------------------


def canon(v: Any) -> Any:
    """One result cell in a form equal across Spark and DuckDB: numbers to
    floats rounded to 6 places (signed zero folded), lists to tuples."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, numbers.Number):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return round(f, 6) + 0.0
    return str(v)


def by_column_name(columns: list[str], rows) -> list[tuple]:
    """Rows with their cells in sorted column-name order."""
    order = sorted(range(len(columns)), key=columns.__getitem__)
    return [tuple(r[i] for i in order) for r in rows]


def duckdb_views(data_dir: str, tables: tuple[str, ...]):
    """A DuckDB connection with one view per parquet table of ``data_dir``."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def canon_rows(rows: list[tuple], ordered: bool) -> list[tuple]:
    out = [tuple(canon(v) for v in r) for r in rows]
    return out if ordered else sorted(out, key=repr)


def diff_rows(got: list[tuple], want: list[tuple], ordered: bool) -> str | None:
    """None when equal, else a short description of the first difference."""
    g, w = canon_rows(got, ordered), canon_rows(want, ordered)
    if g == w:
        return None
    if len(g) != len(w):
        return f"{len(g)} rows, expected {len(w)}"
    first = next(i for i, (a, b) in enumerate(zip(g, w)) if a != b)
    return f"row {first}: {g[first]!r}, expected {w[first]!r}"
