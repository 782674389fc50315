"""Span recorder, layer wrappers and Spark event-log attribution.

Used only by traced runs (``--trace 1``). The recorder keeps spans in
memory (name, layer, start, end, parent) and writes nothing until
the run ends. Wrappers are installed by swapping public module attributes
of the program for recording shims, and removed again by
:meth:`SpanRecorder.uninstall`; the program itself is not modified.

After the Spark session stops, :func:`read_event_log` parses the
uncompressed, non-rolling event log and :func:`attribute` assigns every
Spark job (and through its stages, every task) to the innermost span
whose interval holds the job's submission time.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None

    @property
    def dur(self) -> float:
        return self.end - self.start


class SpanRecorder:
    """In-memory span store with a per-thread parent stack."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.bookkeeping_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, layer: str | None = None):
        return _SpanCtx(self, name, layer or name.split(".", 1)[0])

    def wrap(self, owner: object, attr: str, name: str, layer: str) -> None:
        """Replace ``owner.attr`` by a shim that records a span per call."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def shim(*args, **kwargs):
            with self.span(name, layer):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, shim)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


class _SpanCtx:
    def __init__(self, rec: SpanRecorder, name: str, layer: str):
        self.rec, self.name, self.layer = rec, name, layer
        self.span: Span | None = None

    def __enter__(self):
        rec = self.rec
        t0 = time.perf_counter()
        st = rec._stack()
        with rec._lock:
            sp = Span(len(rec.spans), self.name, self.layer, time.time(),
                      parent=st[-1] if st else None)
            rec.spans.append(sp)
            rec.bookkeeping_s += time.perf_counter() - t0
        st.append(sp.sid)
        self.span = sp
        return sp

    def __exit__(self, *exc):
        t0 = time.perf_counter()
        self.span.end = time.time()
        self.rec._stack().pop()
        with self.rec._lock:
            self.rec.bookkeeping_s += time.perf_counter() - t0
        return False


def install_vault_wrappers(rec: SpanRecorder) -> None:
    """Wrap the vault layers at the boundaries the flow executor calls
    through (module attributes are resolved at call time)."""
    from mallarddv_spark.api import MallardSparkVault
    from mallarddv_spark.flow import executor, runinfo
    from mallarddv_spark.operators import hashview, hub, link, satellite
    from mallarddv_spark.plans import model
    from mallarddv_spark.sources import catalog, readers

    rec.wrap(readers, "load_file_to_staging", "readers.load_file_to_staging", "readers")
    rec.wrap(hashview, "create_hash_view", "hashview.create_hash_view", "hashview")
    rec.wrap(hub, "load_hubs", "hub.load_hubs", "hub")
    rec.wrap(link, "load_links", "link.load_links", "link")
    rec.wrap(satellite, "load_sats", "satellite.load_sats", "satellite")
    rec.wrap(runinfo, "probe_ledger", "runinfo.probe_ledger", "runinfo")
    rec.wrap(runinfo, "write_ledger_rows", "runinfo.write_ledger_rows", "runinfo")
    rec.wrap(model, "fetch_table_columns", "model.fetch_table_columns", "model")
    rec.wrap(model, "fetch_transitions", "model.fetch_transitions", "model")
    rec.wrap(executor.FlowExecutor, "execute_flow", "executor.execute_flow", "executor")
    rec.wrap(MallardSparkVault, "init_vault", "api.init_vault", "api")
    for fn in ("ensure_databases", "ensure_metadata_tables", "load_metadata_csvs",
               "create_staging_tables"):
        rec.wrap(catalog, fn, f"catalog.{fn}", "catalog")


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    jid: int
    submit: float
    end: float = 0.0
    stages: list = field(default_factory=list)
    span: int | None = None


@dataclass
class TaskTotals:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    sched_wait_s: float = 0.0
    shuffle_write: int = 0
    shuffle_read: int = 0
    spill: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    records_written: int = 0

    def add(self, o: "TaskTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(o, k))


@dataclass
class EventLog:
    jobs: dict = field(default_factory=dict)          # job id -> Job
    stage_tasks: dict = field(default_factory=dict)   # stage id -> TaskTotals


def event_log_file(log_dir: str) -> str | None:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)] if os.path.isdir(log_dir) else []
    files = [f for f in files if os.path.isfile(f)]
    return max(files, key=os.path.getmtime) if files else None


def read_event_log(path: str) -> EventLog:
    log = EventLog()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                log.jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1e3,
                                             stages=list(ev.get("Stage IDs", [])))
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                tt = log.stage_tasks.setdefault(ev["Stage ID"], TaskTotals())
                tt.add(_task_totals(ev))
    return log


def _task_totals(ev: dict) -> TaskTotals:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    run_ms = m.get("Executor Run Time", 0)
    dur_ms = info.get("Finish Time", 0) - info.get("Launch Time", 0)
    getting = info.get("Getting Result Time", 0)
    getting_ms = info.get("Finish Time", 0) - getting if getting else 0
    # scheduler delay, as the Spark UI defines it
    wait_ms = max(0, dur_ms - run_ms - m.get("Executor Deserialize Time", 0)
                  - m.get("Result Serialization Time", 0) - getting_ms)
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    return TaskTotals(
        tasks=1,
        run_s=run_ms / 1e3,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1e3,
        sched_wait_s=wait_ms / 1e3,
        shuffle_write=sw.get("Shuffle Bytes Written", 0),
        shuffle_read=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
        output_bytes=m.get("Output Metrics", {}).get("Bytes Written", 0),
        records_written=m.get("Output Metrics", {}).get("Records Written", 0),
    )


def job_totals(log: EventLog, job: Job) -> TaskTotals:
    tot = TaskTotals()
    for sid in job.stages:
        st = log.stage_tasks.get(sid)
        if st is not None:
            tot.add(st)
    return tot


def attribute(log: EventLog, spans: list[Span]) -> None:
    """Assign each job to the innermost (latest-starting) span holding its
    submission time. Jobs outside every span keep ``span=None``."""
    ordered = sorted((s for s in spans if s.end), key=lambda s: s.start)
    for job in log.jobs.values():
        best = None
        for s in ordered:
            if s.start > job.submit:
                break
            if s.end >= job.submit:
                best = s
        job.span = best.sid if best is not None else None


def union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    """The span's duration minus the part its direct children cover."""
    kids = [(c.start, c.end) for c in spans if c.parent == span.sid and c.end]
    return span.dur - union_len(kids, span.start, span.end)

