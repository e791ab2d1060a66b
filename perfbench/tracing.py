"""Traced runs: spans around each layer's public functions, and the
offline per-layer table built from them and the Spark event log.

Spans are recorded from the benchmark's own files: :func:`install`
replaces every public function of the layer modules with a wrapper, in
every ``movie_etl_spark`` module namespace that holds it. While a span
is open its thread carries the Spark local property ``perfbench.span``,
so each job in the event log names the innermost span that launched
it. Jobs started from threads the program creates itself carry no span
and are counted as unattributed.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import json
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPAN_PROPERTY = "perfbench.span"

#: layer name -> modules whose public functions get a span each
LAYER_MODULES = {
    "session": ["movie_etl_spark.session"],
    "plans": ["movie_etl_spark.plans.graph"],
    "streaming": ["movie_etl_spark.streaming.events"],
    "sinks": ["movie_etl_spark.sources.sinks"],
}
#: session-factory functions run before a tracer exists
_NOT_WRAPPED = {"get_spark"}

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float


@dataclass
class Tracer:
    """Records spans in memory and tags the jobs each one launches."""

    sc: object
    spans: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        parent = stack[-1] if stack else None
        self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            self.sc.setLocalProperty(
                SPAN_PROPERTY, str(stack[-1]) if stack else None
            )
            with self._lock:
                self.spans.append(Span(sid, parent, name, start, end))


def _layer_modules() -> dict[str, list[str]]:
    import movie_etl_spark.operators as ops

    mods = dict(LAYER_MODULES)
    mods["operators"] = [
        f"{ops.__name__}.{m.name}" for m in pkgutil.iter_modules(ops.__path__)
    ]
    return mods


def install(tracer: Tracer) -> int:
    """Wrap every public function of the layer modules in a span named
    ``<layer>.<module>.<function>`` (``session.load_table`` for the
    session module). Returns the number of functions wrapped."""
    originals: dict[int, tuple[object, object]] = {}
    for layer, names in _layer_modules().items():
        for modname in names:
            mod = importlib.import_module(modname)
            short = modname.rsplit(".", 1)[-1]
            prefix = layer if layer == "session" else f"{layer}.{short}"
            for fname, fn in vars(mod).items():
                if (
                    fname.startswith("_")
                    or fname in _NOT_WRAPPED
                    or not inspect.isfunction(fn)
                    or fn.__module__ != modname
                ):
                    continue
                originals[id(fn)] = (fn, _wrap(tracer, f"{prefix}.{fname}", fn))
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("movie_etl_spark"):
            continue
        for attr, value in list(vars(mod).items()):
            hit = originals.get(id(value))
            if hit is not None and hit[0] is value:
                setattr(mod, attr, hit[1])
    return len(originals)


def _wrap(tracer: Tracer, name: str, fn):
    if inspect.isgeneratorfunction(getattr(fn, "__wrapped__", None)):
        # a @contextmanager function: the span covers the with-block, where
        # the work it scopes (a streaming query's lifecycle) happens
        @contextmanager
        def scoped(*args, **kwargs):
            with tracer.span(name), fn(*args, **kwargs) as value:
                yield value

        return functools.wraps(fn)(scoped)

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            return fn(*args, **kwargs)

    return wrapper


# ---- offline analysis --------------------------------------------------


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover."""
    return (span.end - span.start) - covered(
        [(c.start, c.end) for c in children], span.start, span.end
    )


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


@dataclass
class Job:
    id: int
    start: float
    end: float
    span: int | None
    stages: list[int]


@dataclass
class EventLog:
    """The parts of a Spark event log the per-layer table needs."""

    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[dict] = field(default_factory=list)


def parse_event_log(lines) -> EventLog:
    """Read job, stage and task records from event-log JSON lines."""
    log = EventLog()
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            span = props.get(SPAN_PROPERTY)
            log.jobs[ev["Job ID"]] = Job(
                ev["Job ID"], ev["Submission Time"] / 1000.0, float("inf"),
                int(span) if span else None, list(ev.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            info, metrics = ev["Task Info"], ev.get("Task Metrics") or {}
            inp = metrics.get("Input Metrics") or {}
            out = metrics.get("Output Metrics") or {}
            sread = metrics.get("Shuffle Read Metrics") or {}
            swrite = metrics.get("Shuffle Write Metrics") or {}
            accum = {
                a.get("Name"): a.get("Update")
                for a in info.get("Accumulables", [])
                if a.get("Name") in (PY_SENT, PY_RETURNED)
            }
            run_ms = metrics.get("Executor Run Time", 0)
            busy_ms = (
                metrics.get("Executor Deserialize Time", 0) + run_ms
                + metrics.get("Result Serialization Time", 0)
            )
            got = info.get("Getting Result Time", 0)
            log.tasks.append({
                "stage": ev["Stage ID"],
                "launch": info["Launch Time"] / 1000.0,
                "run_s": run_ms / 1000.0,
                "delay_s": max(
                    0, info["Finish Time"] - info["Launch Time"] - busy_ms - got
                ) / 1000.0,
                "cpu_s": metrics.get("Executor CPU Time", 0) / 1e9,
                "gc_s": metrics.get("JVM GC Time", 0) / 1000.0,
                "input_bytes": inp.get("Bytes Read", 0),
                "input_records": inp.get("Records Read", 0),
                "output_bytes": out.get("Bytes Written", 0),
                "output_records": out.get("Records Written", 0),
                "shuffle_read_bytes": sread.get("Remote Bytes Read", 0)
                + sread.get("Local Bytes Read", 0),
                "shuffle_write_bytes": swrite.get("Shuffle Bytes Written", 0),
                "spill_bytes": metrics.get("Disk Bytes Spilled", 0),
                "py_sent": int(accum.get(PY_SENT) or 0),
                "py_returned": int(accum.get(PY_RETURNED) or 0),
            })
    return log


def _family(name: str) -> str | None:
    """The per-module row an operator or plan-builder span belongs to."""
    parts = name.split(".")
    if parts[0] in ("operators", "plans") and len(parts) == 3:
        return f"{parts[0]}.{parts[1]}"
    return None


def layer_table(
    spans: list[Span],
    log: EventLog,
    window: tuple[float, float],
    rows_out: int,
    offered_rows: int = 0,
    appended_rows: int = 0,
    offered_bytes: int = 0,
) -> dict[str, float]:
    """The per-layer table for one traced segment.

    ``window`` bounds the timed passes; jobs submitted outside it (warm-up,
    output checks) are left out. Op spans are named ``op`` and the part of
    an op that builds its DataFrames ``build``. Catalyst planning time
    (``plan.s``) comes from the planning tracker, not from spans.
    """
    lo, hi = window
    by_id = {s.id: s for s in spans}
    kids: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)

    def chain(sid: int | None):
        while sid is not None and sid in by_id:
            yield by_id[sid]
            sid = by_id[sid].parent

    jobs = [j for j in log.jobs.values() if lo <= j.start <= hi]
    job_chains = [[s.name for s in chain(j.span)] for j in jobs]
    stage_ids = {st for j in jobs for st in j.stages}
    tasks = [t for t in log.tasks if t["stage"] in stage_ids]
    job_iv = [(j.start, j.end) for j in jobs]

    def outermost(pred) -> list[Span]:
        return [
            s for s in spans
            if pred(s.name) and not any(pred(a.name) for a in chain(s.parent))
        ]

    def span_rows(pred, prefix: str) -> dict[str, float]:
        """Inclusive time of the outermost matching spans, self time of
        all of them, and the jobs launched under any of them."""
        return {
            f"{prefix}.s": sum(s.end - s.start for s in outermost(pred)),
            f"{prefix}.self_s": sum(
                self_time(s, kids.get(s.id, [])) for s in spans if pred(s.name)
            ),
            f"{prefix}.jobs": sum(
                1 for names in job_chains if any(pred(n) for n in names)
            ),
        }

    def outside_jobs(outer: list[Span]) -> float:
        return sum(
            (s.end - s.start) - covered(job_iv, s.start, s.end) for s in outer
        )

    def is_streaming(n: str) -> bool:
        return n.startswith("streaming.events.")

    table: dict[str, float] = {
        "session.load_table.calls": sum(1 for s in spans if s.name == "session.load_table"),
    }
    table.update(span_rows(lambda n: n == "session.load_table", "session.load_table"))
    table["session.ensure_parallelism.s"] = sum(
        s.end - s.start for s in outermost(lambda n: n == "session.ensure_parallelism")
    )
    table.update(span_rows(lambda n: n == "build", "plans.build"))
    table.update(span_rows(lambda n: n.startswith("operators."), "operators"))
    for fam in sorted({_family(s.name) for s in spans} - {None}):
        if fam.startswith(("operators.", "plans.")):
            table.update(span_rows(lambda n, f=fam: _family(n) == f, fam))
    table.update(span_rows(is_streaming, "streaming.events"))
    table["streaming.events.outside_jobs_s"] = outside_jobs(outermost(is_streaming))

    ops = [s for s in spans if s.name == "op"]
    table["schedule.jobs"] = len(jobs)
    table["schedule.stages"] = len({t["stage"] for t in tasks})
    table["schedule.tasks"] = len(tasks)
    table["schedule.delay_s"] = sum(t["delay_s"] for t in tasks)
    table["schedule.outside_jobs_s"] = outside_jobs(ops)

    for key in ("run_s", "cpu_s", "gc_s"):
        table[f"execute.{key}"] = sum(t[key] for t in tasks)
    for key in ("input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        table[f"execute.{key}"] = sum(t[key] for t in tasks)
    table["execute.rows_read_per_row_out"] = (
        sum(t["input_records"] for t in tasks) / rows_out if rows_out else 0.0
    )

    py_stages = {t["stage"] for t in tasks if t["py_sent"] or t["py_returned"]}
    table["python.bytes_to_workers"] = sum(t["py_sent"] for t in tasks)
    table["python.bytes_from_workers"] = sum(t["py_returned"] for t in tasks)
    table["python.stage_run_s"] = sum(
        t["run_s"] for t in tasks if t["stage"] in py_stages
    )

    sink_jobs = {
        j.id for j, names in zip(jobs, job_chains)
        if any(n.startswith("sinks.") for n in names)
    }
    sink_stages = {st for j in jobs if j.id in sink_jobs for st in j.stages}
    sink_tasks = [t for t in tasks if t["stage"] in sink_stages]
    table["sinks.s"] = sum(
        s.end - s.start for s in outermost(lambda n: n.startswith("sinks."))
    )
    table["sinks.files_written"] = sum(1 for t in sink_tasks if t["output_records"])
    table["sinks.bytes_written_per_input_byte"] = (
        sum(t["output_bytes"] for t in sink_tasks) / offered_bytes
        if offered_bytes else 0.0
    )
    table["upsert.rows_appended_per_offered"] = (
        appended_rows / offered_rows if offered_rows else 0.0
    )
    table["trace.unattributed_jobs"] = sum(1 for j in jobs if j.span is None)
    return table
