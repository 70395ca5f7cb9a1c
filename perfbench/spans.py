"""Layer tracing for the benchmark's traced run.

Spans are recorded from outside the program: :class:`Tracer` wraps the
public functions of each layer module (and the methods of
``WatermarkStore``) at run time, so the program itself is unchanged.
A span holds its name, start, end, parent and the run id; spans stay in
memory and are written out once, when the run ends. A span's self time
is its duration minus the time its children cover.

Two more counters sit at the same boundaries:

* py4j commands sent from the main thread inside a ``catalog.build``
  span, not counting memory-release (``m``) commands, which the Python
  garbage collector sends at arbitrary times;
* growth of ``sources.parquet._PLAN_MEMO`` per ``read_table`` call, which
  tells a memo hit (no growth) from a miss.

Spark's own work is read afterwards from the uncompressed event log
(:func:`read_event_log`) and attributed to spans by job group and, for
jobs started under a foreign group or from a plain thread, by submission
time.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import dataclass, field

PACKAGE = "pw_etl_scrumptious_squad_spark"

# (module, attribute, span name). Attributes missing in the program are
# skipped and listed in the run record, so a renamed function makes the
# trace thinner instead of failing the run.
LAYER_FUNCTIONS = [
    ("sources.parquet", "read_table", "sources.parquet.read_table"),
    ("sources.parquet", "write_table", "sources.parquet.write_table"),
    ("operators.cdc", "incremental_extract", "operators.cdc.incremental_extract"),
    ("plans.etl", "extract", "plans.etl.extract"),
    ("plans.etl", "transform", "plans.etl.transform"),
    ("plans.etl", "load", "plans.etl.load"),
    ("plans.etl", "run_batch_etl", "plans.etl.run_batch_etl"),
]
# modules whose ``create_*`` builders get one span per call
LAYER_MODULES = ["operators.dims", "operators.facts"]
STORE_METHODS = ["load", "save", "get", "advance"]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int = -1
    run_id: str = ""
    jobs: list[int] = field(default_factory=list)
    py4j: int = 0
    memo_hits: int = 0
    memo_misses: int = 0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder that wraps layer functions while active."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self.enabled = False
        self.missing: list[str] = []
        self._stack: list[int] = []
        self._main = threading.get_ident()
        self._py4j_count = 0

    # -- span recording --------------------------------------------------
    def open(self, name: str) -> int:
        span = Span(
            name,
            time.time(),
            parent=self._stack[-1] if self._stack else -1,
            run_id=self.run_id,
        )
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        if name == "catalog.build":
            span.py4j = -self._py4j_count
        return len(self.spans) - 1

    def close(self, idx: int) -> None:
        span = self.spans[idx]
        span.end = time.time()
        if span.name == "catalog.build":
            span.py4j += self._py4j_count
        self._stack.pop()

    # -- wrapping --------------------------------------------------------
    def _wrap(self, fn, name: str, memo: dict | None = None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or threading.get_ident() != tracer._main:
                return fn(*args, **kwargs)
            idx = tracer.open(name)
            before = len(memo) if memo is not None else 0
            try:
                return fn(*args, **kwargs)
            finally:
                if memo is not None:
                    if len(memo) > before:
                        tracer.spans[idx].memo_misses += 1
                    else:
                        tracer.spans[idx].memo_hits += 1
                tracer.close(idx)

        return wrapper

    def _replace_everywhere(self, original, wrapper) -> None:
        """Rebind ``original`` in every loaded program module that imported
        it by name, so ``from x import f`` call sites are traced too."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, wrapper)

    def install(self) -> None:
        """Wrap every layer boundary the program still has."""
        import importlib

        for mod_name, attr, span_name in LAYER_FUNCTIONS:
            try:
                mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
                original = getattr(mod, attr)
            except (ImportError, AttributeError):
                self.missing.append(f"{mod_name}.{attr}")
                continue
            memo = None
            if span_name == "sources.parquet.read_table":
                memo = getattr(mod, "_PLAN_MEMO", None)
                if memo is None:
                    self.missing.append("sources.parquet._PLAN_MEMO")
            self._replace_everywhere(original, self._wrap(original, span_name, memo))
        for mod_name in LAYER_MODULES:
            try:
                mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
            except ImportError:
                self.missing.append(mod_name)
                continue
            for attr, value in list(vars(mod).items()):
                if (
                    attr.startswith("create_")
                    and callable(value)
                    and getattr(value, "__module__", "") == mod.__name__
                ):
                    setattr(mod, attr, self._wrap(value, mod_name))
        try:
            state = importlib.import_module(f"{PACKAGE}.sources.state")
            store = state.WatermarkStore
        except (ImportError, AttributeError):
            self.missing.append("sources.state.WatermarkStore")
        else:
            for meth in STORE_METHODS:
                original = vars(store).get(meth)
                if original is None:
                    self.missing.append(f"sources.state.WatermarkStore.{meth}")
                    continue
                setattr(store, meth, self._wrap(original, "sources.state.store"))
        self._install_py4j_counter()

    def _install_py4j_counter(self) -> None:
        from py4j.java_gateway import GatewayClient

        original = GatewayClient.send_command
        tracer = self

        @functools.wraps(original)
        def send_command(client, command, *args, **kwargs):
            if (
                tracer.enabled
                and threading.get_ident() == tracer._main
                and not command.startswith("m")
            ):
                tracer._py4j_count += 1
            return original(client, command, *args, **kwargs)

        GatewayClient.send_command = send_command

    # -- output ----------------------------------------------------------
    def self_times(self, root_idx: int) -> dict[str, float]:
        """Self time per span name over the subtree rooted at ``root_idx``."""
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            children.setdefault(s.parent, []).append(i)
        out: dict[str, float] = {}
        todo = [root_idx]
        while todo:
            i = todo.pop()
            kids = children.get(i, [])
            own = self.spans[i].duration - sum(self.spans[k].duration for k in kids)
            out[self.spans[i].name] = out.get(self.spans[i].name, 0.0) + own
            todo.extend(kids)
        return out

    def subtree(self, root_idx: int) -> list[int]:
        children: dict[int, list[int]] = {}
        for i, s in enumerate(self.spans):
            children.setdefault(s.parent, []).append(i)
        out, todo = [], [root_idx]
        while todo:
            i = todo.pop()
            out.append(i)
            todo.extend(children.get(i, []))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "jobs": s.jobs,
                    "py4j": s.py4j,
                }) + "\n")


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


@dataclass
class JobStats:
    job_id: int
    group: str | None
    submitted: float
    stages: set[int] = field(default_factory=set)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


def read_event_log(path: str) -> dict[int, JobStats]:
    """Fold one application's uncompressed Spark event log into per-job
    totals."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    completed: set[int] = set()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = JobStats(
                    ev["Job ID"],
                    props.get("spark.jobGroup.id"),
                    ev.get("Submission Time", 0) / 1000.0,
                )
                jobs[job.job_id] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = job.job_id
            elif kind == "SparkListenerStageCompleted":
                completed.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                metrics = ev.get("Task Metrics") or {}
                if job is None:
                    continue
                job.tasks += 1
                job.run_s += metrics.get("Executor Run Time", 0) / 1000.0
                job.cpu_s += metrics.get("Executor CPU Time", 0) / 1e9
                job.gc_s += metrics.get("JVM GC Time", 0) / 1000.0
                sr = metrics.get("Shuffle Read Metrics") or {}
                job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                sw = metrics.get("Shuffle Write Metrics") or {}
                job.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                job.spill += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                    "Disk Bytes Spilled", 0
                )
    for sid in completed:
        job = jobs.get(stage_job.get(sid, -1))
        if job is not None:
            job.stages.add(sid)
    return jobs


def attribute_jobs(tracer: Tracer, jobs: dict[int, JobStats], group_prefix: str) -> None:
    """Attach each job to the span that started it.

    A job tagged with one of the benchmark's groups (``<prefix>:<span id>``)
    goes to that span. Any other job - started under the program's own
    group, such as the connected-components speculative round, or from a
    thread without a group - goes to the innermost span open at its
    submission time.
    """
    spans = tracer.spans
    for job in sorted(jobs.values(), key=lambda j: j.submitted):
        group = job.group or ""
        if group.startswith(group_prefix + ":"):
            idx = int(group.rsplit(":", 1)[1])
            if 0 <= idx < len(spans):
                # the group names the phase span; a layer span nested in
                # it and open at submission is the finer owner
                idx = _innermost(tracer, job.submitted, within=idx)
                spans[idx].jobs.append(job.job_id)
                continue
        idx = _innermost(tracer, job.submitted)
        if idx is not None:
            spans[idx].jobs.append(job.job_id)


def _innermost(tracer: Tracer, t: float, within: int | None = None) -> int | None:
    best = within
    for i, s in enumerate(tracer.spans):
        if s.start <= t <= s.end and (best is None or s.start >= tracer.spans[best].start):
            if within is None or _is_under(tracer, i, within):
                best = i
    return best


def _is_under(tracer: Tracer, idx: int, root: int) -> bool:
    while idx != -1:
        if idx == root:
            return True
        idx = tracer.spans[idx].parent
    return False
