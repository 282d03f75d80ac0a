"""Benchmark-side tracing: spans around calls into the program's public
functions, Spark job-group tagging per span, and an event-log parser that
attributes task time, task count, shuffle and output bytes to each span.

Nothing here is imported by the program; the tracer patches module and
class attributes from outside for the length of a traced run and restores
them afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import statistics
import time
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.sc = None  # the SparkContext whose jobs get each span's group
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []  # open spans; calls run on one thread
        self._patched: list[tuple[object, str, object]] = []
        self._pending: dict | None = None

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    def open(self, name: str) -> dict:
        stack = self._stack
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        span = {"id": sid, "name": name,
                "parent": parent["id"] if parent else None,
                "trace": parent["trace"] if parent else f"t{sid}",
                "group": f"perfbench-span-{sid}",
                "start": time.time(), "_t0": time.perf_counter()}
        stack.append(span)
        self._set_group(span)
        return span

    def close(self, span: dict, error: str | None = None) -> None:
        span["dur_s"] = time.perf_counter() - span.pop("_t0")
        span["end"] = span["start"] + span["dur_s"]
        if error:
            span["error"] = error
        stack = self._stack
        if span in stack:
            stack.remove(span)
        self._set_group(stack[-1] if stack else None)
        self.spans.append(span)

    @contextlib.contextmanager
    def span(self, name: str):
        s = self.open(name)
        try:
            yield s
        except BaseException as e:
            self.close(s, error=type(e).__name__)
            raise
        self.close(s)

    def close_pending(self) -> None:
        if self._pending is not None:
            pending, self._pending = self._pending, None
            self.close(pending)

    def wrap(self, owner, attr: str, name: str, *, until_next: bool = False
             ) -> None:
        """Replace ``owner.attr`` with a spanned wrapper. ``until_next``
        keeps the span open after the call returns, until the next wrapped
        call starts: for a function that only builds a lazy plan, whose
        jobs run in the caller right after it returns."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            tracer.close_pending()
            s = tracer.open(name)
            try:
                out = orig(*args, **kwargs)
            except BaseException as e:
                tracer.close_pending()
                tracer.close(s, error=type(e).__name__)
                raise
            tracer.close_pending()  # a lazy child's jobs ran inside this call
            if until_next:
                tracer._pending = s
            else:
                tracer.close(s)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        self.close_pending()
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def write_spans(path: Path, spans: list[dict]) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as f:
        json.dump(sorted(spans, key=lambda s: s["start"]), f, indent=1)


def parse_event_log(log_dir: Path) -> dict[str, dict]:
    """Per job group: jobs, tasks, summed executor run time, task
    durations, shuffle bytes written and output bytes written."""
    # Spark 4 writes rolling logs: one eventlog_v2_<app> directory per
    # application holding events_<n>_<app> files
    files = sorted(p for p in log_dir.rglob("*")
                   if p.is_file() and not p.name.startswith("appstatus"))
    stage_group: dict[tuple[str, int], str] = {}
    groups: dict[str, dict] = {}
    for path in files:
        app = path.parent.name if path.parent != log_dir else path.name
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # torn last line of an in-progress log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    g = props.get("spark.jobGroup.id")
                    if not g:
                        continue
                    agg = groups.setdefault(g, _empty())
                    agg["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault((app, sid), g)
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get((app, ev.get("Stage ID")))
                    if g is None:
                        continue
                    agg = groups[g]
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    agg["tasks"] += 1
                    agg["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    agg["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                    agg["output_bytes"] += (
                        m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    agg["durs"].append(
                        (info.get("Finish Time", 0)
                         - info.get("Launch Time", 0)) / 1000.0)
    return groups


def _empty() -> dict:
    return {"jobs": 0, "tasks": 0, "task_s": 0.0, "shuffle_write_bytes": 0,
            "output_bytes": 0, "durs": []}


_SUMMED = ("jobs", "tasks", "task_s", "shuffle_write_bytes", "output_bytes")


def attach_spark_counters(spans: list[dict], groups: dict[str, dict]) -> None:
    """Give each span the counters of its own job group plus those of all
    its descendants (a span's jobs include its children's), and the task
    skew (max / median task duration) over that whole set of tasks."""
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        s["spark"] = _empty()
    for s in spans:
        own = groups.get(s["group"], _empty())
        node = s
        while node is not None:
            for k in _SUMMED:
                node["spark"][k] += own[k]
            node["spark"]["durs"] = node["spark"]["durs"] + own["durs"]
            node = by_id.get(node["parent"])
    for s in spans:
        durs = s["spark"].pop("durs")
        med = statistics.median(durs) if durs else 0.0
        s["spark"]["task_skew"] = max(durs) / med if med > 0 else 1.0


def finalize(run, tracer: Tracer) -> None:
    """After the run's Spark sessions have stopped: attribute event-log
    counters to the spans and write the span file."""
    attach_spark_counters(tracer.spans, parse_event_log(run.work / "eventlog"))
    write_spans(run.trace_path, tracer.spans)


def first(tracer: Tracer, name: str) -> dict:
    return min(tracer.named(name), key=lambda s: s["start"])
