"""Spans around the program's layer calls, and per-span Spark task metrics.

The traced run installs wrappers (``Tracer.install``) on the public
functions and methods that ``KGPipeline.run``, ``stream_kg`` and
``BioCypherSpark`` call into. Each wrapper records a span (name, start, end,
parent) and tags the Spark jobs it starts with the span name as their job
description. Spark's event log
(enabled for the traced run only) is parsed afterwards to charge every job,
stage and task to the innermost span open when the job started, and to
every enclosing span.

Lazy calls cost nothing when called: a function that only builds a
DataFrame plan returns at once, and its work runs inside the span of the
call that forces it. ``LAZY_WORK`` documents where each lazy layer's work
is charged.

Nothing here touches Spark unless ``install`` is called with a session; the
arithmetic (``self_times``, ``union_length``, ``span_counters``) is pure and
tested on synthetic traces.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from dataclasses import dataclass
from typing import Callable, Optional

# lazy layer -> the span its work is charged to
LAZY_WORK = {
    "input.scan": "the first job that reads the transcripts: pipeline.checkpoint.mentions",
    "extract": "pipeline.checkpoint.mentions: mapInPandas runs inside the parquet write",
    "linking.link": "pipeline.checkpoint.linked: the join runs inside the write; canonicalize itself is eager",
    "pipeline.tuples": "materialize (the node/edge tuple pins)",
    "translate.nodes": "writer.nodes (and pipeline.checkpoint.nodes)",
    "translate.edges": "writer.edges (and pipeline.checkpoint.edges)",
    "stream.extract": "materialize inside stream.batch",
}


@dataclass
class Span:
    sid: int
    name: str
    parent: Optional[int]
    start: float
    end: float = 0.0
    op: int = -1  # index of the benchmark operation the span belongs to


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start: float, end: float) -> list:
    out = []
    for s, e in intervals:
        s, e = max(s, start), min(e, end)
        if e > s:
            out.append((s, e))
    return out


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its direct children cover."""
    children: dict[int, list] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {
        sp.sid: (sp.end - sp.start) - union_length(clip(children.get(sp.sid, []), sp.start, sp.end))
        for sp in spans
    }


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stages: list


@dataclass
class Stage:
    stage_id: int
    start: float
    end: float
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def _event_lines(path: str):
    """Lines of an event log: one file, or a rolling log directory
    (``eventlog_v2_*/events_<n>_*``) read in order."""
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "events_*")),
                       key=lambda f: int(os.path.basename(f).split("_")[1]))
    else:
        files = [path]
    for f in files:
        with open(f, encoding="utf-8") as fh:
            yield from fh


def parse_event_log(path: str) -> tuple[list[Job], dict[int, Stage]]:
    """Jobs and stages (with summed task metrics) from a Spark event log."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    tasks: dict[int, list] = {}
    for line in _event_lines(path):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = Job(ev["Job ID"], ev["Submission Time"] / 1000.0, 0.0, list(ev.get("Stage IDs", [])))
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Submission Time" not in info:
                continue  # skipped stage: its output was reused
            st = Stage(info["Stage ID"], info["Submission Time"] / 1000.0, info["Completion Time"] / 1000.0)
            stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = st
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if m:
                tasks.setdefault((ev["Stage ID"], ev.get("Stage Attempt ID", 0)), []).append(m)
    out: dict[int, Stage] = {}
    for key, st in stages.items():
        for m in tasks.get(key, []):
            st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            st.run_s += m.get("Executor Run Time", 0) / 1000.0
            st.gc_s += m.get("JVM GC Time", 0) / 1000.0
            st.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        # a retried stage keeps its later attempt; attempts share the id
        out[key[0]] = st if key[0] not in out else _merge(out[key[0]], st)
    return [j for j in jobs.values() if j.end], out


def _merge(a: Stage, b: Stage) -> Stage:
    return Stage(a.stage_id, min(a.start, b.start), max(a.end, b.end), a.cpu_s + b.cpu_s, a.run_s + b.run_s,
                 a.gc_s + b.gc_s, a.shuffle_write_bytes + b.shuffle_write_bytes, a.spill_bytes + b.spill_bytes)


def owner(job: Job, spans: list[Span]) -> Optional[int]:
    """Innermost span open at the job's submission time. The job
    description is not used for this: Spark copies local properties into
    threads it creates (the stream's execution thread keeps the description
    of the span that started the query), and the benchmark drives Spark from
    one thread at a time, so time is exact."""
    best = None
    for sp in spans:
        if sp.start <= job.start <= sp.end and (best is None or sp.start >= best.start):
            best = sp
    return best.sid if best else None


def span_counters(spans: list[Span], jobs: list[Job], stages: dict[int, Stage]) -> dict[int, dict]:
    """Per-span counters. A job counts for the span that owns it and for
    every ancestor of that span, so each span's counters include its
    children's work, as its wall time does. ``driver_s`` is the part of the
    span's wall time with no stage of its own jobs active."""
    by_id = {sp.sid: sp for sp in spans}
    selfs = self_times(spans)
    acc = {
        sp.sid: {"jobs": 0, "task_cpu_s": 0.0, "task_run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
                 "spill_bytes": 0, "_busy": []}
        for sp in spans
    }
    for job in jobs:
        sid = owner(job, spans)
        seen = set()
        while sid is not None and sid in by_id and sid not in seen:
            seen.add(sid)
            a = acc[sid]
            a["jobs"] += 1
            for stage_id in job.stages:
                st = stages.get(stage_id)
                if st is None:
                    continue
                a["task_cpu_s"] += st.cpu_s
                a["task_run_s"] += st.run_s
                a["gc_s"] += st.gc_s
                a["shuffle_write_bytes"] += st.shuffle_write_bytes
                a["spill_bytes"] += st.spill_bytes
                a["_busy"].append((st.start, st.end))
            sid = by_id[sid].parent
    out = {}
    for sp in spans:
        a = acc[sp.sid]
        wall = sp.end - sp.start
        busy = union_length(clip(a.pop("_busy"), sp.start, sp.end))
        out[sp.sid] = {**a, "wall_s": wall, "self_s": selfs[sp.sid], "stage_busy_s": busy,
                       "driver_s": wall - busy}
    return out


class Tracer:
    """Records spans around wrapped callables; one open-span stack, since
    the benchmark drives Spark from a single Python thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self.op = -1
        self._stack: list[Span] = []
        self._sc = None
        self._undo: list[tuple] = []
        self.enabled = False

    # -- spans -----------------------------------------------------------------

    def _tag(self, span: Optional[Span]) -> None:
        if self._sc is None:
            return
        self._sc.setJobDescription(None if span is None else span.name)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def _open(self, name: str) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, parent, time.time(), op=self.op)
        self.spans.append(sp)
        self._stack.append(sp)
        self._tag(sp)
        return sp

    def _close(self, sp: Span) -> None:
        sp.end = time.time()
        self._stack.remove(sp)
        self._tag(self._stack[-1] if self._stack else None)

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    # -- wrapping -------------------------------------------------------------------

    def wrap(self, owner_obj, attr: str, name, on_call: Optional[Callable] = None) -> None:
        """Replace ``owner_obj.attr`` by a span-recording wrapper (undone by
        ``uninstall``). ``name`` is the span name or a function of the
        call's arguments returning it; ``on_call(args, kwargs, result)`` may
        record counts."""
        orig = getattr(owner_obj, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name(*args, **kwargs) if callable(name) else name):
                result = orig(*args, **kwargs)
            if on_call is not None:
                on_call(args, kwargs, result)
            return result

        setattr(owner_obj, attr, wrapper)
        self._undo.append((owner_obj, attr, orig))

    def install(self, spark) -> None:
        """Wrap the layer entry points the pipeline, the stream and the
        facade call. Module attributes are patched where the CALLER looks
        them up (``pipeline.extract_mentions``, ``linking.canonicalize``)."""
        import biocypher_spark.linking as linking
        import biocypher_spark.materialize as mat
        import biocypher_spark.pipeline as pipeline
        import biocypher_spark.streaming.stream as stream
        import biocypher_spark.transcripts as transcripts
        from biocypher_spark.core import BioCypherSpark
        from biocypher_spark.translate import SparkTranslator
        from biocypher_spark.writer.neo4j import Neo4jBatchWriter

        self._sc = spark.sparkContext
        self.wrap(transcripts, "read_transcripts", "input.scan")
        self.wrap(pipeline, "extract_mentions", "extract")
        self.wrap(pipeline, "link_mentions", "linking.link")
        self.wrap(linking, "canonicalize", "linking.canonicalize")
        self.wrap(linking, "connected_components", "components")
        self.wrap(pipeline, "build_triple_tuples", "pipeline.tuples")
        self.wrap(pipeline.KGPipeline, "_checkpoint", lambda _self, stage, *a, **k: f"pipeline.checkpoint.{stage}")
        self.wrap(pipeline.KGPipeline, "_record_lineage", "pipeline.lineage")
        self.wrap(pipeline.KGPipeline, "run", "pipeline.run")
        self.wrap(mat, "materialize", "materialize", lambda a, k, r: self.add("materialize.pins", 1))
        self.wrap(stream, "materialize", "materialize", lambda a, k, r: self.add("materialize.pins", 1))
        self.wrap(stream, "stream_mentions", "stream.extract")
        self.wrap(SparkTranslator, "translate_nodes", "translate.nodes")
        self.wrap(SparkTranslator, "translate_edges", "translate.edges")
        self.wrap(Neo4jBatchWriter, "write_nodes", "writer.nodes")
        self.wrap(Neo4jBatchWriter, "write_edges", "writer.edges")
        self.wrap(Neo4jBatchWriter, "write_import_call", "writer.import_call")
        self.wrap(BioCypherSpark, "write_nodes", "core.write_nodes")
        self.wrap(BioCypherSpark, "write_edges", "core.write_edges")
        self.enabled = True

    def uninstall(self) -> None:
        for obj, attr, orig in reversed(self._undo):
            setattr(obj, attr, orig)
        self._undo.clear()
        self.enabled = False
        if self._sc is not None:
            self._tag(None)

    def dump(self, path: str, counters: dict[int, dict], extra: dict) -> None:
        """Write spans, their counters and the run's counts to one file."""
        rows = [
            {"sid": sp.sid, "name": sp.name, "parent": sp.parent, "op": sp.op, "start": sp.start,
             "end": sp.end, **counters.get(sp.sid, {})}
            for sp in self.spans
        ]
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": rows, "counts": self.counts, "lazy_work": LAZY_WORK, **extra}, fh, indent=1)


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self) -> Span:
        self.sp = self.tracer._open(self.name)
        return self.sp

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.sp)
