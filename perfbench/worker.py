"""One run of one benchmark workload, in a process of its own (fresh JVM).

``run.py`` starts this script with a wall deadline and reads what it
appends to ``<work>/events.jsonl``: the set-up time, one record per
operation (with its output check), input sizes and, in a traced run, the
per-layer counters. Operations are the unit of failure: an operation that
raises, or whose output differs from the DuckDB reference, is recorded as
failed and the run goes on; an operation still open when the deadline kills
the process is counted as failed by ``run.py``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
from proctree import tree_cpu_s  # noqa: E402
from spans import Span, Tracer, parse_event_log, span_counters  # noqa: E402

CALIBRATION_REPS = 1  # timed repetitions of the calibration job, before and after the measured operations


def cores() -> int:
    return len(os.sched_getaffinity(0))


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


class CpuSampler:
    """Samples ``tree_cpu_s`` every ``interval`` seconds in a thread, so the
    CPU time of intervals known only afterwards (stream triggers) can be
    interpolated."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.samples: list[tuple[float, float]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "CpuSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while True:
            self.samples.append((time.time(), tree_cpu_s()))
            if self._stop.wait(self.interval):
                self.samples.append((time.time(), tree_cpu_s()))
                return

    def between(self, t0: float, t1: float) -> float:
        ts, cs = zip(*self.samples)
        return float(np.interp(t1, ts, cs) - np.interp(t0, ts, cs))


def parts(out_dir: str) -> list[str]:
    return sorted(os.path.basename(p) for p in glob.glob(os.path.join(out_dir, "*-part*.csv")))


class Events:
    """Append-only JSON-lines log shared with the parent process."""

    def __init__(self, path: str):
        self.fh = open(path, "a", encoding="utf-8")

    def write(self, **rec) -> None:
        self.fh.write(json.dumps(rec) + "\n")
        self.fh.flush()
        os.fsync(self.fh.fileno())

    def close(self) -> None:
        self.fh.close()


def calibrate(spark, reps: int, discard: int = 0) -> dict:
    """Wall and process-tree CPU seconds of a fixed Spark job that uses no
    code of the program under test: ``spark.range`` through ``mapInPandas``
    (Python workers, Arrow) into a hash aggregate (a shuffle), as the
    pipeline's own jobs are built. The first ``discard`` repetitions only
    warm the job up. ``run.py`` divides the time metrics by the median, so
    the host's faster and slower periods cancel out of them."""
    import pandas as pd
    from pyspark.sql import functions as F

    def strings(batches):
        for b in batches:
            s = b["id"].astype(str)
            yield pd.DataFrame({"k": b["id"] % 997, "v": s.str.replace("1", "xy").str.len()})

    n = cores()
    walls, cpus = [], []
    for i in range(discard + reps):
        cpu0, t0 = tree_cpu_s(), time.time()
        df = spark.range(0, 500_000, numPartitions=2 * n).mapInPandas(strings, "k long, v long")
        rows = df.withColumn("h", F.xxhash64("k", "v")).groupBy("k").agg(F.sum("v"), F.max("h")).collect()
        if len(rows) != 997:
            raise RuntimeError(f"calibration job returned {len(rows)} groups, expected 997")
        if i >= discard:
            walls.append(time.time() - t0)
            cpus.append(tree_cpu_s() - cpu0)
    return {"wall_s": walls, "cpu_s": cpus}


def facade_session(spark, out: str):
    from biocypher_spark.core import BioCypherSpark
    from biocypher_spark.pipeline import DEFAULT_SCHEMA_DICT

    return BioCypherSpark(spark, output_directory=out, schema={k: dict(v) for k, v in DEFAULT_SCHEMA_DICT.items()})


def facade_call(spark, bc, staged: str, c: int):
    """One adapter-style call: ``write_nodes`` then ``write_edges`` of the
    ``c``-th staged node and edge frames."""
    call_dir = os.path.join(staged, f"call_{c:02d}")
    bc.write_nodes(spark.read.parquet(os.path.join(call_dir, "nodes.parquet")))
    bc.write_edges(spark.read.parquet(os.path.join(call_dir, "edges.parquet")))
    return bc


class JvmLost(Exception):
    """The driver JVM is gone (e.g. out of heap): later operations cannot run."""


def _jvm_alive(spark) -> bool:
    try:
        return not spark.sparkContext._jsc.sc().isStopped()
    except Exception:  # py4j raises assorted errors once the gateway is down
        return False


class Workload:
    """Inputs, warm-up, measured operations and checks of one workload."""

    primary = "op"  # kind of operation the latency metrics are taken over

    def __init__(self, spec: dict, seed: int, seconds: float, work: str, events: Events):
        self.spec, self.seed, self.seconds, self.work, self.events = spec, seed, seconds, work, events
        self.spark = None
        self.tracer: Tracer | None = None
        self.op_index = 0

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def units(self, nominal_s: float) -> int:
        """How many units of measured work (a build round, a stream
        trigger) fill the run's seconds, at the nominal time a unit takes on
        the host the benchmark was defined on. The count depends on the
        seconds only, not on how fast the host is today, so every run of a
        workload does the same work."""
        return max(1, round(self.seconds / nominal_s))

    def op(self, kind: str, fn, check=None, **info) -> object:
        """Run one timed operation, then (untimed) check its output."""
        idx = self.op_index
        self.op_index += 1
        if self.tracer is not None:
            self.tracer.op = idx
        self.events.write(kind="start", op=idx, type=kind)
        cpu0 = tree_cpu_s()
        t0 = time.time()
        try:
            result = fn()
        except Exception as exc:  # a failed operation is a result, not a crash
            wall = time.time() - t0
            if self.tracer is not None:
                self.tracer.op = -1
            self.events.write(kind="op", op=idx, type=kind, wall_s=wall, ok=False, error=repr(exc)[:500], **info)
            if not _jvm_alive(self.spark):
                raise JvmLost(repr(exc)[:200]) from exc
            return None
        wall = time.time() - t0
        cpu = tree_cpu_s() - cpu0
        t1 = time.time()
        if self.tracer is not None:
            self.tracer.op = -1
        problems = check(result) if check else []
        self.events.write(kind="op", op=idx, type=kind, wall_s=wall, cpu_s=cpu, start=t0, ok=not problems,
                          problems=problems[:10], check_s=time.time() - t1, **info)
        return result

    # -- hooks -------------------------------------------------------------------------

    def prepare(self) -> dict:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def measure(self) -> None:
        raise NotImplementedError

    def probes(self) -> None:
        """Extra operations of the traced run only, for layers the measured
        operations do not reach."""

    def layer_counts(self) -> dict:
        return {}


# -- build workloads ----------------------------------------------------------------


class BuildWorkload(Workload):
    """``KGPipeline.run`` on a transcripts table, then two ``resume=True``
    re-runs into the same run dir; as many rounds as fill the run's seconds."""

    primary = "build"
    # resume_s is the median of the measured resumes, with no warm-up resume
    # before them: a single resume, a few seconds of mostly driver work that
    # still got faster with every repetition, spread up to a fifth between
    # seeds
    resumes = 2

    def prepare(self) -> dict:
        s = self.spec
        self.input = self.path("input")
        self.input_bytes = gen.write_transcripts(self.input, self.seed, s["turns"], s["proteins"], s["diseases"],
                                                 n_files=s["files"])
        self.ref = oracle.transcript_reference(self.input, linked=True)
        self.warm_input = self.path("warm_input")
        gen.write_transcripts(self.warm_input, self.seed + 1, s["warm_turns"], 50, s["diseases"],
                              n_files=s["files"])
        self.last_out = None
        return {"turns": s["turns"], "input_bytes": self.input_bytes,
                "distinct_surfaces": self.ref["distinct_surfaces"],
                "expected_nodes": sum(len(v) for v in self.ref["nodes"].values()),
                "expected_edges": len(self.ref["triples"])}

    def _read(self, path: str):
        from biocypher_spark.transcripts import read_transcripts

        return read_transcripts(self.spark, path)

    def _build(self, out: str, input_dir: str, resume: bool):
        from biocypher_spark.pipeline import KGPipeline

        return KGPipeline(self.spark, out).run(self._read(input_dir), resume=resume)

    def _check_build(self, out: str, ref: dict):
        def check(res) -> list[str]:
            problems = oracle.check_layout(out, ref, exact=True)
            want = {"nodes": sum(len(v) for v in ref["nodes"].values()), "edges": len(ref["triples"])}
            for k, v in want.items():
                if res.counts.get(k) != v:
                    problems.append(f"PipelineResult.counts[{k!r}] = {res.counts.get(k)}, expected {v}")
            return problems

        return check

    def _check_resume(self, out: str, ref: dict, before: list[str]):
        def check(res) -> list[str]:
            problems = self._check_build(out, ref)(res)
            if parts(out) != before:
                problems.append("resume changed the part files")
            return problems

        return check

    def _round(self, out: str) -> None:
        res = self.op("build", lambda: self._build(out, self.input, False), self._check_build(out, self.ref),
                      rows=self.spec["turns"])
        if res is not None:
            self.events.write(kind="written", op=self.op_index - 1, bytes=du(out))
            self.last_res = res
        before = parts(out)
        for _ in range(self.resumes):
            self.op("resume", lambda: self._build(out, self.input, True), self._check_resume(out, self.ref, before))

    def warmup(self) -> None:
        """The cold first build, on a small hot-vocabulary corpus; its time
        lands in setup_s."""
        ref = oracle.transcript_reference(self.warm_input, linked=True)
        out = self.path("warm_out")
        self.op("warmup_build", lambda: self._build(out, self.warm_input, False), self._check_build(out, ref))
        shutil.rmtree(out, ignore_errors=True)

    def measure(self) -> None:
        for k in range(self.units(self.spec["round_s"])):
            out = self.path("out", f"b{k}")
            self._round(out)
            if self.last_out:
                shutil.rmtree(self.last_out, ignore_errors=True)
            self.last_out = out

    def probes(self) -> None:
        """With ``probe`` in the spec (build_hot_vocab): the hot corpus never
        crosses canonicalize's driver_cc_threshold and the pipeline never
        calls the facade, so the traced run ends with canonicalize forced
        onto its distributed path (blocking, scoring and
        operators.components as Spark jobs) over the last build's mentions,
        checked against the driver path's mapping, and with a short
        ``BioCypherSpark`` session: core, the ordered-parts writer,
        cross-call seen ids and dedup of real duplicates."""
        p = self.spec.get("probe")
        if not p:
            return
        import biocypher_spark.linking as linking
        from biocypher_spark.extract import normalize_surface
        from pyspark.sql import functions as F

        mentions = self.spark.read.parquet(os.path.join(self.last_out, "_run", "mentions"))
        keys = [r["nkey"] for r in mentions.select(normalize_surface(F.col("surface")).alias("nkey"))
                .filter(F.col("nkey").isNotNull()).distinct().collect()]
        local = linking.canonicalize_local(keys)
        want = {k: local.get(k, k) for k in keys}

        def distributed() -> dict:
            mapping = linking.canonicalize(mentions, driver_cc_threshold=0)
            return {r["nkey"]: r["canonical_id"] for r in mapping.collect()}

        def check_linking(got: dict) -> list[str]:
            bad = sum(got.get(k) != v for k, v in want.items()) + len(set(got) - set(want))
            return [f"distributed linking differs from the driver path on {bad} of {len(want)} surfaces"] if bad else []

        self.op("probe_linking", distributed, check_linking)

        staged, out = self.path("probe_staged"), self.path("probe_out")
        gen.write_facade_calls(staged, self.seed, p["calls"], p["rows"], p["ids"])
        dirs = [os.path.join(staged, f"call_{c:02d}") for c in range(p["calls"])]
        bc = facade_session(self.spark, out)
        for c in range(p["calls"]):
            ref = oracle.facade_reference(dirs[: c + 1])
            if self.op("probe_call", lambda: facade_call(self.spark, bc, staged, c),
                       lambda _, ref=ref: oracle.check_layout(out, ref, exact=True)) is None:
                break
        self.probe_out, self.probe_rows_in = out, ref["rows_in"]

    def layer_counts(self) -> dict:
        """Counts for the traced run, taken after the measured operations
        from the last build's output (outside every span)."""
        from biocypher_spark.extract import normalize_surface
        from biocypher_spark.linking import candidate_pairs_guarded, score_pairs
        from pyspark.sql import functions as F

        out, res = self.last_out, self.last_res
        counts = {"extract.mentions_out": res.counts["mentions"],
                  "translate.rows_out": res.counts["nodes"] + res.counts["edges"],
                  "translate.missing_rows": sum(r["count"] for r in res.missing_types.collect())}
        mentions = self.spark.read.parquet(os.path.join(out, "_run", "mentions"))
        surfaces = (mentions.select(normalize_surface(F.col("surface")).alias("nkey"))
                    .filter(F.col("nkey").isNotNull()).distinct().persist())
        n = surfaces.count()
        pairs = candidate_pairs_guarded(surfaces, threshold=0.35).persist()
        cand = pairs.count()
        acc = score_pairs(pairs, 0.35).count()
        pairs.unpersist()
        surfaces.unpersist()
        counts.update({"linking.distinct_surfaces": n, "linking.path": 1 if n >= 200_000 else 0,
                       "linking.candidate_pairs": cand, "linking.accepted_pairs": acc,
                       "linking.pair_yield": acc / cand if cand else 0.0})
        stats = oracle.layout_stats(out)
        counts.update({f"writer.{k}": v for k, v in stats.items()})
        if self.spec.get("probe"):
            # the pipeline writer keeps no seen state and gets distinct
            # tuples: its dedup is the facade probe's
            lines = oracle.layout_stats(self.probe_out)["lines"]
            counts["dedup.dup_ratio"] = 1 - lines / self.probe_rows_in
            counts["dedup.seen_keys"] = lines  # every written id is a seen key and every seen key was written
        return counts


# -- stream workload -----------------------------------------------------------------------


def trigger_start(progress: dict) -> float:
    """Epoch seconds at which a stream trigger started."""
    from datetime import datetime

    return datetime.fromisoformat(progress["timestamp"].replace("Z", "+00:00")).timestamp()


class StreamWorkload(Workload):
    """``stream_kg`` with ``available_now`` over one small parquet file per
    trigger, from a fresh checkpoint; then three restarts on the drained
    checkpoint (the stream's resume)."""

    primary = "stream"  # the whole drained stream; its triggers are the latency samples
    resumes = 3  # restarts; see BuildWorkload.resumes
    # warm-up triggers: after a single one, the measured triggers still got
    # faster one by one as the JIT caught up
    warm_files = 2

    def prepare(self) -> dict:
        s = self.spec
        self.input = self.path("input")
        self.files = self.units(s["trigger_s"])
        turns = s["batch_turns"] * self.files
        self.input_bytes = gen.write_transcripts(self.input, self.seed, turns, s["proteins"], s["diseases"],
                                                 n_files=self.files)
        self.ref = oracle.transcript_reference(self.input, linked=False)
        self.warm_input = self.path("warm_input")
        gen.write_transcripts(self.warm_input, self.seed + 1, s["warm_turns"], s["proteins"], s["diseases"],
                              n_files=self.warm_files)
        return {"turns": turns, "input_bytes": self.input_bytes, "files": self.files,
                "distinct_surfaces": self.ref["distinct_surfaces"],
                "expected_nodes": sum(len(v) for v in self.ref["nodes"].values()),
                "expected_edges": len(self.ref["triples"])}

    def _stream(self, input_dir: str, out: str, ckpt: str):
        from biocypher_spark.streaming.stream import stream_kg

        def drain():
            q = stream_kg(self.spark, input_dir, out, ckpt, available_now=True, max_files_per_trigger=1)
            q.awaitTermination()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return q

        if self.tracer is None:
            return drain()
        with self.tracer.span("stream.run"):
            return drain()

    def _check(self, out: str, ref: dict):
        return lambda q: oracle.check_layout(out, ref, exact=True)

    def measure(self) -> None:
        self.batches = []
        input_dir, ref = self.input, self.ref
        out, ckpt = self.path("out"), self.path("ckpt")
        files = self.files
        with CpuSampler() as cpu:
            q = self.op("stream", lambda: self._stream(input_dir, out, ckpt), self._check(out, ref),
                        rows=self.spec["batch_turns"] * files, batches=files)
        self.stream_op = self.op_index - 1
        if q is not None:
            self.batches = [p for p in q.recentProgress if p["numInputRows"] > 0]
            spans = [(trigger_start(p), trigger_start(p) + p["durationMs"]["triggerExecution"] / 1000.0)
                     for p in self.batches]
            self.events.write(kind="batches", op=self.op_index - 1,
                              latencies=[t1 - t0 for t0, t1 in spans],
                              cpu=[cpu.between(t0, t1) for t0, t1 in spans],
                              rows=[p["numInputRows"] for p in self.batches])
            self.events.write(kind="written", op=self.op_index - 1, bytes=du(out) + du(ckpt))
            self.out = out
        before = parts(out)

        def check_restart(q) -> list[str]:
            problems = self._check(out, ref)(q)
            if parts(out) != before:
                problems.append("restart changed the part files")
            return problems

        for _ in range(self.resumes):
            self.op("resume", lambda: self._stream(input_dir, out, ckpt), check_restart)

    def warmup(self) -> None:
        """A cold stream over ``warm_files`` small files; its time lands in
        setup_s."""
        out, ckpt = self.path("warm_out"), self.path("warm_ckpt")
        ref = oracle.transcript_reference(self.warm_input, linked=False)
        self.op("warmup_stream", lambda: self._stream(self.warm_input, out, ckpt), self._check(out, ref))

    def add_batch_spans(self) -> None:
        """Synthetic ``stream.batch`` spans (and plan / addBatch / walCommit
        children) from ``StreamingQuery.recentProgress``; spans the wrappers
        recorded inside a batch are re-parented under it."""
        tr = self.tracer
        stream_op = self.stream_op
        for p in self.batches:
            start = trigger_start(p)
            d = p["durationMs"]
            batch = Span(len(tr.spans), "stream.batch", None, start, start + d["triggerExecution"] / 1000.0,
                         op=stream_op)
            inner = [sp for sp in tr.spans if sp.op == stream_op and sp.name != "stream.run"
                     and batch.start <= sp.start and sp.end <= batch.end]
            run = next((sp for sp in tr.spans if sp.name == "stream.run" and sp.op == stream_op), None)
            batch.parent = run.sid if run else None
            tr.spans.append(batch)
            for sp in inner:
                if sp.parent is None or sp.parent == batch.parent:
                    sp.parent = batch.sid
            plan = (d.get("latestOffset", 0) + d.get("getBatch", 0) + d.get("queryPlanning", 0)) / 1000.0
            t = start
            for name, dur in (("stream.plan", plan), ("stream.add_batch", d.get("addBatch", 0) / 1000.0),
                              ("stream.wal_commit", d.get("walCommit", 0) / 1000.0)):
                tr.spans.append(Span(len(tr.spans), name, batch.sid, t, t + dur, op=stream_op))
                t += dur

    def layer_counts(self) -> dict:
        from biocypher_spark.streaming.stream import read_stream_state

        stats = oracle.layout_stats(self.out)
        state = read_stream_state(self.spark, self.out)
        meta = os.path.join(self.out, "_stream_meta")
        rows_in = self.ref["per_file_rows"]
        return {
            **{f"writer.{k}": v for k, v in stats.items()},
            "stream.state_bytes": du(meta),
            "stream.generations": len(glob.glob(os.path.join(meta, "_seen_b*"))),
            "dedup.seen_keys": state.get("seen_nodes", 0) + state.get("seen_edges", 0),
            "dedup.dup_ratio": 1 - stats["lines"] / rows_in if rows_in else 0.0,
            "translate.rows_out": rows_in,
        }


# -- facade workload ------------------------------------------------------------------


class FacadeWorkload(Workload):
    """One ``BioCypherSpark`` session calling ``write_nodes`` then
    ``write_edges`` with staged DataFrames, ``calls`` times, with the
    writer's defaults (ordered parts, cross-call seen ids, property
    validation). Its resume is the replay of the last call in a fresh
    session: what redoing a lost call costs without accumulated state."""

    primary = "call"

    def prepare(self) -> dict:
        s = self.spec
        self.staged = self.path("staged")
        self.input_bytes = gen.write_facade_calls(self.staged, self.seed, s["calls"], s["rows"], s["ids"])
        self.call_dirs = [os.path.join(self.staged, f"call_{c:02d}") for c in range(s["calls"])]
        self.refs = [oracle.facade_reference(self.call_dirs[: c + 1]) for c in range(s["calls"])]
        self.warm_staged = self.path("warm_staged")
        gen.write_facade_calls(self.warm_staged, self.seed + 1, 1, s["warm_rows"], s["ids"])
        return {"calls": s["calls"], "rows_per_call": 2 * s["rows"], "input_bytes": self.input_bytes,
                "expected_nodes": sum(len(v) for v in self.refs[-1]["nodes"].values()),
                "expected_edges": len(self.refs[-1]["triples"])}

    def warmup(self) -> None:
        out = self.path("warm_out")
        ref = oracle.facade_reference([os.path.join(self.warm_staged, "call_00")])
        self.op("warmup_call", lambda: facade_call(self.spark, facade_session(self.spark, out), self.warm_staged, 0),
                lambda bc: oracle.check_layout(out, ref, exact=True))

    def measure(self) -> None:
        out = self.path("out")
        self.out = out
        bc = facade_session(self.spark, out)
        self.bc = bc
        n = self.spec["traced_calls" if self.tracer is not None else "calls"]
        self.events.write(kind="plan", ops=n, type="call")
        self.calls_made = 0
        for c in range(n):
            if self.op("call", lambda: facade_call(self.spark, bc, self.staged, c),
                       lambda bc, c=c: oracle.check_layout(out, self.refs[c], exact=True),
                       rows=2 * self.spec["rows"]) is None:
                break
            self.calls_made = c + 1
        self.events.write(kind="written", op=self.op_index - 1, bytes=du(out))
        last = n - 1
        replay_out = self.path("replay_out")
        replay_ref = oracle.facade_reference(self.call_dirs[last : last + 1])
        self.op("resume", lambda: facade_call(self.spark, facade_session(self.spark, replay_out), self.staged, last),
                lambda bc: oracle.check_layout(replay_out, replay_ref, exact=True))

    def layer_counts(self) -> dict:
        stats = oracle.layout_stats(self.out)
        rows_in = self.refs[self.calls_made - 1]["rows_in"] if self.calls_made else 0
        missing = self.bc.log_missing_input_labels() or {}
        return {
            **{f"writer.{k}": v for k, v in stats.items()},
            "dedup.dup_ratio": 1 - stats["lines"] / rows_in if rows_in else 0.0,
            # every written id is a seen key and every seen key was written
            "dedup.seen_keys": stats["lines"],
            "translate.rows_out": rows_in,
            "translate.missing_rows": sum(missing.values()),
        }


WORKLOADS = {
    "build_hot_vocab": BuildWorkload,
    "build_wide_vocab": BuildWorkload,
    "stream_microbatch": StreamWorkload,
    "facade_multicall": FacadeWorkload,
}


def start_session(work: str, heap: str, trace: bool):
    from pyspark.sql import SparkSession

    n = cores()
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", heap)
        # a fixed heap (initial = maximum): the driver's resident size then
        # does not depend on when G1 decided to grow the heap, which made
        # peak memory differ by a quarter between runs of the same input
        .config("spark.driver.extraJavaOptions", f"-Xms{heap}")
        .config("spark.sql.shuffle.partitions", str(2 * n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", os.path.join(work, "eventlog"))
             .config("spark.eventLog.compress", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def per_layer(wl: Workload, tracer: Tracer, counters: dict, stages: dict, jobs: list) -> dict:
    """Per-layer metrics: for each span name, the counters of its outermost
    spans summed per operation, as the median over the primary operations;
    plus the run's counts."""
    by_id = {sp.sid: sp for sp in tracer.spans}
    op_kind = {}
    with open(os.path.join(wl.work, "events.jsonl"), encoding="utf-8") as fh:
        for line in fh:
            rec = json.loads(line)
            if rec.get("kind") == "op":
                op_kind[rec["op"]] = rec
    primary = [i for i, r in op_kind.items() if r["type"] == wl.primary and r["ok"]]
    resumes = [i for i, r in op_kind.items() if r["type"] == "resume" and r["ok"]]

    def outermost(sp: Span) -> bool:
        p = sp.parent
        while p is not None:
            if by_id[p].name == sp.name:
                return False
            p = by_id[p].parent
        return True

    def per_op(ops: list[int]) -> dict[str, dict]:
        acc: dict[tuple, dict] = {}
        for sp in tracer.spans:
            if sp.op in ops and outermost(sp):
                a = acc.setdefault((sp.name, sp.op), {})
                for k, v in counters[sp.sid].items():
                    a[k] = a.get(k, 0) + v
        out: dict[str, dict] = {}
        names = {name for name, _ in acc}
        for name in names:
            rows = [acc.get((name, o), {}) for o in ops]
            keys = {k for r in rows for k in r}
            out[name] = {k: statistics.median(r.get(k, 0) for r in rows) for k in keys}
        return out

    metrics: dict[str, float] = {}
    for name, vals in per_op(primary).items():
        for k, v in vals.items():
            metrics[f"{name}.{k}"] = v
    for name, vals in per_op(resumes).items():
        if name in ("pipeline.run", "linking.canonicalize", "materialize"):
            metrics[f"resume.{name}.wall_s"] = vals.get("wall_s", 0.0)
        if name.startswith("pipeline.checkpoint."):
            metrics["resume.pipeline.checkpoint.wall_s"] = (
                metrics.get("resume.pipeline.checkpoint.wall_s", 0.0) + vals.get("wall_s", 0.0))
    # the probes of the traced build_hot_vocab run (BuildWorkload.probes)
    probe_calls = [i for i, r in op_kind.items() if r["type"] == "probe_call" and r["ok"]]
    for name, vals in per_op(probe_calls).items():
        if name.startswith("core."):
            metrics.update({f"{name}.{k}": v for k, v in vals.items()})
    probe_linking = [i for i, r in op_kind.items() if r["type"] == "probe_linking" and r["ok"]]
    for name, vals in per_op(probe_linking).items():
        if name == "components":
            metrics.update({f"components.{k}": v for k, v in vals.items()})
        elif name == "linking.canonicalize":
            metrics["linking.distributed.wall_s"] = vals["wall_s"]
    if isinstance(wl, StreamWorkload):
        walls = [p["durationMs"]["triggerExecution"] / 1000.0 for p in wl.batches]
    else:
        walls = [op_kind[i]["wall_s"] for i in primary]
    # same definition as the end-to-end op_p50_s, for the tracing overhead
    metrics["trace.op_p50_s"] = statistics.median(walls) if walls else 0.0
    if resumes:
        metrics["resume.wall_s"] = statistics.median(op_kind[i]["wall_s"] for i in resumes)
    # engine-level: task time over core time during the primary operations
    n = cores()
    run_s = cpu_s = gc_s = 0.0
    wall = 0.0
    for i in primary:
        r = op_kind[i]
        lo, hi = r["start"], r["start"] + r["wall_s"]
        wall += r["wall_s"]
        for job in jobs:
            if lo <= job.start <= hi:
                for sid in job.stages:
                    st = stages.get(sid)
                    if st:
                        run_s += st.run_s
                        cpu_s += st.cpu_s
                        gc_s += st.gc_s
    k = max(len(primary), 1)
    metrics["spark.core_util"] = run_s / (wall * n) if wall else 0.0
    metrics["spark.gc_s"] = gc_s / k
    metrics["spark.task_cpu_s"] = cpu_s / k
    metrics["spark.tree_cpu_s"] = statistics.median(op_kind[i]["cpu_s"] for i in primary) if primary else 0.0
    metrics["materialize.pins"] = tracer.counts.get("materialize.pins", 0) / max(len(primary) + len(resumes), 1)
    return metrics


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spec", required=True, help="workload spec as JSON")
    ap.add_argument("--trace-file", default="")
    args = ap.parse_args()
    spec = json.loads(args.spec)

    events = Events(os.path.join(args.work, "events.jsonl"))
    wl = WORKLOADS[args.workload](spec, args.seed, args.seconds, args.work, events)
    t = time.time()
    info = wl.prepare()
    events.write(kind="input", gen_s=time.time() - t, cores=cores(), heap=spec["heap"], **info)

    t0 = time.time()
    spark = start_session(args.work, spec["heap"], bool(args.trace))
    wl.spark = spark
    session_s = time.time() - t0
    try:
        wl.warmup()
    except JvmLost as exc:
        events.write(kind="fatal", error=str(exc))
        return 3
    events.write(kind="setup", session_s=session_s, setup_s=time.time() - t0)

    tracer = None
    if args.trace:
        tracer = Tracer()
        tracer.install(spark)
        wl.tracer = tracer
    else:
        events.write(kind="calibration", phase="before", **calibrate(spark, CALIBRATION_REPS, discard=1))
    try:
        wl.measure()
        if tracer is not None:
            wl.probes()
    except JvmLost as exc:
        events.write(kind="fatal", error=str(exc))
        return 0
    if tracer is None:
        events.write(kind="calibration", phase="after", **calibrate(spark, CALIBRATION_REPS))
        spark.stop()
    else:
        tracer.uninstall()
        if isinstance(wl, StreamWorkload):
            wl.add_batch_spans()
        counts = wl.layer_counts()
        spark.stop()
        logs = glob.glob(os.path.join(args.work, "eventlog", "*"))
        jobs, stages = parse_event_log(logs[0]) if logs else ([], {})
        counters = span_counters(tracer.spans, jobs, stages)
        metrics = per_layer(wl, tracer, counters, stages, jobs)
        metrics.update(counts)
        tracer.dump(args.trace_file, counters, {"workload": args.workload, "seed": args.seed,
                                                "per_layer": metrics, "jobs": len(jobs)})
        events.write(kind="trace", per_layer=metrics)
    events.write(kind="done")
    events.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
