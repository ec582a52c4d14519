"""Self-tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import oracle  # noqa: E402
import proctree  # noqa: E402
from run import CAL_REF, summarize, tail_latency  # noqa: E402
from spans import Job, Span, Stage, self_times, span_counters, union_length  # noqa: E402


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            with open(os.path.join(dirpath, f), "rb") as fh:
                h.update(f.encode() + fh.read())
    return h.hexdigest()


def _spec(name: str) -> dict:
    with open(os.path.join(os.path.dirname(HERE), "workloads.json"), encoding="utf-8") as fh:
        return json.load(fh)["workloads"][name]


def test_transcripts_same_seed_byte_identical(tmp_path):
    a = gen.write_transcripts(str(tmp_path / "a"), 7, 3000, 50, 20, n_files=3)
    b = gen.write_transcripts(str(tmp_path / "b"), 7, 3000, 50, 20, n_files=3)
    c = gen.write_transcripts(str(tmp_path / "c"), 8, 3000, 50, 20, n_files=3)
    assert a == b
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))
    assert c > 0


def test_facade_same_seed_byte_identical(tmp_path):
    gen.write_facade_calls(str(tmp_path / "a"), 3, 2, 400, 1000)
    gen.write_facade_calls(str(tmp_path / "b"), 3, 2, 400, 1000)
    gen.write_facade_calls(str(tmp_path / "c"), 4, 2, 400, 1000)
    assert _digest(str(tmp_path / "a")) == _digest(str(tmp_path / "b"))
    assert _digest(str(tmp_path / "a")) != _digest(str(tmp_path / "c"))


def test_transcripts_shape():
    t = gen.transcripts_table(5, 5000, 50, 20).to_pydict()
    keys = set(zip(t["conv_id"], t["turn_idx"]))
    assert len(keys) == 5000  # (conv_id, turn_idx) is unique
    hot = sum(c.startswith("hot") for c in t["conv_id"]) / 5000
    assert 0.17 < hot < 0.23
    assert any("\n" in x and "'" in x and ";" in x for x in t["text"])


def test_wide_vocab_crosses_driver_cc_threshold():
    """The wide corpus must take canonicalize's distributed path: at least
    driver_cc_threshold distinct normalized surfaces (see
    biocypher_spark.linking.canonicalize)."""
    s = _spec("build_wide_vocab")
    t = gen.transcripts_table(11, s["turns"], s["proteins"], s["diseases"]).column("text").to_pylist()
    pat = re.compile(r"(?:PROT|prot-|Protein )\d+|DIS\d+")
    norm = {re.sub(r"[^a-z0-9]", "", m.lower()) for x in t for m in pat.findall(x)}
    assert len(norm) >= 200_000 * 1.03  # with a margin over the threshold


def test_hot_vocab_stays_on_driver_path(tmp_path):
    s = _spec("build_hot_vocab")
    gen.write_transcripts(str(tmp_path), 2, s["turns"], s["proteins"], s["diseases"], n_files=s["files"])
    ref = oracle.transcript_reference(str(tmp_path))
    assert 100 <= ref["distinct_surfaces"] <= 120
    assert len(ref["nodes"]["protein"]) == 50 and len(ref["nodes"]["disease"]) == 20


def test_union_length_and_self_times():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    spans = [
        Span(0, "root", None, 0.0, 10.0),
        Span(1, "a", 0, 1.0, 4.0),
        Span(2, "b", 0, 3.0, 6.0),  # overlaps a: covered 1..6 -> 5 s
        Span(3, "c", 1, 2.0, 3.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)


def test_span_counters_driver_time_and_inclusion():
    spans = [Span(0, "run", None, 100.0, 110.0), Span(1, "write", 0, 104.0, 109.0)]
    stages = {
        1: Stage(1, 101.0, 103.0, cpu_s=4.0, run_s=5.0, shuffle_write_bytes=10),
        2: Stage(2, 105.0, 107.0, cpu_s=2.0, run_s=3.0),
        3: Stage(3, 106.0, 108.0, cpu_s=1.0, run_s=1.0, spill_bytes=7),
    }
    jobs = [Job(0, 101.0, 103.0, [1]), Job(1, 105.0, 108.0, [2, 3])]
    c = span_counters(spans, jobs, stages)
    # the write span owns job 1, whose stages are busy 105..108
    assert c[1]["jobs"] == 1
    assert c[1]["stage_busy_s"] == pytest.approx(3.0)
    assert c[1]["driver_s"] == pytest.approx(2.0)
    assert c[1]["task_cpu_s"] == pytest.approx(3.0)
    assert c[1]["spill_bytes"] == 7
    # the run span includes its child's job: busy 101..103 + 105..108
    assert c[0]["jobs"] == 2
    assert c[0]["stage_busy_s"] == pytest.approx(5.0)
    assert c[0]["driver_s"] == pytest.approx(5.0)
    assert c[0]["self_s"] == pytest.approx(5.0)
    assert c[0]["shuffle_write_bytes"] == 10


def test_tail_latency():
    assert tail_latency([3.0, 1.0, 2.0]) == (100.0, 3.0)
    pct, v = tail_latency([float(i) for i in range(1, 41)])
    assert pct == pytest.approx(75.0) and v == 30.0  # ten samples (31..40) beyond it


def test_summarize_counts_unfinished_and_planned_ops_as_failed():
    events = [
        {"kind": "input", "input_bytes": 100},
        {"kind": "setup", "setup_s": 9.0},
        {"kind": "calibration", "phase": "before", "wall_s": [2.0, 2.0, 2.0], "cpu_s": [8.0, 8.0, 8.0]},
        {"kind": "plan", "ops": 4, "type": "call"},
        {"kind": "start", "op": 0, "type": "call"},
        {"kind": "op", "op": 0, "type": "call", "wall_s": 2.0, "cpu_s": 5.0, "ok": True, "rows": 10},
        {"kind": "start", "op": 1, "type": "call"},
        {"kind": "op", "op": 1, "type": "call", "wall_s": 3.0, "cpu_s": 6.0, "ok": False, "problems": ["x"], "rows": 10},
        {"kind": "start", "op": 2, "type": "call"},  # killed at the deadline
    ]
    res = summarize(events, 100.0, trace=False)
    assert res["attempted"] == 4 and res["failed"] == 3
    assert res["correct"] is False
    m = res["metrics"]
    assert m["raw_wall:op_p50_s"] == 2.0 and m["raw_cpu:op_p50_s"] == 5.0


def test_time_metrics_scale_with_the_calibration():
    """A host twice as slow doubles both the operations and the calibration
    job: the gated metrics stay the same."""
    def events(slow: float) -> list:
        return [
            {"kind": "input", "input_bytes": 100},
            {"kind": "setup", "setup_s": 9.0 * slow},
            {"kind": "calibration", "phase": "before", "wall_s": [1.0 * slow, 1.1 * slow], "cpu_s": [4.0 * slow]},
            {"kind": "calibration", "phase": "after", "wall_s": [0.9 * slow], "cpu_s": [4.0 * slow]},
            {"kind": "op", "op": 0, "type": "build", "wall_s": 8.0 * slow, "cpu_s": 24.0 * slow, "ok": True,
             "rows": 800},
            {"kind": "op", "op": 1, "type": "resume", "wall_s": 3.0 * slow, "cpu_s": 7.0 * slow, "ok": True},
        ]

    fast = summarize(events(1.0), 100.0, trace=False)["metrics"]
    slow = summarize(events(2.0), 100.0, trace=False)["metrics"]
    for k in ("turns_per_s", "op_p50_s", "op_tail_s", "resume_s", "setup_s"):
        assert slow[k] == pytest.approx(fast[k]), k
    # operations on the CPU clock, set-up on the wall clock, each over its own calibration median
    assert fast["op_p50_s"] == pytest.approx(24.0 * CAL_REF["cpu_s"] / 4.0)
    assert fast["resume_s"] == pytest.approx(7.0 * CAL_REF["cpu_s"] / 4.0)
    assert fast["turns_per_s"] == pytest.approx(800 / fast["op_p50_s"])
    assert fast["setup_s"] == pytest.approx(9.0 * CAL_REF["wall_s"] / 1.0)
    assert slow["raw_wall:op_p50_s"] == 16.0 and slow["cal:cpu_s"] == 8.0


def test_check_layout_detects_mismatch(tmp_path):
    out = tmp_path
    (out / "Protein-header.csv").write_text(":ID;name;id;preferred_id;:LABEL")
    (out / "Protein-part000.csv").write_text("protein:prot1;'PROT1';protein:prot1;canon;Protein\n")
    (out / "INTERACTS_WITH-header.csv").write_text(":START_ID;id;turns:long;:END_ID;:TYPE")
    (out / "INTERACTS_WITH-part000.csv").write_text(
        "protein:prot1;protein:prot1_protein:prot2;3;protein:prot2;INTERACTS_WITH\n"
    )
    ref = {"nodes": {"protein": {"protein:prot1"}},
           "triples": {("protein:prot1", "protein_protein", "protein:prot2")}}
    assert oracle.check_layout(str(out), ref, exact=True) == []
    ref["triples"] = {("protein:prot1", "protein_protein", "protein:prot3")}
    assert oracle.check_layout(str(out), ref, exact=True)
    (out / "Protein-part001.csv").write_text("protein:prot2;'PROT2';protein:prot2;canon\n")
    problems = oracle.check_layout(str(out), {"nodes": {"protein": {"protein:prot1", "protein:prot2"}},
                                              "triples": set()}, exact=False)
    assert any("disagree" in p for p in problems)


def test_process_tree_walk_finds_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in proctree.descendants(os.getpid())
        assert os.getpid() in proctree.descendants(os.getpid())
        assert proctree.tree_cpu_s() > 0
    finally:
        child.kill()
        child.wait()
