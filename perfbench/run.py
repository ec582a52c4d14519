"""KG-construction benchmark for biocypher_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --workload all [--seed <n>] [--seconds <s>]

Run from the root of a checkout. Each run generates its inputs from the seed
(``gen.py``), starts a worker process of its own (``worker.py``: a fresh
Spark driver JVM on ``local[<nproc>]`` with the workload's fixed heap) under
a wall deadline, samples the resident memory of the worker's process tree,
and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of ``BENCHMARK.json``; with ``--trace 1``
they are the per-layer metrics, and the spans go to
``perfbench/_out/trace_<workload>_s<seed>.json``.

``--workload all`` runs every workload in ``workloads.json`` untraced and
traced, prints a table of every end-to-end metric by name and unit, and the
traced-minus-untraced overhead of each workload.

Exits non-zero without a result when the program under test is missing or
the worker could not set up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from proctree import descendants  # noqa: E402
DEADLINE_S = 170.0  # default per-run deadline: the run, this process included, ends within 180 s


def load_spec() -> dict:
    with open(os.path.join(HERE, "workloads.json"), encoding="utf-8") as fh:
        return json.load(fh)


def tail_latency(samples: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and its
    value (nearest rank). With ten samples or fewer no percentile qualifies
    and the maximum is reported as percentile 100."""
    s = sorted(samples)
    n = len(s)
    if n <= 10:
        return 100.0, s[-1]
    rank = n - 10  # 1-based rank: samples above it number exactly ten
    return 100.0 * rank / n, s[rank - 1]


class RssSampler:
    """Peak resident memory of a process and all its descendants, summed as
    proportional set size."""

    def __init__(self, pid: int, interval: float = 0.5):
        self.pid, self.interval, self.peak_kb = pid, interval, 0
        self.peak_parts: dict[str, int] = {}  # kB per process name at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self) -> None:
        while not self._stop.is_set():
            total, parts = 0, {}
            for p in descendants(self.pid):
                try:
                    with open(f"/proc/{p}/comm", encoding="ascii", errors="replace") as fh:
                        name = fh.read().strip()
                    # proportional set size: pages shared between processes
                    # (forked Python workers, a JVM between fork and exec)
                    # are split among them instead of counted once per process
                    with open(f"/proc/{p}/smaps_rollup", encoding="ascii", errors="replace") as fh:
                        for line in fh:
                            if line.startswith("Pss:"):
                                kb = int(line.split()[1])
                                total += kb
                                parts[name] = parts.get(name, 0) + kb
                                break
                except OSError:
                    continue
            if total > self.peak_kb:
                self.peak_kb, self.peak_parts = total, parts
            self._stop.wait(self.interval)


def run_worker(workload: str, spec: dict, seed: int, seconds: float, trace: bool, root: str,
               deadline: float) -> tuple[list[dict], int, float, bool]:
    """Start one worker, wait until it ends or the deadline passes.
    Returns (events, exit code, peak RSS in MB, killed)."""
    work = os.path.join(root, "perfbench", "_work", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_file = os.path.join(root, "perfbench", "_out", f"trace_{workload}_s{seed}.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(p for p in (root, env.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(int(trace)), "--work", work,
           "--spec", json.dumps(spec), "--trace-file", trace_file]
    try:
        return _supervise(workload, cmd, root, env, work, deadline)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there


def _supervise(workload: str, cmd: list[str], root: str, env: dict, work: str,
               deadline: float) -> tuple[list[dict], int, float, bool]:
    with open(os.path.join(work, "worker.log"), "wb") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=log, stderr=subprocess.STDOUT,
                                start_new_session=True)
        sampler = RssSampler(proc.pid).start()
        killed = False
        try:
            proc.wait(timeout=max(deadline - time.time(), 1.0))
        except subprocess.TimeoutExpired:
            killed = True
        finally:
            sampler.stop()
            _kill_group(proc)  # the worker, its JVM and any Python workers left
    events = []
    path = os.path.join(work, "events.jsonl")
    if os.path.exists(path):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    break  # a line cut by the kill
    if proc.returncode not in (0, None) or killed:
        with open(os.path.join(work, "worker.log"), "rb") as fh:
            tail = fh.read()[-3000:].decode("utf-8", "replace")
        sys.stderr.write(f"[perfbench] {workload}: worker exit {proc.returncode}, killed={killed}\n{tail}\n")
    parts = {k: round(v / 1024.0) for k, v in sorted(sampler.peak_parts.items())}
    sys.stderr.write(f"[perfbench] {workload}: peak memory {sampler.peak_kb / 1024.0:.0f} MB PSS, by process: {parts}\n")
    return events, proc.returncode, sampler.peak_kb / 1024.0, killed


def _kill_group(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        return
    try:
        proc.wait(timeout=10)
    except subprocess.TimeoutExpired:
        pass
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    # the group may outlive its leader for a moment; wait until it is empty
    for _ in range(50):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def summarize(events: list[dict], peak_mb: float, trace: bool) -> dict:
    """Operations, failures and metrics from a worker's event log."""
    by_kind: dict[str, list[dict]] = {}
    for e in events:
        by_kind.setdefault(e["kind"], []).append(e)
    ops = {e["op"]: e for e in by_kind.get("op", [])}
    started = {e["op"]: e for e in by_kind.get("start", [])}
    unfinished = [i for i in started if i not in ops]
    planned = sum(e["ops"] for e in by_kind.get("plan", []))
    done_planned = sum(1 for e in ops.values() if e["type"] == "call")
    attempted = failed = 0
    mismatches = 0
    for e in ops.values():
        n = e.get("batches", 1)
        attempted += n
        if not e["ok"]:
            failed += n
            mismatches += bool(e.get("problems"))
    attempted += len(unfinished)
    failed += len(unfinished)
    # planned calls never started (the worker died or hit the deadline first)
    missing = max(planned - done_planned - sum(1 for i in unfinished if started[i]["type"] == "call"), 0)
    attempted += missing
    failed += missing
    checked = sum(1 for e in ops.values() if e["ok"] or e.get("problems"))
    correct = mismatches == 0 and checked > 0
    result = {"correct": correct, "attempted": max(attempted, 1), "failed": failed if attempted else 1}
    if trace:
        tr = by_kind.get("trace")
        result["metrics"] = tr[-1]["per_layer"] if tr else {}
        return result
    result["metrics"] = end_to_end(by_kind, ops, peak_mb)
    return result


# Operation times are process-tree CPU seconds, which do not count the time
# the hypervisor gives the CPUs to other guests; set-up is wall time. Both are
# divided by the run's calibration median on the same clock
# (worker.calibrate: a fixed Spark job on the same JVM and Python workers,
# timed before and after the measured operations) and multiplied by CAL_REF,
# the calibration median on the host the benchmark was defined on (4 vCPUs).
# So they read as seconds on that host, and the host's faster and slower
# periods, which change the operations and the calibration alike, cancel out.
CAL_REF = {"cpu_s": 3.5, "wall_s": 1.0}


def op_metrics(by_kind: dict, ok: list[dict], clock: str) -> dict:
    """Throughput, latency and resume time of the successful operations on
    one clock (``wall_s`` or ``cpu_s``)."""
    m: dict[str, float] = {}
    primary = [e for e in ok if e["type"] in ("build", "call")]
    latencies = [e[clock] for e in primary]
    rates = [e["rows"] / e[clock] for e in primary]
    ok_ids = {e["op"] for e in ok}
    for e in by_kind.get("batches", []):
        if e["op"] in ok_ids:
            latencies.extend(e["latencies" if clock == "wall_s" else "cpu"])
    rates += [e["rows"] / e[clock] for e in ok if e["type"] == "stream"]
    resumes = [e[clock] for e in ok if e["type"] == "resume"]
    if rates:
        m["turns_per_s"] = statistics.median(rates)
    if latencies:
        m["op_p50_s"] = statistics.median(latencies)
        m["_op_tail_pct"], m["op_tail_s"] = tail_latency(latencies)
        m["_op_samples"] = len(latencies)
    if resumes:
        m["resume_s"] = statistics.median(resumes)
    return m


def end_to_end(by_kind: dict, ops: dict, peak_mb: float) -> dict:
    """End-to-end metrics; the uncalibrated times on both clocks and the
    calibration medians go under ``raw_cpu:``, ``raw_wall:`` and ``cal:``
    names, reported on stderr and not gated."""
    info = (by_kind.get("input") or [{}])[-1]
    setup = (by_kind.get("setup") or [{}])[-1]
    ok = [e for e in ops.values() if e["ok"]]
    cals = by_kind.get("calibration", [])
    m: dict[str, float] = {}
    for clock in CAL_REF:
        times = op_metrics(by_kind, ok, clock)
        if clock == "wall_s" and "setup_s" in setup:
            times["setup_s"] = setup["setup_s"]
        m.update({f"raw_{clock[:-2]}:{k}": v for k, v in times.items() if not k.startswith("_")})
        if not cals:
            continue
        cal = statistics.median(v for e in cals for v in e[clock])
        m[f"cal:{clock}"] = cal
        scale = CAL_REF[clock] / cal
        gated = times if clock == "cpu_s" else {"setup_s": times.get("setup_s")}
        for k, v in gated.items():
            if v is not None:
                m[k] = v if k.startswith("_") else v / scale if k == "turns_per_s" else v * scale
    m["peak_rss_mb"] = peak_mb
    written = [w["bytes"] for w in by_kind.get("written", [])]
    if written and info.get("input_bytes"):
        m["written_bytes_per_input_byte"] = statistics.median(written) / info["input_bytes"]
    return m


def _steal_ticks() -> int:
    """CPU time the hypervisor gave to other guests (``/proc/stat``), in
    clock ticks: a run that saw much of it measured a contended host."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            fields = fh.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return 0


def run_one(workload: str, seed: int, seconds: float, trace: bool, root: str, deadline: float) -> tuple[dict, int]:
    spec = load_spec()["workloads"][workload]
    deadline = min(deadline, time.time() + spec.get("deadline_s", DEADLINE_S))
    steal0 = _steal_ticks()
    t0 = time.time()
    events, code, peak_mb, killed = run_worker(workload, spec, seed, seconds, trace, root, deadline)
    steal = (_steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK") / max(time.time() - t0, 1e-9) / os.cpu_count()
    kinds = {e["kind"] for e in events}
    if "setup" not in kinds:
        return {}, code or 2
    res = summarize(events, peak_mb, trace)
    info = next((e for e in events if e["kind"] == "input"), {})
    extra = {k.lstrip("_"): round(v, 4) for k, v in res["metrics"].items() if ":" in k or k.startswith("_")}
    res["metrics"] = {k: v for k, v in res["metrics"].items() if not k.startswith("_")}
    setup = next((e for e in events if e["kind"] == "setup"), {})
    ops = " ".join(f"{e['type']}={e['wall_s']:.2f}/{e.get('cpu_s', 0):.1f}cpu"
                   + ("" if e["ok"] else f"!{e.get('problems') or e.get('error')}")
                   for e in events if e["kind"] == "op")
    ops += "".join(f" batches={[round(x, 2) for x in e['latencies']]}" for e in events if e["kind"] == "batches")
    sys.stderr.write(f"[perfbench] {workload} seed={seed} trace={int(trace)} host steal={steal:.1%}"
                     f" input={json.dumps(info)}\n"
                     + (f"[perfbench] uncalibrated times, calibration medians, tail percentile: {json.dumps(extra)}\n"
                        if extra else "")
                     + f"[perfbench] setup={json.dumps(setup)} ops: {ops}\n"
                     + "".join(f"[perfbench] calibration={json.dumps(e)}\n" for e in events if e["kind"] == "calibration"))
    return res, 0


def output(res: dict, spec_metrics: list[dict]) -> str:
    units = {m["name"]: m["unit"] for m in spec_metrics}
    metrics = {name: {"value": res["metrics"].get(name, 0.0), "unit": unit} for name, unit in units.items()}
    return json.dumps({"correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
                       "metrics": metrics})


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its worker's process group (the finally
    # in run_worker) before it exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "biocypher_spark", "__init__.py")):
        sys.stderr.write("perfbench: run from a checkout root holding biocypher_spark/\n")
        return 2
    with open(os.path.join(root, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    spec = load_spec()
    if args.workload == "all":
        return run_all(spec, bench, args, root)
    if args.workload not in spec["workloads"]:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}\n")
        return 2
    start = time.time()
    res, code = run_one(args.workload, args.seed, args.seconds, bool(args.trace), root, start + DEADLINE_S)
    if code:
        return code
    print(output(res, bench["per_layer"] if args.trace else bench["end_to_end"]))
    return 0


def run_all(spec: dict, bench: dict, args, root: str) -> int:
    """Every workload, untraced then traced, with a table of end-to-end
    metrics and the tracing overhead."""
    units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    rows = []
    for name in spec["workloads"]:
        res, code = run_one(name, args.seed, args.seconds, False, root, float("inf"))
        traced, tcode = run_one(name, args.seed, args.seconds, True, root, float("inf"))
        if code or tcode:
            print(f"{name}: worker failed to set up (exit {code or tcode})")
            continue
        plain = res["metrics"].get("raw_wall:op_p50_s")
        tr = traced["metrics"].get("trace.op_p50_s")
        overhead = (tr - plain) if plain and tr else None
        rows.append((name, res, traced, overhead))
        trace_file = os.path.join(root, "perfbench", "_out", f"trace_{name}_s{args.seed}.json")
        if os.path.exists(trace_file):
            with open(trace_file, encoding="utf-8") as fh:
                doc = json.load(fh)
            doc["untraced_op_p50_s"], doc["tracing_overhead_s"] = plain, overhead
            with open(trace_file, "w", encoding="utf-8") as fh:
                json.dump(doc, fh, indent=1)
    for name, res, traced, overhead in rows:
        print(f"== {name}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}"
              f" (traced: correct={traced['correct']} failed={traced['failed']})")
        raw_units = {f"raw_wall:{k}": units[k] for k in ("turns_per_s", "op_p50_s", "op_tail_s", "resume_s",
                                                          "setup_s")}
        for metric, unit in {**units, **raw_units}.items():
            v = res["metrics"].get(metric)
            print(f"   {metric:<30} {'n/a' if v is None else f'{v:.4f}':>14} {unit}")
        ov = "n/a" if overhead is None else f"{overhead:+.3f} s"
        print(f"   {'tracing overhead (op_p50)':<30} {ov:>14}")
    return 0 if len(rows) == len(spec["workloads"]) else 1


if __name__ == "__main__":
    sys.exit(main())
