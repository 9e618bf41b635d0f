#!/usr/bin/env python3
"""The repository's benchmark: batch workloads, end to end and per layer.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 25 --trace 0
    python3 perfbench/run.py --smoke

A run stages the inputs once (cached under ``.perfbench/inputs``), then
starts one fresh worker process (``worker.py``) that sets up a
SparkSession and runs the workload as a closed loop with one client: a
cold pass, one settling pass, then warm passes for ``--seconds``.  The
worker then checks every output against DuckDB; a wrong output or an
error counts as a failed operation.

``--trace 0`` reports the end-to-end metrics: ``setup_s`` (process start
until the session is ready), ``batch_s`` (median warm pass, input to
complete result), ``peak_rss_mb`` (driver JVM plus its Python workers)
and ``ok_ratio`` (operations that neither errored nor gave a wrong
output, over those attempted; ``failed_ratio`` is printed beside it).
``cold_batch_s``, the first pass, is printed too; it is a per-layer
metric (``cold.batch_s``) because one sample per run is too noisy to
carry a bound.

``--trace 1`` runs the warm passes twice in the worker's JVM: untraced,
then in a second SparkContext with Spark's event log on (uncompressed,
non-rolling) and in-memory spans around the calls into each layer.  It
reports the per-layer metrics of ``eventlog.py`` as medians over the
traced warm passes, plus ``session.start_s``, ``cold.batch_s``,
``ops.attempted``, ``tasks.failed`` (traced run totals) and
``trace.overhead_s`` (traced minus untraced median warm pass).

Every metric is printed as ``name value unit``; a traced run adds how a
warm pass divides among the layers (``# ratio`` lines).  Then
come the run's stamp (git commit, dirty flag, source hash, heap, cores,
pyspark and Java versions) and the wall time of each warm pass; the last
line is the JSON result.  ``--smoke`` runs every workload traced and
untraced on sf0.001-shaped inputs and checks that every metric of
``BENCHMARK.json`` appears with its unit, that no operation failed, and
that the traced layers play their roles (``layer_roles``).
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.metadata
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
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import eventlog  # noqa: E402

WORKLOADS = ["jobflow_io", "llm_dedup"]
WORKER_TIMEOUT_S = 160
STAGE_TIMEOUT_S = 600
#: Files the benchmark needs from the repository besides its own.
REQUIRED = [
    "asakusafw_spark_spark/__init__.py",
    "__spark_entry__.py",
    "tools/sf1_partsupp_check.py",
    "tools/verify_local.py",
]

END_TO_END_UNITS = {"setup_s": "s", "batch_s": "s", "peak_rss_mb": "MB", "ok_ratio": "ratio"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "cold.batch_s": "s",
    **eventlog.PASS_METRICS,
    "ops.attempted": "count",
    "trace.overhead_s": "s",
}


# -- run conditions ----------------------------------------------------------


def cores() -> int:
    return len(os.sched_getaffinity(0))


def host_cpu() -> "list[int]":
    """The host-wide CPU tick counters of ``/proc/stat`` (user, nice,
    system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def heap_mb() -> int:
    """1 GiB, or a quarter of physical memory on a smaller host."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(1024, total_kb // 4096)


def source_hash() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "asakusafw_spark_spark")
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        files += [os.path.join(dirpath, f) for f in sorted(filenames) if f.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def _git(*args: str) -> "str | None":
    try:
        out = subprocess.run(["git", "-C", ROOT, *args], capture_output=True,
                             text=True, timeout=20)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def stamp(heap: int) -> dict:
    top = _git("rev-parse", "--show-toplevel")
    in_repo = top is not None and os.path.realpath(top) == os.path.realpath(ROOT)
    commit = _git("rev-parse", "HEAD") if in_repo else None
    dirty = None
    if in_repo:
        status = _git("status", "--porcelain", "--", "asakusafw_spark_spark",
                      "__spark_entry__.py", "tools", "perfbench")
        dirty = bool(status) if status is not None else None
    try:
        java = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True,
                              timeout=20).stderr.splitlines()[0]
    except (OSError, subprocess.TimeoutExpired, IndexError):
        java = None
    return {
        "commit": commit, "dirty": dirty, "source_sha256": source_hash(),
        "heap_mb": heap, "cores": cores(),
        "pyspark": importlib.metadata.version("pyspark"), "java": java,
    }


# -- processes ---------------------------------------------------------------


class RssSampler(threading.Thread):
    """Peak summed RSS of a process's descendants (the driver JVM and its
    Python workers; the worker's own interpreter is excluded)."""

    def __init__(self, pid: int, interval: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.pid = pid
        self.interval = interval
        self.peak_kb = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.wait(self.interval):
            self.peak_kb = max(self.peak_kb, self._sample())

    def stop(self) -> None:
        self._stop_event.set()
        self.join()

    def _sample(self) -> int:
        procs: dict[int, tuple[int, str, int]] = {}  # pid -> (ppid, comm, rss kB)
        page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{entry}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, ValueError, IndexError):
                continue
            comm = stat[stat.index("(") + 1:stat.rindex(")")]
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            procs[int(entry)] = (ppid, comm, pages * page_kb)
        total = 0
        for pid, (ppid, comm, rss) in procs.items():
            if comm == "java" and ppid == self.pid:
                total += rss  # the driver JVM
            elif comm.startswith("python") and self._under_jvm(pid, procs):
                total += rss  # the pyspark daemon and its workers
        # other descendants are left out: a process the JVM forks shares
        # its pages until exec, and would count the JVM twice
        return total

    def _under_jvm(self, pid: int, procs: dict) -> bool:
        ppid = procs[pid][0]
        while ppid in procs and ppid != self.pid:
            if procs[ppid][1] == "java" and procs[ppid][0] == self.pid:
                return True
            ppid = procs[ppid][0]
        return False


def _run_process(cmd: "list[str]", env: dict, timeout: float, sample: bool):
    """Run ``cmd`` in its own process group; kill the whole group when it
    ends or times out.  Returns (exit code, stdout, stderr, peak RSS kB,
    spawn time)."""
    spawned = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.PIPE, text=True, start_new_session=True)
    sampler = RssSampler(proc.pid) if sample else None
    if sampler:
        sampler.start()
    try:
        out, err = proc.communicate(timeout=timeout)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        code, out, err = None, "", f"timed out after {timeout}s"
    finally:
        if sampler:
            sampler.stop()
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _wait_group_gone(proc.pid)
    return code, out, err, (sampler.peak_kb if sampler else 0), spawned


def _wait_group_gone(pgid: int, timeout: float = 30.0) -> None:
    """Wait until no live (non-zombie) process is left in ``pgid``."""
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        alive = False
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                alive = True
                break
        if not alive:
            return
        time.sleep(0.05)


class BenchError(RuntimeError):
    pass


def stage_inputs(scale: str, env: dict) -> dict:
    code, out, err, _, _ = _run_process(
        [sys.executable, os.path.join(HERE, "stage.py"), "--scale", scale, "--root", WORK],
        env, STAGE_TIMEOUT_S, sample=False,
    )
    if code != 0:
        raise BenchError(f"staging failed ({code}): {err[-2000:]}")
    return json.loads(out.strip().splitlines()[-1])


# -- one run -----------------------------------------------------------------


def run_once(workload: str, seed: int, seconds: float, trace: bool, scale: str) -> dict:
    heap = heap_mb()
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_DRIVER_MEMORY": f"{heap}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    staged = stage_inputs(scale, env)
    work = os.path.join(run_dir, "worker")
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(int(trace)),
           "--data", staged["dir"], "--work", work, "--result", result_path]
    cpu_before = host_cpu()
    code, _, err, peak_kb, spawned = _run_process(cmd, env, WORKER_TIMEOUT_S, sample=True)
    cpu_after = host_cpu()
    if code != 0 or not os.path.exists(result_path):
        raise BenchError(f"worker failed ({code}): {err[-3000:]}")
    with open(result_path) as f:
        worker = json.load(f)
    worker.update(peak_kb=peak_kb, setup_s=worker["ready"] - spawned)
    summary = summarize(worker, trace, staged)
    ticks = [b - a for a, b in zip(cpu_before, cpu_after)]
    summary["extra"]["steal_share"] = ticks[7] / sum(ticks) if sum(ticks) else 0.0
    shutil.rmtree(run_dir, ignore_errors=True)
    return summary


def summarize(worker: dict, trace: bool, staged: dict) -> dict:
    sessions = [worker["untraced"]] + ([worker["traced"]] if trace else [])
    errors = [e for s in sessions for e in s["errors"]]
    attempted = sum(len(s["ops"]) for s in sessions) + worker["checked"]
    failed = sum(not o["ok"] for s in sessions for o in s["ops"])
    failed += len(worker["check_problems"])
    batch = statistics.median(worker["untraced"]["warm_s"])
    e2e = {
        "setup_s": worker["setup_s"],
        "batch_s": batch,
        "peak_rss_mb": worker["peak_kb"] / 1024.0,
        "ok_ratio": (attempted - failed) / attempted,
    }
    extra = {
        "warm_s": [s["warm_s"] for s in sessions],
        "failed_ratio": failed / attempted,
        "cold_batch_s": worker["untraced"]["first_s"],
        "gen_s": staged["gen_s"],
        "errors": errors[:5],
        "check_problems": worker["check_problems"],
    }
    layers = None
    if trace:
        layers = layer_metrics(worker["traced"], worker["setup_s"], extra["cold_batch_s"], batch)
        extra["ratios"] = layer_ratios(layers, statistics.median(worker["traced"]["warm_s"]))
    return {"attempted": attempted, "failed": failed, "end_to_end": e2e,
            "per_layer": layers, "extra": extra}


def layer_metrics(traced: dict, setup_s: float, cold_s: float, untraced_batch: float) -> dict:
    events = eventlog.read_events(traced["eventlog"])
    sink_records: dict[int, int] = {}
    for rec in traced["sink_records"]:
        sink_records[rec["pass"]] = sum(v or 0 for v in rec["records"].values())
    sink_bytes = {int(p): tuple(v) for p, v in traced["sink_bytes"].items()}
    per_pass = eventlog.pass_metrics(events, traced["spans"], traced["ops"],
                                     sink_bytes, sink_records)
    warm = [per_pass[p] for p in sorted(per_pass) if p >= traced["warm_from"]]
    out = {name: statistics.median(m[name] for m in warm) for name in eventlog.PASS_METRICS}
    out["tasks.failed"] = sum(m["tasks.failed"] for m in per_pass.values())
    out["session.start_s"] = setup_s
    out["cold.batch_s"] = cold_s
    out["ops.attempted"] = float(len(traced["ops"]))
    out["trace.overhead_s"] = statistics.median(traced["warm_s"]) - untraced_batch
    return out


def layer_ratios(layers: dict, traced_batch: float) -> dict:
    """How a traced warm pass divides among the layers: the ratios that
    back each workload's description in BENCHMARK.json."""
    def ratio(part: float, whole: float) -> float:
        return part / whole if whole else 0.0

    return {
        "build.s/pass": ratio(layers["build.s"], traced_batch),
        "sink.write_s/pass": ratio(layers["sink.write_s"], traced_batch),
        "python.run_s/exec.run_s": ratio(layers["python.run_s"], layers["exec.run_s"]),
        "build.eager_jobs/sched.jobs": ratio(layers["build.eager_jobs"], layers["sched.jobs"]),
    }


# -- output ------------------------------------------------------------------


def report(summary: dict, trace: bool, st: dict) -> dict:
    metrics = summary["per_layer"] if trace else summary["end_to_end"]
    units = PER_LAYER_UNITS if trace else END_TO_END_UNITS
    for name, value in summary["end_to_end"].items():
        print(f"{name} {value:.6g} {END_TO_END_UNITS[name]}")
    if trace:
        for name in units:
            print(f"{name} {metrics[name]:.6g} {units[name]}")
    extra = summary["extra"]
    print(f"failed_ratio {extra['failed_ratio']:.6g} ratio")
    print(f"cold_batch_s {extra['cold_batch_s']:.6g} s")
    print(f"gen_s {extra['gen_s']:.6g} s")
    # CPU time the hypervisor gave to other guests while the worker ran:
    # a run with a high share is slowed by its host, not by the program
    print(f"# host steal share {extra['steal_share']:.3f}")
    for problem in extra["errors"]:
        where, _, trace_text = problem.partition(": ")
        lines = trace_text.strip().splitlines()
        print(f"# error {where}: {lines[-1] if lines else ''}")
        print(problem, file=sys.stderr)
    for name, problem in extra["check_problems"].items():
        print(f"# wrong output {name}: {problem}")
    for name, value in extra.get("ratios", {}).items():
        print(f"# ratio {name} {value:.3f}")
    print("# stamp " + json.dumps(st, sort_keys=True))
    print("# warm passes " + json.dumps(extra["warm_s"]))
    return {
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {name: {"value": metrics[name], "unit": units[name]} for name in units},
    }


def check_checkout() -> "str | None":
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    return f"not a checkout of the repository: missing {', '.join(missing)}" if missing else None


def layer_roles(workload: str, layers: dict) -> "list[str]":
    """The layer roles each workload is chosen for, as checks on a traced run."""
    problems = []

    def want(ok: bool, what: str) -> None:
        if not ok:
            problems.append(f"expected {what}")

    want(layers["cache.blocks_at_start"] == 0, "cache.blocks_at_start == 0")
    # a time unit misread from the event log would put the Python workers'
    # time out of scale with the task time that contains it
    want(layers["python.run_s"] <= layers["exec.run_s"], "python.run_s <= exec.run_s")
    if workload == "llm_dedup":
        want(layers["python.run_s"] > 0, "python.run_s > 0")
        want(layers["build.eager_jobs"] > 0, "build.eager_jobs > 0")
        want(all(layers[m] == 0 for m in eventlog.PASS_METRICS if m.startswith("sink.")),
             "every sink.* metric == 0")
    else:
        want(layers["python.run_s"] == 0, "python.run_s == 0")
        want(layers["sink.records"] > 0 and layers["sink.commit_s"] > 0,
             "sink.records > 0 and sink.commit_s > 0")
    return problems


def smoke() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for workload in WORKLOADS:
        for trace in (False, True):
            summary = run_once(workload, seed=7, seconds=2, trace=trace, scale="smoke")
            result = report(summary, trace, stamp(heap_mb()))
            wanted = spec["per_layer" if trace else "end_to_end"]
            got = result["metrics"]
            for m in wanted:
                if got.get(m["name"], {}).get("unit") != m["unit"]:
                    problems.append(f"{workload} trace={trace}: {m['name']} missing or wrong unit")
            if set(got) != {m["name"] for m in wanted}:
                problems.append(f"{workload} trace={trace}: metric set differs from BENCHMARK.json")
            if result["failed"] or not result["correct"]:
                problems.append(f"{workload} trace={trace}: failed_ratio "
                                f"{summary['extra']['failed_ratio']}")
            if trace:
                problems += [f"{workload}: {p}" for p in layer_roles(workload, summary["per_layer"])]
            print(json.dumps({"workload": workload, "trace": trace, **result}))
    for p in problems:
        print(f"SMOKE FAIL {p}")
    print("smoke ok" if not problems else f"smoke: {len(problems)} problems")
    return 1 if problems else 0


def main() -> int:
    ap = argparse.ArgumentParser(description="Batch benchmark of the engine.")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="self-test: every workload, traced and untraced, sf0.001 inputs")
    args = ap.parse_args()
    # a terminated run unwinds, so the worker's process group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    problem = check_checkout()
    if problem:
        print(problem, file=sys.stderr)
        return 2
    try:
        if args.smoke:
            return smoke()
        if args.workload is None:
            ap.error("--workload is required")
        st = stamp(heap_mb())
        summary = run_once(args.workload, args.seed, args.seconds, bool(args.trace),
                           scale=args.workload)
    except BenchError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        return 1
    result = report(summary, bool(args.trace), st)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
