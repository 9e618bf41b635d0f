"""Per-layer metrics of one traced process, from Spark's event log and
the benchmark's own spans.

The event log is the record of what Spark executed: every job carries
the job group the batch driver set (``p<pass>:<op>``, or
``p<pass>:<op>/<sink>`` inside a sink's thread), so each job, stage and
task is attributed to one pass.  The driver's spans give the time spent
in the Python build layer, the sinks and the commit, and they mark the
action calls from which the planning gap is measured.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

#: Spark 4.1's Python-runner SQL metrics (``pythonBootTime`` … ``pythonDataReceived``,
#: ``PythonSQLMetrics`` in spark-sql) as they are named in task-end accumulables.
#: The times are differences of the ms timestamps that ``pyspark/worker.py``
#: reports (``report_times``); their unit is read from the ``metricType`` the
#: plan gives each accumulator in the event log (see ``SECONDS_PER_UNIT``).
#: A reused worker takes its boot time before it blocks for its next task,
#: so ``python.init_s`` includes the worker's idle wait and can exceed
#: ``exec.run_s``; ``python.run_s`` cannot.
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}

#: ``SQLMetrics`` metric type → seconds per unit of the metric's values.
SECONDS_PER_UNIT = {"timing": 1e-3, "nsTiming": 1e-9}

#: Every per-pass metric this module produces, with its unit, in report order.
PASS_METRICS = {
    "build.s": "s", "build.eager_jobs": "count",
    "plan.s": "s", "plan.aqe_updates": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.delay_s": "s", "sched.deserialize_s": "s",
    "exec.run_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.skew_max": "ratio",
    "python.boot_s": "s", "python.init_s": "s", "python.run_s": "s",
    "python.bytes_sent": "bytes", "python.bytes_received": "bytes",
    "scan.bytes": "bytes", "scan.records": "count",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "spill.disk_bytes": "bytes", "spill.mem_bytes": "bytes",
    "sink.write_s": "s", "sink.commit_s": "s", "sink.records": "count",
    "sink.bytes": "bytes", "sink.files": "count", "sink.bytes_per_input_byte": "ratio",
    "cache.blocks_at_start": "count", "cache.blocks_after": "count",
    "cache.mem_bytes": "bytes", "tasks.failed": "count",
}


def _pass_of(group: "str | None") -> "int | None":
    if not group or not group.startswith("p"):
        return None
    head = group.split(":", 1)[0][1:]
    return int(head) if head.isdigit() else None


def _metric_types(plan: dict, out: "dict[int, str]") -> None:
    """Accumulator id → ``metricType`` for every metric of a plan tree."""
    for metric in plan.get("metrics", []):
        out[metric["accumulatorId"]] = metric.get("metricType")
    for child in plan.get("children", []):
        _metric_types(child, out)


def read_events(path: str) -> "list[dict]":
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def pass_metrics(events: "list[dict]", spans: "list[dict]", ops: "list[dict]",
                 sink_bytes: "dict[int, tuple[int, int]]",
                 sink_records: "dict[int, int]") -> "dict[int, dict[str, float]]":
    """``{pass: {metric: value}}`` for every pass seen in ``ops``.

    ``sink_bytes[pass] = (bytes, files)`` comes from listing the output
    root after the pass; ``sink_records[pass]`` from OutputCounters."""
    passes = sorted({o["pass"] for o in ops})
    m = {p: defaultdict(float) for p in passes}

    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    stage_job: dict[int, int] = {}
    exec_pass: dict[str, int] = {}
    stage_tasks: dict[int, list[float]] = defaultdict(list)
    metric_types: dict[int, str] = {}
    for e in events:
        kind = e["Event"]
        if "sparkPlanInfo" in e:  # SQL execution start and AQE re-plans
            _metric_types(e["sparkPlanInfo"], metric_types)
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            p = _pass_of(group)
            if p not in m:
                continue
            jid = e["Job ID"]
            job_group[jid] = group
            job_submit[jid] = e["Submission Time"] / 1000.0
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
            if "spark.sql.execution.id" in props:
                exec_pass[props["spark.sql.execution.id"]] = p
            m[p]["sched.jobs"] += 1
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            if sid in stage_job:
                m[_pass_of(job_group[stage_job[sid]])]["sched.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            if sid not in stage_job:
                continue
            acc = m[_pass_of(job_group[stage_job[sid]])]
            _task(acc, e, stage_tasks[sid], metric_types)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            p = exec_pass.get(str(e.get("executionId")))
            if p is not None:
                m[p]["plan.aqe_updates"] += 1

    for sid, durations in stage_tasks.items():
        med = statistics.median(durations)
        if len(durations) >= 2 and med > 0:
            acc = m[_pass_of(job_group[stage_job[sid]])]
            acc["exec.skew_max"] = max(acc["exec.skew_max"], max(durations) / med)

    jobs_by_group: dict[str, list[float]] = defaultdict(list)
    for jid, group in job_group.items():
        jobs_by_group[group].append(job_submit[jid])
    for s in spans:
        p = _pass_of(s.get("group"))
        if p not in m:
            continue
        acc = m[p]
        dur = s["end"] - s["start"]
        if s["name"] == "build":
            acc["build.s"] += dur
            acc["build.eager_jobs"] += sum(
                s["start"] <= t <= s["end"] for t in jobs_by_group[s["group"]]
            )
        elif s["name"] in ("action", "sink"):
            if s["name"] == "sink":
                acc["sink.write_s"] += dur
            later = [t for t in jobs_by_group[s["group"]] if t >= s["start"]]
            if later:
                acc["plan.s"] += min(later) - s["start"]
        elif s["name"] == "commit":
            acc["sink.commit_s"] += dur

    for o in ops:
        acc = m[o["pass"]]
        acc["cache.blocks_at_start"] += o["blocks_at_start"]
        acc["cache.blocks_after"] += o["blocks_after"]
        acc["cache.mem_bytes"] += o["mem_bytes"]
    for p, acc in m.items():
        acc["sink.bytes"], acc["sink.files"] = sink_bytes.get(p, (0, 0))
        acc["sink.records"] = sink_records.get(p, 0)
        acc["sink.bytes_per_input_byte"] = (
            acc["sink.bytes"] / acc["scan.bytes"] if acc["scan.bytes"] else 0.0
        )
    return {p: {k: float(acc[k]) for k in PASS_METRICS} for p, acc in m.items()}


def _task(acc: "defaultdict[str, float]", e: dict, durations: "list[float]",
          metric_types: "dict[int, str]") -> None:
    info = e["Task Info"]
    acc["sched.tasks"] += 1
    if e.get("Task End Reason", {}).get("Reason") != "Success":
        acc["tasks.failed"] += 1
    tm = e.get("Task Metrics") or {}
    run_ms = tm.get("Executor Run Time", 0)
    deser_ms = tm.get("Executor Deserialize Time", 0)
    duration_ms = info["Finish Time"] - info["Launch Time"]
    getting_ms = (
        info["Finish Time"] - info["Getting Result Time"]
        if info.get("Getting Result Time") else 0
    )
    # the Spark UI's scheduler delay: task wall time not spent running,
    # deserializing, serializing the result or fetching it
    delay_ms = max(
        0, duration_ms - run_ms - deser_ms
        - tm.get("Result Serialization Time", 0) - getting_ms
    )
    durations.append(run_ms)
    acc["sched.delay_s"] += delay_ms / 1000.0
    acc["sched.deserialize_s"] += deser_ms / 1000.0
    acc["exec.run_s"] += run_ms / 1000.0
    acc["exec.cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    acc["exec.gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
    inp = tm.get("Input Metrics") or {}
    acc["scan.bytes"] += inp.get("Bytes Read", 0)
    acc["scan.records"] += inp.get("Records Read", 0)
    sw = tm.get("Shuffle Write Metrics") or {}
    acc["shuffle.write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    sr = tm.get("Shuffle Read Metrics") or {}
    acc["shuffle.read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    acc["shuffle.fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
    acc["spill.disk_bytes"] += tm.get("Disk Bytes Spilled", 0)
    acc["spill.mem_bytes"] += tm.get("Memory Bytes Spilled", 0)
    for a in info.get("Accumulables", []):
        name = PYTHON_METRICS.get(a.get("Name"))
        if name is None:
            continue
        value = float(a.get("Update") or 0)
        if name.endswith("_s"):
            kind = metric_types.get(a["ID"])
            if kind not in SECONDS_PER_UNIT:
                raise ValueError(f"{a['Name']}: unknown time metric type {kind!r}")
            value *= SECONDS_PER_UNIT[kind]
        acc[name] += value
