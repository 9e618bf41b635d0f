"""One fresh benchmark process: set up a session, run the workload as a
closed loop with one client, check its outputs, write a JSON report.

The client is the batch driver: it starts an operation only when the
previous one has completed.  A pass is every operation of the workload
once, in an order drawn from the seed.  The first pass in the session is
the cold pass; after one settling pass, the passes run until
``--seconds`` have elapsed are the warm passes.  Between
operations the driver releases every cached intermediate and checks
that no cached RDD is left, so no operation measures another's cache.

Invoked by ``run.py``; not meant to be run by hand.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path[:0] = [REPO, os.path.join(REPO, "tools"), HERE]

#: Workload → the registry queries one pass runs at the noop sink: one
#: pandas cogroup (the Python worker layer), exact dedup and BM25 (whose
#: persisted intermediates the batch driver must release).  The set is
#: small so a run, cold pass and session set-up included, stays near 55 s
#: on a 4-core host.
QUERIES = {"llm_dedup": ["cogroup", "dedup_exact", "bm25"]}
JOBFLOW = "jobflow_io"
WORKLOADS = sorted([*QUERIES, JOBFLOW])


class Tracer:
    """In-memory spans (name, start, end, job group, attributes) around
    the calls into the build, action, sink and commit layers.  Disabled,
    it records nothing, so untraced runs pay only a context manager."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            with self._lock:
                self.spans.append(
                    {"name": name, "start": start, "end": end,
                     "group": getattr(self._local, "group", None), **attrs}
                )

    def set_group(self, group: str) -> None:
        self._local.group = group


class Driver:
    """The batch driver: runs operations, keeps the cache clean, counts
    failures, records per-operation cache state."""

    def __init__(self, spark, tracer: Tracer, workload: str, data: str, out: str,
                 seed: int):
        from asakusafw_spark_spark.functions.dedup import release_cached_intermediates

        self.spark = spark
        self.sc = spark.sparkContext
        self.tracer = tracer
        self.queries = QUERIES.get(workload)
        self.data = data
        self.out = out
        self.seed = seed
        self._release = release_cached_intermediates
        self.ops: list[dict] = []
        self.errors: list[str] = []
        self.sink_records: list[dict] = []
        self.sink_bytes: dict[int, tuple[int, int]] = {}

    def group(self, group: str) -> None:
        """Job group for every job this thread submits from now on."""
        self.sc.setJobGroup(group, group)
        self.tracer.set_group(group)

    def _storage(self) -> "tuple[int, int]":
        """(cached blocks, cached bytes in memory) across all RDDs."""
        blocks = mem = 0
        for info in self.sc._jsc.sc().getRDDStorageInfo():
            blocks += info.numCachedPartitions()
            mem += info.memSize()
        return blocks, mem

    def _persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def operation(self, pass_no: int, name: str, body) -> None:
        group = f"p{pass_no}:{name}"
        record = {"pass": pass_no, "op": name, "group": group, "ok": True}
        record["rdds_at_start"] = self._persistent_rdds()
        record["blocks_at_start"] = self._storage()[0]
        if record["rdds_at_start"]:
            record["ok"] = False
            self.errors.append(f"{group}: {record['rdds_at_start']} cached RDDs at start")
        self.group(group)
        try:
            body(group)
        except Exception:
            record["ok"] = False
            self.errors.append(f"{group}: {traceback.format_exc(limit=-3)}")
        record["blocks_after"], record["mem_bytes"] = self._storage()
        self._release()
        self.spark.catalog.clearCache()
        self.ops.append(record)

    # -- workloads -------------------------------------------------------
    def one_pass(self, pass_no: int) -> float:
        """Every operation once; returns the pass's wall seconds."""
        if self.queries is None:
            import jobflow

            jobflow.reset_outputs(self.data, self.out)  # untimed: restores inputs
        t0 = time.perf_counter()
        if self.queries is None:
            self.jobflow_pass(pass_no)
        else:
            self.noop_pass(pass_no)
        elapsed = time.perf_counter() - t0
        if self.tracer.enabled and self.queries is None:
            self.sink_bytes[pass_no] = output_size(self.out)
        return elapsed

    def check(self) -> "tuple[dict[str, str], int]":
        """({output: problem}, number of outputs checked)."""
        if self.queries is None:
            import jobflow

            return self.check_jobflow(), len(jobflow.SINKS)
        return self.check_noop(), len(self.queries)

    def noop_pass(self, pass_no: int) -> None:
        import __spark_entry__ as entry

        registry = entry.queries()
        order = list(self.queries)
        random.Random(self.seed * 1000 + pass_no).shuffle(order)
        for name in order:
            def body(group, fn=registry[name]):
                with self.tracer.span("build", op=name):
                    df = fn(self.spark, self.data)
                with self.tracer.span("action", op=name):
                    df.write.format("noop").mode("overwrite").save()

            self.operation(pass_no, name, body)

    def jobflow_pass(self, pass_no: int) -> None:
        import jobflow
        from asakusafw_spark_spark.listener import OutputCounters

        def body(group):
            counters = OutputCounters()
            graph = jobflow.build(
                self.data, self.out, self.seed, self.tracer,
                lambda sink: self.group(f"{group}/{sink}"),
            )
            graph.run(self.spark, counters=counters)
            report = counters.report()
            self.sink_records.append(
                {"pass": pass_no,
                 "records": {k: v.get("records") for k, v in report.items()}}
            )

        self.operation(pass_no, "jobflow", body)

    def check_noop(self) -> "dict[str, str]":
        """Each query's full result against its DuckDB twin, hashed the
        way ``tools/verify_local.py`` hashes them."""
        import duckdb
        import verify_local as V
        import __spark_entry__ as entry

        registry, oracles = entry.queries(), entry.oracle_sql()
        problems: dict[str, str] = {}
        con = duckdb.connect()
        try:
            for t in V.TABLES:
                path = f"{self.data}/{t}.parquet"
                if os.path.exists(path):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            self.group("check")
            for name in self.queries:
                try:
                    got = V._collect_spark(registry[name](self.spark, self.data))
                    want = V._collect_duck(con, oracles[name])
                except Exception as e:
                    problems[name] = f"{type(e).__name__}: {str(e)[:200]}"
                    continue
                finally:
                    self._release()
                    self.spark.catalog.clearCache()
                if sorted(got.columns) != sorted(want.columns):
                    problems[name] = f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
                elif len(got) != len(want) or V.value_hash(got) != V.value_hash(want):
                    problems[name] = f"rows {len(got)} vs {len(want)} or values differ"
        finally:
            con.close()
        return problems

    def check_jobflow(self) -> "dict[str, str]":
        import jobflow
        import verify_local as V

        if not self.sink_records:
            return {"jobflow": "no pass completed"}
        return jobflow.check(
            self.data, self.out, self.seed, self.sink_records[-1]["records"],
            V.value_hash,
        )


def open_session(args, traced: bool):
    from asakusafw_spark_spark.session import engine_builder
    from stage import jvm_conf

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
        **jvm_conf(),
    }
    if traced:
        eventlog_dir = os.path.join(args.work, "eventlog")
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = engine_builder(app_name=f"perfbench_{args.workload}", extra_conf=conf).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


#: Passes after the first that run before the warm window opens.  With
#: the JIT limited to C1 (``stage.jvm_conf``) the pass after the cold one
#: is still 5-10 % slower than the rest; the ones after it are level.
SETTLE_PASSES = 1


def run_session(driver: Driver, seconds: float, check_early: bool) -> dict:
    """The first pass, the output check if ``check_early``, the settling
    passes, then warm passes until ``seconds`` have elapsed (at least
    one)."""
    first_s = driver.one_pass(0)
    check = driver.check() if check_early else None
    for n in range(SETTLE_PASSES):
        driver.one_pass(1 + n)
    warm_from = 1 + SETTLE_PASSES
    warm_s: list[float] = []
    window_start = time.perf_counter()
    while not warm_s or time.perf_counter() - window_start < seconds:
        warm_s.append(driver.one_pass(warm_from + len(warm_s)))
    return {"first_s": first_s, "warm_s": warm_s, "warm_from": warm_from, "ops": driver.ops,
            "errors": driver.errors, "sink_records": driver.sink_records,
            "sink_bytes": driver.sink_bytes, "spans": driver.tracer.spans, "check": check}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True, help="private directory of this process")
    ap.add_argument("--result", required=True)
    args = ap.parse_args()

    spark = open_session(args, traced=False)
    result: dict = {"ready": time.time()}
    out = os.path.join(args.work, "out")
    seconds = args.seconds / 2 if args.trace else args.seconds
    driver = Driver(spark, Tracer(False), args.workload, args.data, out, args.seed)
    # a noop query's output does not depend on the pass, so it is checked
    # once, early; the jobflow's sinks are read back after its last pass
    check_early = driver.queries is not None
    result["untraced"] = run_session(driver, seconds, check_early)
    if args.trace:
        # same JVM, a second SparkContext with the event log on: its warm
        # passes compare with the untraced ones above
        spark.stop()
        spark = open_session(args, traced=True)
        driver = Driver(spark, Tracer(True), args.workload, args.data, out, args.seed)
        result["traced"] = run_session(driver, seconds, check_early=False)
        result["traced"]["eventlog"] = os.path.join(
            args.work, "eventlog", spark.sparkContext.applicationId
        )
    early = result["untraced"].pop("check")
    result["check_problems"], result["checked"] = early or driver.check()
    spark.stop()
    with open(args.result, "w") as f:
        json.dump(result, f)
    return 0


def output_size(root: str) -> "tuple[int, int]":
    """(bytes, files) of the data files under ``root``, skipping the
    ``_``/``.``-prefixed markers, staging and checksum files."""
    total = files = 0
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
        for name in filenames:
            if not name.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(dirpath, name))
                files += 1
    return total, files


if __name__ == "__main__":
    raise SystemExit(main())
