"""Stage the benchmark's input tables once and reuse them across runs.

The tables come from the repository's synthetic generator
(``tools/sf1_partsupp_check.generate``) with its row-count constants
scaled down.  They are written under ``.perfbench/inputs/<key>``, where
``<key>`` hashes the generator source and the scale, so a change to
either regenerates them and nothing else does.

Run as a script (it needs its own SparkSession)::

    python3 perfbench/stage.py --scale jobflow_io --root .perfbench

It prints one JSON line: ``{"dir": ..., "gen_s": ..., "cached": ...}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GENERATOR = os.path.join(REPO, "tools", "sf1_partsupp_check.py")

#: Generator constants and tables per scale.  ``jobflow_io`` reads the
#: relational tables in the sf0.1 testdata shape (600k lineitem
#: rows); ``llm_dedup`` reads 500 documents and the sf0.001 relational
#: shape (its cogroup over orders and lineitem is constant-bound there);
#: ``smoke`` is the sf0.001 shape of every table, for the self-test.
RELATIONAL = ["region", "nation", "supplier", "part", "orders", "lineitem", "customer"]
SF0_001 = dict(P=200, S=10, O=1_500, L=6_000, C=150)
SCALES = {
    "jobflow_io": dict(consts=dict(P=20_000, S=1_000, O=150_000, L=600_000, C=15_000),
                       tables=["customer", "orders", "lineitem"]),
    "llm_dedup": dict(consts=dict(SF0_001, DOCS=500),
                      tables=["orders", "lineitem", "documents"]),
    "smoke": dict(consts=dict(SF0_001, DOCS=200), tables=RELATIONAL + ["documents"]),
}


def jvm_conf() -> "dict[str, str]":
    """Spark conf for the driver JVM.

    Its temporary files (native library copies, Spark temp dirs, perf
    data) go to ``$TMPDIR``, which the benchmark points inside its own run
    directory.  The JIT stops at C1: with C2 the jobflow's passes kept
    getting faster for more than 15 passes (about 60 s on 4 cores),
    longer than a run can warm up, so the warm window measured a moving
    target and where on it a run landed depended on the host's speed.
    With C1 the passes are level from the second pass on.  The initial
    heap is the maximum heap, so the peak resident memory does not depend
    on when the collector chose to grow the heap.
    """
    tmp = os.environ.get("TMPDIR") or tempfile.gettempdir()
    heap = os.environ.get("SPARK_DRIVER_MEMORY", "1g")
    return {"spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:TieredStopAtLevel=1 -Xms{heap}"}


def cache_key(scale: str) -> str:
    h = hashlib.sha256()
    with open(GENERATOR, "rb") as f:
        h.update(f.read())
    h.update(json.dumps([scale, SCALES[scale]], sort_keys=True).encode())
    return h.hexdigest()[:16]


def input_dir(root: str, scale: str) -> str:
    return os.path.join(root, "inputs", f"{scale}-{cache_key(scale)}")


def stage(root: str, scale: str) -> dict:
    """Generate the tables unless a finished copy for this key exists."""
    dest = input_dir(root, scale)
    if os.path.exists(os.path.join(dest, "_DONE")):
        return {"dir": dest, "gen_s": 0.0, "cached": True}

    sys.path.insert(0, REPO)
    import tools.sf1_partsupp_check as gen
    from asakusafw_spark_spark.session import engine_builder

    for name, value in SCALES[scale]["consts"].items():
        setattr(gen, name, value)
    tmp = dest + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    spark = engine_builder(app_name="perfbench_stage", extra_conf=jvm_conf()).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try:
        gen.generate(spark, out_dir=tmp, only=set(SCALES[scale]["tables"]))
    finally:
        spark.stop()
    gen_s = time.perf_counter() - t0
    with open(os.path.join(tmp, "_DONE"), "w") as f:
        f.write(f"{gen_s}\n")
    shutil.rmtree(dest, ignore_errors=True)
    os.replace(tmp, dest)
    return {"dir": dest, "gen_s": gen_s, "cached": False}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--scale", choices=sorted(SCALES), required=True)
    ap.add_argument("--root", required=True)
    args = ap.parse_args()
    # the generator prints progress; keep stdout for the one JSON line
    real_stdout = sys.stdout
    sys.stdout = sys.stderr
    try:
        out = stage(args.root, args.scale)
    finally:
        sys.stdout = real_stdout
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
