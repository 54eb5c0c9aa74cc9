"""Benchmark launcher.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Workloads are defined in
``perfbench/workloads.json``, metric names and units in ``BENCHMARK.json``.
The launcher

1. generates the seeded inputs under ``.perfbench_work/`` in the checkout;
2. starts ``harness.py`` in its own process group, with ``PYTHONPATH`` set
   to the checkout (so Spark's Python workers import the package whatever
   the working directory) and every scratch location of Spark, the catalog
   mirror, the warehouse and ``tempfile`` inside the work dir;
3. stops every process left in that group, removes the work dir and exits
   with the harness's code. The harness prints the result as the last line.

Traced runs (``--trace 1``) keep their spans in
``.perfbench_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REQUIRED = (
    "omnidata_etl_spark/__init__.py",
    "tests/oracle_util.py",
    "BENCHMARK.json",
)
HARNESS_TIMEOUT_S = 150  # the contract allows 180 s per run, clean-up included
# The engine's 16g default is sized for a dedicated host; the benchmark's
# inputs are a few MB and the host's memory is shared.
DRIVER_MEM = "2g"


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _group_members(pgid: int) -> list[int]:
    """Live (non-zombie) processes in process group ``pgid``."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if fields[0] != "Z" and int(fields[2]) == pgid:
            pids.append(int(entry))
    return pids


def _stop_group(pgid: int) -> None:
    for sig, wait_s in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        if not _group_members(pgid):
            return
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + wait_s
        while _group_members(pgid) and time.monotonic() < end:
            time.sleep(0.05)


def _env(work: str) -> dict:
    env = dict(os.environ)
    tmp = os.path.join(work, "tmp")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, env.get("PYTHONPATH", "")) if p
    )
    env.setdefault("PYSPARK_PYTHON", sys.executable)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    env["OMNIDATA_DRIVER_MEM"] = DRIVER_MEM
    env["OMNIDATA_SHM_SCRATCH"] = "0"
    env["OMNIDATA_MIRROR_DIR"] = os.path.join(work, "mirror")
    env["OMNIDATA_WAREHOUSE"] = os.path.join(work, "spark-warehouse")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    # JVM scratch inside the work dir; no perf-counter file under /tmp from
    # the driver JVM or from spark-submit's command-building JVM
    env["SPARK_SUBMIT_OPTS"] = (
        env.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    env["SPARK_LAUNCHER_OPTS"] = (
        env.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData"
    ).strip()
    for key in ("mirror", "spark-local", "tmp"):
        os.makedirs(os.path.join(work, key), exist_ok=True)
    return env


def _plan(args, workloads: dict, bench: dict, work: str, out: str) -> dict:
    import datagen

    wl = workloads["workloads"][args.workload]
    data_dir = os.path.join(work, "data")
    table_rows = datagen.make_tables(data_dir, args.seed, workloads["tables"]["sf"])
    ingest = wl.get("ingest")
    ingest_files = (
        datagen.make_ingest_files(
            os.path.join(work, "ingest"),
            args.seed,
            ingest["rows_per_file"],
            ingest["files"],
        )
        if ingest
        else {}
    )
    return {
        "workload": wl,
        "work_dir": work,
        "data_dir": data_dir,
        "table_rows": table_rows,
        "ingest_files": ingest_files,
        "end_to_end": [[m["name"], m["unit"]] for m in bench["end_to_end"]],
        "per_layer": [[m["name"], m["unit"]] for m in bench["per_layer"]],
        "trace_file": os.path.join(
            out, f"trace-{args.workload}-{args.seed}.json"
        ),
    }


def main() -> int:
    ap = argparse.ArgumentParser(description="omnidata-etl-spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in REQUIRED if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        return _fail(f"not a checkout of the engine, missing {missing}")
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if args.workload not in workloads["workloads"]:
        return _fail(f"unknown workload {args.workload!r}")

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    # a terminated launcher still stops the harness and its JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, workloads, bench, work, out)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, workloads: dict, bench: dict, work: str, out: str) -> int:
    env = _env(work)
    sys.path.insert(0, HERE)
    plan_path = os.path.join(work, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(_plan(args, workloads, bench, work, out), f)
    cmd = [
        sys.executable,
        os.path.join(HERE, "harness.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--plan", plan_path,
    ]
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, start_new_session=True)
    try:
        return child.wait(timeout=HARNESS_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return _fail(f"harness exceeded {HARNESS_TIMEOUT_S} s")
    finally:
        _stop_group(child.pid)
        child.wait()


if __name__ == "__main__":
    sys.exit(main())
