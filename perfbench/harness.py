"""One benchmark run: set up, run the workload's ops for the measured
window, verify every result, print the metrics.

Started by ``run.py``, which fixes the environment (PYTHONPATH, scratch
dirs) and writes the seeded inputs first. Run protocol:

* Set-up runs once, cold: ``setup_s`` times ``session.get_session``
  (which launches the JVM), ``registry.all_specs`` and ``catalog.table``
  for every table, with the catalog's mirror dir emptied first. Each run
  is a fresh process, so the driver's repeated runs give the samples.
* A pass runs every op of the workload once, in an order drawn from the
  seed, on a fresh ``spark.newSession()``: the previous pass's persisted
  and ``localCheckpoint``ed blocks are released, the shared cache is
  cleared and the ingest warehouse is emptied first, so nothing one pass
  builds can serve the next. Work that ops share within a pass is paid
  inside it. One untimed pass warms the JVM (JIT, codegen cache, Python
  workers); then whole timed passes run until ``--seconds`` have elapsed
  and at least ``MIN_TIMED_PASSES`` ran.
* A timed op is one builder call plus the Arrow result transfer
  (``toPandas``), or one ingest pipeline: ``read_any``, ``preview(10)``,
  ``load(types=..., mode="overwrite")`` and a read-back of the loaded table.
* Results are checked after the window: oracle-bearing ops against DuckDB
  with ``tests/oracle_util.py``'s canonical form, rows-only ops against
  what the generated inputs fix (row counts, self-check columns, and for
  ``dedup_simhash`` a SimHash computed apart from the package), ingest
  loads by row count, a dense ``id`` 1..N and the declared
  column types. A mismatch counts as a failed op.

The last stdout line is the result JSON; the line before it holds the
detail: sample counts, per-op latencies, host CPU steal, failures.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

import datagen
from tracing import Py4JCallCounter, SparkCounters, Tracer, coverage, duration

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COVERAGE_FLOOR = 0.9
LOAD_PREFIX = "load:"
# A run times 16 to 24 op executions, too few for a percentile above the
# median with ten samples beyond it; p90 is steadier than the maximum.
TAIL_PCT = 90
# The first timed pass still runs slower than the second (JIT, codegen), so
# a run that ended after one pass read up to 40% slower than one that fit
# two. Every run times at least two whole passes, so all runs sample alike.
MIN_TIMED_PASSES = 2


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _empty_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _percentile(values: list[float], pct: int) -> float:
    """Linear interpolation between closest ranks; 0 for no samples."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of this host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class Run:
    def __init__(self, args, plan: dict):
        self.args = args
        self.plan = plan
        self.wl = plan["workload"]
        self.tracer = Tracer(bool(args.trace))
        self.rng = random.Random(args.seed)
        self.data_dir = plan["data_dir"]
        self.warehouse = os.path.join(plan["work_dir"], "warehouse")
        self.records: list[dict] = []
        self.layer: dict[str, list[float]] = {}
        self.phase_s: dict[str, float] = {}
        self.uncovered: dict[str, float] = {}  # traced wall outside child spans
        self.simhash: tuple[dict[int, int], float] | None = None

    # --- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        _empty_dir(os.environ["OMNIDATA_MIRROR_DIR"])
        with self.tracer.span("setup") as sp:
            t0 = time.perf_counter()
            with self.tracer.span("session"):
                from omnidata_etl_spark.session import get_session

                spark = get_session("perfbench")
            t1 = time.perf_counter()
            with self.tracer.span("registry"):
                from omnidata_etl_spark import registry

                specs = registry.all_specs()
            t2 = time.perf_counter()
            with self.tracer.span("catalog"):
                from omnidata_etl_spark import catalog

                for name in catalog.TABLES:
                    catalog.table(spark, self.data_dir, name)
            t3 = time.perf_counter()
        self.setup_s = t3 - t0
        self._note("session.start_s", t1 - t0)
        self._note("registry.load_s", t2 - t1)
        self._note("catalog.open_s", t3 - t2)
        self._note(
            "catalog.mirror_bytes", _dir_bytes(os.environ["OMNIDATA_MIRROR_DIR"])
        )
        if sp is not None:
            self._check_coverage(sp, "setup")
        self.spark, self.specs = spark, specs

    # --- window ---------------------------------------------------------------

    def window(self) -> None:
        """An untimed warm-up pass, then whole timed passes until
        ``--seconds`` have elapsed and at least ``MIN_TIMED_PASSES`` ran.
        Each pass runs the op list in its own seeded order on a fresh
        session."""
        if self.tracer.enabled:
            self.counters = SparkCounters(self.spark)
            self.py4j = Py4JCallCounter(self.spark)
        t0 = time.perf_counter()
        self._pass(Tracer(False))
        self._note("window.warmup_s", time.perf_counter() - t0)
        self.records.clear()
        deadline = time.perf_counter() + self.args.seconds
        self.window_wall = 0.0
        self.passes = 0
        steal0, total0 = _cpu_times()
        while self.passes < MIN_TIMED_PASSES or time.perf_counter() < deadline:
            self.window_wall += self._pass(self.tracer)
            self.passes += 1
        steal1, total1 = _cpu_times()
        self.steal_frac = (steal1 - steal0) / max(1, total1 - total0)

    def _pass(self, tracer: Tracer) -> float:
        """Run every op once; returns the pass wall time."""
        order = list(self.wl["ops"])
        self.rng.shuffle(order)
        session = self._fresh_session()
        t0 = time.perf_counter()
        for name in order:
            if name.startswith(LOAD_PREFIX):
                self._ingest_op(session, name, tracer)
            else:
                self._registry_op(session, name, tracer)
        return time.perf_counter() - t0

    def _fresh_session(self):
        """Release everything a previous pass persisted; return a new
        session on the same context."""
        jsc = self.spark.sparkContext._jsc
        for rdd in list(jsc.getPersistentRDDs().values()):
            rdd.unpersist(True)
        self.spark.catalog.clearCache()
        _empty_dir(self.warehouse)
        return self.spark.newSession()

    def _registry_op(self, session, name: str, tracer: Tracer) -> None:
        fn = self.specs[name].fn
        trace = tracer.enabled
        group = f"{len(self.records)}:{name}"  # job-group prefix, unique per run
        rec = {"op": name, "ok": False}
        self.records.append(rec)
        try:
            with tracer.span("op", op=name) as sp:
                if trace:
                    self.counters.set_group(f"{group}:build")
                    calls0 = self.py4j.calls
                t0 = time.perf_counter()
                with tracer.span("build"):
                    df = fn(session, self.data_dir)
                t1 = time.perf_counter()
                if trace:
                    build_calls = self.py4j.calls - calls0
                    self.counters.set_group(f"{group}:action")
                with tracer.span("action"):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
            rec.update(
                wall=t2 - t0, action=t2 - t1, result=pdf, rows=len(pdf), ok=True
            )
        except Exception as e:  # a failed op is counted, never fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
            return
        if trace:
            with tracer.bookkeeping():
                self._trace_registry_op(
                    group, df, pdf, sp, t1 - t0, t2 - t1, build_calls
                )

    def _trace_registry_op(self, group, df, pdf, sp, build_s, action_s, calls):
        c = self.counters
        c.drain_listener()
        build = c.group_counts(f"{group}:build")
        action = c.group_counts(f"{group}:action")
        self._note("queries.build_s", build_s)
        self._note("queries.build_jobs", build["jobs"])
        self._note("queries.build_py4j_calls", calls)
        self._note("exec.action_s", action_s)
        self._note("exec.jobs", action["jobs"])
        self._note("exec.stages", action["stages"])
        self._note("exec.tasks", action["tasks"])
        for key, value in c.catalyst_phases(df).items():
            self._note(key, value)
        for key, value in c.plan_metrics(df).items():
            self._note(key, value)
        self._note("result.rows", len(pdf))
        self._note("result.bytes", int(pdf.memory_usage(deep=True).sum()))
        self._check_coverage(sp, sp["op"])

    def _ingest_op(self, session, name: str, tracer: Tracer) -> None:
        from omnidata_etl_spark.ingest import load, preview, read_any

        stem = name[len(LOAD_PREFIX):]
        spec = self.plan["ingest_files"][stem]
        path = spec["path"]
        trace = tracer.enabled
        group = f"{len(self.records)}:{name}"  # job-group prefix, unique per run
        rec = {"op": name, "ok": False}
        self.records.append(rec)
        stamps = []

        def phase(label):
            if trace:
                self.counters.set_group(f"{group}:{label}")
            stamps.append(time.perf_counter())
            return tracer.span(label)

        try:
            with tracer.span("op", op=name) as sp:
                with phase("read_any"):
                    df = read_any(session, path)
                with phase("preview"):
                    head = preview(session, path, n=10)
                with phase("load"):
                    target = load(
                        df,
                        f"bench_{stem}",
                        warehouse=self.warehouse,
                        types=spec["types"],
                        mode="overwrite",
                    )
                with phase("readback"):
                    back = session.read.parquet(target)
                    stats = back.selectExpr(
                        "count(*) AS n",
                        "min(id) AS lo",
                        "max(id) AS hi",
                        "count(DISTINCT id) AS nd",
                    ).collect()[0]
                stamps.append(time.perf_counter())
            rec.update(
                wall=stamps[-1] - stamps[0],
                rows=spec["rows"],
                ok=True,
                result={
                    "preview_rows": len(head["preview"]),
                    "stats": stats.asDict(),
                    "types": {f.name: f.dataType for f in back.schema.fields},
                },
            )
        except Exception as e:  # a failed op is counted, never fatal
            rec["error"] = f"{type(e).__name__}: {e}"[:300]
            return
        if trace:
            with tracer.bookkeeping():
                self._trace_ingest_op(group, spec, target, stamps, sp)

    def _trace_ingest_op(self, group, spec, target, stamps, sp):
        c = self.counters
        c.drain_listener()
        read_s, preview_s, load_s, back_s = (
            b - a for a, b in zip(stamps, stamps[1:])
        )
        written = sum(
            os.path.getsize(os.path.join(target, f))
            for f in os.listdir(target)
            if f.endswith(".parquet")
        )
        counts = {
            label: c.group_counts(f"{group}:{label}")
            for label in ("read_any", "preview", "load")
        }
        self._note("ingest.read_any_s", read_s)
        self._note("ingest.read_any_jobs", counts["read_any"]["jobs"])
        self._note("ingest.preview_s", preview_s)
        self._note("ingest.preview_tasks", counts["preview"]["tasks"])
        self._note("ingest.load_s", load_s)
        self._note("ingest.load_jobs", counts["load"]["jobs"])
        self._note("ingest.bytes_written", written)
        self._note("ingest.write_amp", written / spec["bytes"])
        self._note("ingest.readback_s", back_s)
        self._check_coverage(sp, sp["op"])

    # --- checks and report -----------------------------------------------------

    def _note(self, key: str, value: float) -> None:
        self.layer.setdefault(key, []).append(float(value))

    def _check_coverage(self, sp: dict, label: str) -> None:
        share = coverage(self.tracer, sp)
        self._note("trace.coverage_min", share)
        gap = duration(sp) * (1 - share)
        self.uncovered[label] = round(gap, 4)
        if share < COVERAGE_FLOOR:
            print(
                f"uncovered: {label} {gap:.4f} s of {duration(sp):.4f} s "
                f"({100 * (1 - share):.1f}%)",
                file=sys.stderr,
            )

    def verify(self) -> None:
        from tests.oracle_util import canonical, duckdb_connection

        con = duckdb_connection(self.data_dir)
        expected: dict[str, object] = {}
        for rec in self.records:
            if not rec["ok"]:
                continue
            name, result = rec["op"], rec.pop("result")
            if name.startswith(LOAD_PREFIX):
                rec["ok"] = self._ingest_ok(rec, result)
                continue
            oracle = self.specs[name].oracle
            if oracle is None:
                ok, why = self._rows_only_ok(name, result)
            else:
                if name not in expected:
                    expected[name] = canonical(con.execute(oracle).df())
                ok = canonical(result) == expected[name]
                why = "differs from the DuckDB oracle"
            if not ok:
                rec.update(ok=False, error=f"wrong result: {why}")
        con.close()

    def _rows_only_ok(self, name: str, result) -> tuple[bool, str]:
        """An op without a DuckDB oracle, checked against what the
        generated inputs fix in advance."""
        docs = self.plan["table_rows"]["documents"]
        if name == "dedup_simhash":
            if self.simhash is None:
                self.simhash = self._simhash_expected()
            fps, rate = self.simhash
            if len(result) != docs:
                return False, f"rows {len(result)} != {docs}"
            got = dict(zip(result["doc_id"], result["simhash64"]))
            wrong = sum(got.get(d) != fp for d, fp in fps.items())
            if wrong:
                return False, f"simhash64 differs on {wrong} documents"
            rates = set(result["planted_close_rate"])
            if rates != {rate}:
                return False, f"planted_close_rate {sorted(rates)} != {rate}"
            return True, ""
        if name == "multimodal_audio_stats":
            if len(result) != datagen.N_SOURCES:
                return False, f"rows {len(result)} != {datagen.N_SOURCES}"
            if result["n_assets"].sum() != docs:
                return False, f"n_assets sum {result['n_assets'].sum()} != {docs}"
            if not all(v is not None and bool(v) for v in result["decode_ok_all"]):
                return False, "decode_ok_all is not true on every source"
            return True, ""
        return False, "rows-only op with no check in the benchmark"

    def _simhash_expected(self) -> tuple[dict[int, int], float]:
        """SimHash of the generated documents computed apart from the
        package: Spark's built-in ``xxhash64`` per distinct token, the
        64 bit votes in numpy. Returns the fingerprint per doc_id and the
        share of the 20 planted copies (leading token dropped) within
        Hamming distance 8 of their originals."""
        import numpy as np
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        cols = pq.read_table(
            os.path.join(self.data_dir, "documents.parquet"),
            columns=["doc_id", "text"],
        ).to_pydict()
        texts = dict(zip(cols["doc_id"], cols["text"]))
        vocab = sorted({t for text in texts.values() for t in text.split(" ")})
        hashes = dict(
            self.spark.createDataFrame([(t,) for t in vocab], "token string")
            .select("token", F.xxhash64("token"))
            .collect()
        )
        shifts = np.arange(64, dtype=np.int64)

        def fingerprint(text: str) -> int:
            h = np.array([hashes[t] for t in text.split(" ")], dtype=np.int64)
            ones = ((h[:, None] >> shifts) & 1).sum(axis=0)
            bits = (2 * ones > len(h)).astype(np.uint64)
            word = int((bits << shifts.astype(np.uint64)).sum())
            return word - (1 << 64) if word >= 1 << 63 else word

        fps = {d: fingerprint(t) for d, t in texts.items()}
        close = [
            bin((fps[d] ^ fingerprint(texts[d].split(" ", 1)[-1])) & (2**64 - 1))
            .count("1") <= 8
            for d in range(20)
        ]
        return fps, sum(close) / len(close)

    def _ingest_ok(self, rec: dict, res: dict) -> bool:
        from omnidata_etl_spark.ingest.types import map_user_type

        spec = self.plan["ingest_files"][rec["op"][len(LOAD_PREFIX):]]
        n = spec["rows"]
        st = res["stats"]
        problems = []
        if st["n"] != n:
            problems.append(f"rows {st['n']} != {n}")
        if (st["lo"], st["hi"], st["nd"]) != (1, n, n):
            problems.append(f"id not dense 1..{n}: {st}")
        if res["preview_rows"] != 10:
            problems.append(f"preview returned {res['preview_rows']} rows")
        for col, user_type in spec["types"].items():
            got = res["types"].get(col)
            if got != map_user_type(user_type):
                problems.append(f"{col} is {got}, declared {user_type}")
        if not spec["with_id"] and res["types"].get("id") != map_user_type("INT"):
            problems.append(f"surrogate id is {res['types'].get('id')}")
        if problems:
            rec["error"] = "wrong result: " + "; ".join(problems)
        return not problems

    def report(self) -> dict:
        ok = [r for r in self.records if r["ok"]]
        attempted = len(self.records)
        failed = attempted - len(ok)
        walls = [r["wall"] for r in ok]
        # rows moved per second of the timed work that moves them: loaded
        # rows over load-op wall where the workload loads, else result rows
        # over result-transfer (action) wall
        loads = [r for r in ok if r["op"].startswith(LOAD_PREFIX)]
        if loads:
            rows_per_s = sum(r["rows"] for r in loads) / sum(
                r["wall"] for r in loads
            )
        else:
            rows_per_s = sum(r["rows"] for r in ok) / sum(r["action"] for r in ok)
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        rss = _vm_hwm_mb(jvm_pid) + _vm_hwm_mb("self")
        e2e = {
            "setup_s": (self.setup_s, "s"),
            "ops_per_s": (len(ok) / self.window_wall, "1/s"),
            "op_p50_s": (_percentile(walls, 50), "s"),
            "op_tail_s": (_percentile(walls, TAIL_PCT), "s"),
            "verified_frac": (len(ok) / attempted, "ratio"),
            "peak_rss_mb": (rss, "MB"),
            "rows_per_s": (rows_per_s, "1/s"),
        }
        detail = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "passes": self.passes,
            "window_s": round(self.window_wall, 4),
            "phase_s": self.phase_s,
            "samples": {
                "setup_s": 1,
                "op_latency": len(walls),
            },
            "op_tail_percentile": TAIL_PCT,
            "host_steal_frac": round(self.steal_frac, 4),
            "op_wall_s": [[r["op"], round(r["wall"], 4)] for r in ok],
            "failed_frac": failed / attempted,
            "failures": {r["op"]: r["error"] for r in self.records if not r["ok"]},
        }
        if self.tracer.enabled:
            metrics = self._layer_metrics()
            detail["uncovered_s"] = self.uncovered
            detail["trace_file"] = self.plan["trace_file"]
        else:
            metrics = {}
            for name, unit in self.plan["end_to_end"]:
                value, own_unit = e2e[name]
                if unit != own_unit:
                    raise ValueError(
                        f"{name}: BENCHMARK.json unit {unit!r}, "
                        f"measured in {own_unit!r}"
                    )
                metrics[name] = {"value": value, "unit": unit}
        print(json.dumps({"detail": detail}))
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }

    def _layer_metrics(self) -> dict:
        """Per-layer metrics: set-up layers as measured once, op layers as
        the mean per op; absent layers read 0."""
        out = {}
        for name, unit in self.plan["per_layer"]:
            values = self.layer.get(name, [])
            if name == "trace.overhead_s":
                value = self.tracer.overhead_s
            elif name == "trace.overhead_frac":
                value = self.tracer.overhead_s / (
                    self.window_wall + self.tracer.overhead_s
                )
            elif name == "trace.coverage_min":
                value = min(values) if values else 1.0
            elif not values:
                value = 0.0
            else:
                value = sum(values) / len(values)
            out[name] = {"value": value, "unit": unit}
        return out


def _stop_jvm(gateway) -> None:
    """End the driver JVM and wait for it, so its shutdown hooks finish
    before the launcher removes the scratch dirs."""
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--plan", required=True)
    args = ap.parse_args()
    with open(args.plan) as f:
        plan = json.load(f)
    sys.path.insert(0, ROOT)
    run = Run(args, plan)
    for phase in ("setup", "window", "verify"):
        t0 = time.perf_counter()
        getattr(run, phase)()
        run.phase_s[phase] = round(time.perf_counter() - t0, 3)
    result = run.report()
    if run.tracer.enabled:
        run.tracer.write(plan["trace_file"])
    gateway = run.spark.sparkContext._gateway
    run.spark.stop()
    _stop_jvm(gateway)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
