#!/usr/bin/env python3
"""Layered pipeline benchmark.

    python3 perfbench/run.py --workload olap_sf0.1 --seed 1 --seconds 5 --trace 0

Runs one workload (``perfbench/workloads.py``) from the registry,
``queries.QUERIES[name].spark_fn(spark, sf_dir).toPandas()``, in a fresh
``get_spark()`` session over the repo's read-only fixtures, and checks
every result against the query's DuckDB oracle with the canonicaliser of
``tools/check_correctness.py``.  ``--seed`` fixes the order of the queries
in every pass after the cold one.  A run is:

1. set-up: five session starts (``get_spark`` and one trivial action); the
   first also launches the JVM;
2. the cold pass: the mix once, in its listed order, in the fresh session,
   then one DuckDB pass over the oracle SQL whose results are the
   correctness reference;
3. the warm phase: at least three single-client passes, each followed by
   DuckDB passes over the same oracle SQL, until ``--seconds`` have passed;
4. the threaded phase: ``nproc`` closed-loop client threads on the one
   session drain a queue of two more passes of the mix.

Per-query latencies (``query_p50_s``, ``query_tail_s``) are taken over every
untraced execution of the run: cold, warm and threaded.

With ``--trace 1`` every second warm pass is traced: spans around build,
plan and action, and counters read at those boundaries.  The last stdout
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics untraced, per-layer metrics traced); the
lines before it name every metric with its unit, list failures by query,
and give the ``env`` block.  A traced run also writes its spans and
per-query breakdown under ``.perfbench_run/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import threading
import time
from collections import Counter
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probes  # noqa: E402
import stats  # noqa: E402
from workloads import BENCH_IDS, WORKLOADS  # noqa: E402

SETUP_STARTS = 5
MIN_WARM_PASSES = 3
THREADED_PASSES = 2
# Each interleaved DuckDB step repeats its pass until this much time has
# passed, so that a mix of millisecond oracles still gives a steady median.
DUCK_STEP_S = 0.25
DRIVER_MEM_CAP_MB = 2048

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "concurrent_qps": "1/s",
    "duckdb_ratio": "x",
    "passed_frac": "frac",
    "peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.conf_leaks": "count",
    "session.persisted_left": "count",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "core.build_s": "s",
    "plans.plan_s": "s",
    "operators.action_s": "s",
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.failed_tasks": "count",
    "operators.shuffle_bytes": "bytes",
    "operators.broadcast_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "operators.python_nodes": "count",
    "sources.scan_rows": "count",
    "sources.scan_bytes": "bytes",
    "sources.write_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.trigger_s": "s",
    "streaming.scaffold_s": "s",
    "streaming.empty_batch_frac": "frac",
    "trace.overhead_frac": "frac",
}


class SetupError(Exception):
    """The checkout cannot run the benchmark (missing engine or fixtures)."""


def _driver_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return min(DRIVER_MEM_CAP_MB, total_kb // 1024 // 4)


def _prepare_environment(tmp: str, cpus: int) -> None:
    """Everything the engine, its JVM and its Python workers write goes
    under ``tmp``; workers import the package from the checkout."""
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{_driver_mem_mb()}m"


class Engine:
    """The repo under test, imported from the checkout."""

    def __init__(self) -> None:
        sys.path.insert(0, ROOT)
        try:
            import duckdb
            import pyspark

            from data_pipeline_package_for_python_spark import plans
            from data_pipeline_package_for_python_spark.queries import QUERIES
            from data_pipeline_package_for_python_spark.session import get_spark
            from tools import check_correctness
        except ImportError as e:
            raise SetupError(f"cannot import the engine from {ROOT}: {e}") from e
        self.duckdb, self.pyspark = duckdb, pyspark
        self.plans, self.QUERIES, self.get_spark = plans, QUERIES, get_spark
        self.checker = check_correctness
        # The fixture root is the one the repo's own correctness checker reads.
        self.fixtures = os.path.dirname(os.path.normpath(check_correctness.SF_DIR))


class Run:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, tmp: str, cpus: int):
        self.w = workload
        self.rng = random.Random(seed)
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tmp = tmp
        self.cpus = cpus
        self.eng = Engine()
        self.sf_dir = os.path.join(self.eng.fixtures, workload.scale)
        if not os.path.isdir(self.sf_dir):
            raise SetupError(f"fixture directory {self.sf_dir} not found")
        for name in workload.queries:
            q = self.eng.QUERIES.get(name)
            if q is None or q.oracle is None:
                raise SetupError(f"{name} is not a registry query with an oracle")
        self.spark = None
        self.jvm = None
        self.attempted = 0
        self.failures: list[tuple[str, str, str]] = []
        self.oracle_hash: dict[str, tuple] = {}
        self.tracer = probes.Tracer() if trace else None

    def span(self, name: str, layer: str, **attrs):
        """A span in the traced run; nothing in the untraced one."""
        return self.tracer.span(name, layer, **attrs) if self.tracer else nullcontext({})

    # ---------------------------------------------------------------- set-up

    def _session_conf(self) -> dict[str, str]:
        return {
            "spark.sql.warehouse.dir": os.path.join(self.tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.tmp} -Dderby.system.home={self.tmp}",
        }

    def setup(self) -> dict:
        starts, inside = [], []
        for i in range(SETUP_STARTS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.span("get_spark", "session"):
                spark = self.eng.get_spark(app_name="perfbench", extra_conf=self._session_conf())
            t1 = time.perf_counter()
            with self.span("first_action", "operators"):
                spark.range(1).collect()
            starts.append(time.perf_counter() - t0)
            inside.append(t1 - t0)
            self.spark = spark
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm = probes.Jvm(self.spark)
        return {"starts": starts, "inside": inside}

    def duck_connection(self):
        con = self.eng.duckdb.connect()
        for t in self.eng.checker.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(self.sf_dir, t)}.parquet')"
            )
        return con

    # ------------------------------------------------------------- execution

    def order(self, phase: str = "") -> list[str]:
        """The cold pass runs the mix as listed, so that every run warms
        the JVM in the same order; later passes follow the seed."""
        if phase == "cold":
            return list(self.w.queries)
        return self.rng.sample(self.w.queries, len(self.w.queries))

    def run_query(self, name: str):
        """Build plus action, untraced: (seconds, pandas frame or exception)."""
        t0 = time.perf_counter()
        try:
            pdf = self.eng.QUERIES[name].spark_fn(self.spark, self.sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 — a failing query is a result
            return time.perf_counter() - t0, e
        return time.perf_counter() - t0, pdf

    def spark_pass(self, phase: str) -> tuple[float, list[float], dict]:
        results, samples = {}, []
        with self.span(f"{phase}_pass", "untraced"):
            t0 = time.perf_counter()
            for name in self.order(phase):
                dt, res = self.run_query(name)
                samples.append(dt)
                results[name] = res
            wall = time.perf_counter() - t0
        self.record(phase, results.items())
        return wall, samples, results

    def duck_pass(self, con) -> tuple[float, dict]:
        out = {}
        t0 = time.perf_counter()
        for name in self.w.queries:
            out[name] = con.execute(self.eng.QUERIES[name].oracle).df()
        return time.perf_counter() - t0, out

    def duck_step(self, con) -> list[float]:
        times, t_end = [], time.perf_counter() + DUCK_STEP_S
        with self.span("duckdb", "duckdb"):
            while not times or time.perf_counter() < t_end:
                times.append(self.duck_pass(con)[0])
        return times

    def record(self, phase: str, results) -> None:
        """Count executions; an execution that raised has failed."""
        for name, res in results:
            self.attempted += 1
            if isinstance(res, Exception):
                self.failures.append((phase, name, f"{type(res).__name__}: {res}"[:300]))

    def signature(self, pdf) -> tuple:
        try:
            n, cols, digest, _ = self.eng.checker.canonicalize(pdf)
        except self.eng.checker.CanonCrash as e:
            return ("crash", str(e))
        return (n, tuple(cols), digest)

    def check(self, phase: str, results) -> None:
        """Compare every result frame with its oracle's signature."""
        for name, res in results:
            if isinstance(res, Exception):
                continue
            got, want = self.signature(res), self.oracle_hash[name]
            if got != want:
                self.failures.append(
                    (phase, name, f"result {got[:2]} differs from oracle {want[:2]}")
                )

    def threaded_phase(self) -> tuple[float, int, list]:
        queue = [n for _ in range(THREADED_PASSES) for n in self.order()]
        lock = threading.Lock()
        done: list[tuple[str, float, object]] = []

        def client() -> None:
            while True:
                with lock:
                    if not queue:
                        return
                    name = queue.pop(0)
                dt, res = self.run_query(name)
                with lock:
                    done.append((name, dt, res))

        threads = [threading.Thread(target=client, name=f"client-{i}") for i in range(self.cpus)]
        with self.span("threaded", "untraced", clients=self.cpus):
            t0 = time.perf_counter()
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            wall = time.perf_counter() - t0
        ok = sum(1 for _, _, r in done if not isinstance(r, Exception))
        return wall, ok, done

    # ---------------------------------------------------------------- traced

    def traced_pass(self, progress, index: int) -> tuple[float, Counter, list[dict]]:
        """One pass with spans and counters; returns (wall, per-layer sums,
        per-query rows)."""
        jvm, spark, tracer = self.jvm, self.spark, self.tracer
        totals: Counter = Counter()
        rows, results = [], {}
        t0 = time.perf_counter()
        with tracer.span("traced_pass", "bench", index=index):
            for name in self.order():
                with tracer.span(name, "bench", query=name, index=index) as qspan:
                    conf0, persisted0 = probes.conf_snapshot(spark), jvm.persisted()
                    io0, mark = probes.write_bytes(jvm.pid), progress.mark()
                    job0 = jvm.next_job()
                    layer = "core" if name.startswith("dsl_") else "queries"
                    try:
                        with tracer.span("build", layer, query=name, index=index) as bspan:
                            df = self.eng.QUERIES[name].spark_fn(spark, self.sf_dir)
                        job1 = jvm.next_job()
                        with tracer.span("plan", "plans", query=name, index=index) as pspan:
                            self.eng.plans.formatted_plan(df)
                        job2, stage2 = jvm.next_job(), jvm.next_stage()
                        with tracer.span("action", "operators", query=name, index=index) as aspan:
                            res = df.toPandas()
                        job3, stage3 = jvm.next_job(), jvm.next_stage()
                    except Exception as e:  # noqa: BLE001 — a failing query is a result
                        results[name] = e
                        continue
                    results[name] = res
                    jvm.drain()
                    tasks, failed_tasks = jvm.task_attempts(job2, job3)
                    _, build_failed = jvm.task_attempts(job0, job2)
                    sql = probes.plan_metrics(df)
                    batches = progress.since(mark)
                    for rows_in, secs, started in batches:
                        # Triggers run inside the eager build; clip to it.
                        lo = min(max(bspan["start"], tracer.from_wall(started)), bspan["end"])
                        tracer.add("trigger", "streaming", lo, min(lo + secs, bspan["end"]),
                                   parent=bspan["id"], query=name, index=index,
                                   input_rows=rows_in)
                    trigger_s = sum(b[1] for b in batches)
                    row = {
                        "query": name,
                        "bench_id": BENCH_IDS.get(name),
                        "build_s": bspan["end"] - bspan["start"],
                        "build_jobs": job1 - job0,
                        "plan_s": pspan["end"] - pspan["start"],
                        "action_s": aspan["end"] - aspan["start"],
                        "jobs": job3 - job2,
                        "stages": stage3 - stage2,
                        "tasks": tasks,
                        "failed_tasks": failed_tasks + build_failed,
                        "batches": len(batches),
                        "empty_batches": sum(1 for b in batches if b[0] == 0),
                        "trigger_s": trigger_s,
                        "write_bytes": probes.write_bytes(jvm.pid) - io0,
                        "conf_leaks": probes.conf_changes(conf0, probes.conf_snapshot(spark)),
                        "persisted_left": max(0, jvm.persisted() - persisted0),
                        **sql,
                    }
                    rows.append(row)
                    qspan["row"] = len(rows) - 1
        wall = time.perf_counter() - t0
        self.record("traced", results.items())
        self.check("traced", results.items())
        for r in rows:
            for k, v in r.items():
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    totals[k] += v
            if r["batches"]:
                totals["scaffold_s"] += r["build_s"] - r["trigger_s"]
            if r["query"].startswith("dsl_"):
                totals["core_build_s"] += r["build_s"]
        return wall, totals, rows

    # ----------------------------------------------------------------- phases

    def execute(self) -> tuple[dict, dict, dict]:
        """Run every phase; returns (metrics, env, trace report)."""
        with self.span("workload", "bench", workload=self.w.name, seed=self.seed):
            metrics, env, parts = self._execute()
        report = self.layer_report(*parts) if self.trace else {}
        return metrics, env, report

    def _execute(self) -> tuple[dict, dict, dict]:
        setup = self.setup()
        con = self.duck_connection()
        progress = probes.StreamProgress() if self.trace else None

        cold_s, samples, cold = self.spark_pass("cold")
        _, oracle = self.duck_pass(con)
        self.oracle_hash = {n: self.signature(df) for n, df in oracle.items()}
        self.check("cold", cold.items())
        del cold, oracle

        warm, duck = [], []
        traced: list[tuple[float, Counter, list[dict]]] = []
        t_end = time.perf_counter() + self.seconds
        i = 0
        while i < MIN_WARM_PASSES or time.perf_counter() < t_end:
            if self.trace and i % 2 == 1:
                self.spark.streams.addListener(progress)
                traced.append(self.traced_pass(progress, i))
                self.spark.streams.removeListener(progress)
            else:
                wall, s, _ = self.spark_pass("warm")
                warm.append(wall)
                samples.extend(s)
                duck.extend(self.duck_step(con))
            i += 1
        con.close()

        conf0 = probes.conf_snapshot(self.spark) if self.trace else None
        thr_wall, thr_ok, thr_done = self.threaded_phase()
        self.record("threaded", ((n, r) for n, _, r in thr_done))
        self.check("threaded", ((n, r) for n, _, r in thr_done))
        thr_leaks = probes.conf_changes(conf0, probes.conf_snapshot(self.spark)) if self.trace else 0
        samples.extend(dt for _, dt, _ in thr_done)
        del thr_done

        rss = {"python": probes.peak_rss_mb(os.getpid()), "jvm": probes.peak_rss_mb(self.jvm.pid)}
        tail_s, tail_pct, n = stats.tail(samples)
        metrics = {
            "setup_s": stats.median(setup["starts"]),
            "cold_pass_s": cold_s,
            "warm_pass_s": stats.median(warm),
            "query_p50_s": stats.median(samples),
            "query_tail_s": tail_s,
            "concurrent_qps": thr_ok / thr_wall,
            "duckdb_ratio": stats.median(warm) / stats.median(duck),
            "passed_frac": 1.0 - len(self.failures) / self.attempted,
            "peak_rss_mb": rss["python"] + rss["jvm"],
        }
        sc = self.spark.sparkContext
        env = {
            "workload": self.w.name,
            "seed": self.seed,
            "master": sc.master,
            "effective_cores": self.cpus,
            "default_parallelism": sc.defaultParallelism,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": self.spark.conf.get("spark.driver.memory"),
            "spark": self.spark.version,
            "pyspark": self.eng.pyspark.__version__,
            "duckdb": self.eng.duckdb.__version__,
            "python": sys.version.split()[0],
            "jvm_launch_s": setup["starts"][0],
            "setup_starts_s": setup["starts"],
            "warmup_pass_s": [cold_s],
            "warm_pass_s": warm,
            "duckdb_pass_s": duck,
            "query_tail": {"percentile": round(tail_pct, 1), "samples": n},
            "peak_rss_mb": rss,
            "threaded": {"clients": self.cpus, "queries": thr_ok, "wall_s": thr_wall},
        }
        return metrics, env, (setup, traced, warm, thr_leaks)

    def layer_report(self, setup, traced, warm, thr_leaks) -> dict:
        def med(key: str) -> float:
            return stats.median([t[key] for _, t, _ in traced])

        batches = med("batches")
        traced_wall = stats.median([w for w, _, _ in traced])
        layers = {
            "session.start_s": stats.median(setup["inside"]),
            "session.conf_leaks": med("conf_leaks") + thr_leaks,
            "session.persisted_left": med("persisted_left"),
            "queries.build_s": med("build_s"),
            "queries.build_jobs": med("build_jobs"),
            "core.build_s": med("core_build_s"),
            "plans.plan_s": med("plan_s"),
            "operators.action_s": med("action_s"),
            "operators.jobs": med("jobs"),
            "operators.stages": med("stages"),
            "operators.tasks": med("tasks"),
            "operators.failed_tasks": med("failed_tasks"),
            "operators.shuffle_bytes": med("shuffle_bytes"),
            "operators.broadcast_bytes": med("broadcast_bytes"),
            "operators.spill_bytes": med("spill_bytes"),
            "operators.python_nodes": med("python_nodes"),
            "sources.scan_rows": med("scan_rows"),
            "sources.scan_bytes": med("scan_bytes"),
            "sources.write_bytes": med("write_bytes"),
            "streaming.batches": batches,
            "streaming.trigger_s": med("trigger_s"),
            "streaming.scaffold_s": med("scaffold_s"),
            "streaming.empty_batch_frac": med("empty_batches") / batches if batches else 0.0,
            "trace.overhead_frac": traced_wall / stats.median(warm) - 1.0,
        }
        return {
            "layers": layers,
            "traced_pass_s": [w for w, _, _ in traced],
            "untraced_pass_s": warm,
            "self_time_s": stats.self_times(self.tracer.spans),
            "per_query": traced[0][2],
            "spans": self.tracer.spans,
        }


def _shutdown(run: Run | None) -> None:
    """Stop the session, then the JVM PySpark launched, and wait for it."""
    if run is None or run.spark is None:
        return
    gateway = run.spark.sparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)  # set when this process launched the JVM
    run.spark.stop()
    gateway.shutdown()
    if proc is not None:
        # The gateway JVM exits when its stdin closes.
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def report_lines(metrics: dict, env: dict, report: dict, failures, attempted: int,
                 trace: bool) -> list[str]:
    """Everything the run prints; the last line is the JSON result."""
    lines = ["env " + json.dumps(env)]
    lines += [f"FAILED {name} ({phase}): {why}" for phase, name, why in failures]
    for name, unit in END_TO_END_UNITS.items():
        note = ""
        if name == "query_tail_s":
            t = env["query_tail"]
            note = f"  (p{t['percentile']}, {t['samples']} samples, {stats.TAIL_BEYOND} beyond)"
        lines.append(f"{name} = {_fmt(metrics[name])} {unit}{note}")
    if trace:
        lines += [f"{name} = {_fmt(report['layers'][name])} {unit}"
                  for name, unit in PER_LAYER_UNITS.items()]
    units, values = (PER_LAYER_UNITS, report["layers"]) if trace else (END_TO_END_UNITS, metrics)
    lines.append(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return lines


def main(argv=None) -> int:
    args = _parse(argv)
    work = os.path.join(ROOT, ".perfbench_run")
    tmp = os.path.join(work, f"tmp-{os.getpid()}")
    cpus = len(os.sched_getaffinity(0))
    run = None
    try:
        _prepare_environment(tmp, cpus)
        run = Run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), tmp, cpus)
        metrics, env, report = run.execute()
    except SetupError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    finally:
        _shutdown(run)
        shutil.rmtree(tmp, ignore_errors=True)

    lines = report_lines(metrics, env, report, run.failures, run.attempted, bool(args.trace))
    if args.trace:
        path = os.path.join(work, f"trace-{args.workload}-seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump({"env": env, "end_to_end": metrics, **report}, f, indent=1)
        lines.insert(-1, f"trace written to {os.path.relpath(path, ROOT)}")
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
