#!/usr/bin/env python3
"""Oracle-checked benchmark of the flights ELT and the query engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload elt --seed 1 --seconds 10 --trace 0

Each workload is a closed loop with one client in one process, on
``local[<cores>]``. The inputs are the sf0.01 test tables committed in
``perfbench/data`` (about 60k lineitem rows). The seed picks the daily
``ds`` and the query order of each pass; it never changes the data.

Workloads:

* ``elt`` -- set-up derives the 8 source tables and writes them once.
  One pass is one ELT cycle. It starts with a backfill: ``runner.run_day``
  for each of ``derive.DERIVE_DAYS`` into fresh landing, staging and
  warehouse dirs, then ``runner.run_transforms``. The daily run follows:
  ``run_day(ds)`` plus ``run_transforms`` on that warehouse.
* ``queries`` -- one pass runs one query of each query module but
  ``flights``, each materialized through the ``noop`` sink: star and
  relational reads plus the multi-job operator kernels (basket, LSH, BPE,
  IVF-PQ). The first call of a ``flights`` query builds a warehouse of
  its own, the same work ``elt`` measures, so it is left out.

Set-up is session start plus either source derivation (``elt``) or two
warm-up passes (``queries``). The timed loop then repeats whole passes
until at least ``--seconds`` have been measured. ``pass_s`` is the median
seconds per pass; on ``queries`` it is the sum of each query's median.

Outputs are checked untimed, with the multiset compare of
``tests/oracle_utils.py``. Every query result of the first warm-up pass is
compared with its DuckDB oracle. Every warehouse table is compared with
``derive.oracle_with(transforms.ORACLES[table])`` after each backfill and
after each daily run. An exception or a mismatch is a failed operation,
and its pass counts as infinitely slow.

``--trace 1`` turns Spark's event log on and reports the per-layer
metrics of ``perfbench/layers.py`` instead of the end-to-end ones. It
prints the traced end-to-end figures on the line before the result, so
the tracing overhead can be read off, and writes its spans to
``.bench_build/perfbench-trace/``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. The exit code is 1 when an output is wrong.
Every file the run writes stays under ``.bench_build/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data")
BUILD = os.path.join(ROOT, ".bench_build")

#: the ``queries`` workload: one query of each query module but flights
QUERIES = [
    "multiway_join",  # relational
    "shipping_priority",  # shapes
    "association_rules",  # olap
    "bpe_train_merges",  # text
    "minhash_lsh_candidates",  # dedup
    "ivf_pq_topk",  # similarity
    "decontamination_ngram_overlap",  # curation
    "scd2_user_state_history",  # timeseries
]
WORKLOADS = ("elt", "queries")

#: end-to-end metric -> unit (BENCHMARK.json carries the bounds)
END_TO_END = {"setup_s": "s", "pass_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", default="nproc", help="'nproc' or a number")
    p.add_argument("--driver-memory", default="1g")
    return p.parse_args(argv)


def configure_env(work: str, cores: int, driver_memory: str) -> None:
    """Point every temp and spill location into ``work``; set the cores
    and driver memory through the program's own env vars. Runs before
    pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory
    # both the launcher JVM and the driver JVM: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size


class Bench:
    """One run: the session, the tracer, the operation tally and the
    result rows still waiting for their oracle check."""

    def __init__(self, args, work: str, t_start: float):
        from flights_data_pipeline_spark.session import get_spark

        from perfbench.layers import Tracer

        self.args = args
        self.work = work
        self.t_start = t_start
        self.rng = random.Random(args.seed)
        self.tracer = Tracer(bool(args.trace))
        self.attempted = 0
        #: operations that raised or returned a wrong result
        self.failed: set[str] = set()
        self.errors: list[str] = []
        #: (operation, label, columns, rows, oracle sql) checked after the
        #: timed loop
        self.pending: list[tuple[str, str, list[str], list[tuple], str]] = []
        #: (operation, copy of the warehouse it left) checked likewise
        self.warehouses: list[tuple[str, str]] = []
        extra = {}
        if args.trace:
            os.makedirs(f"{work}/events")
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/events",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        with self.tracer.span("session", "session"):
            self.spark = get_spark("perfbench", extra_conf=extra)

    def fail(self, op: str, why: str) -> None:
        self.failed.add(op)
        self.errors.append(f"{op}: {why}"[:500])

    def persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def peak_rss_mb(self) -> tuple[float, float]:
        """VmHWM of this process and of the JVM, read before any check
        runs so the oracles' memory stays out of it."""
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return vm_hwm_mb("self"), vm_hwm_mb(jvm_pid)

    # -- ELT ---------------------------------------------------------------
    def derive_sources(self) -> str:
        from flights_data_pipeline_spark.pipeline import derive

        source = f"{self.work}/source"
        with self.tracer.span("derive_staging", "pipeline.derive"):
            staged = derive.derive_staging(self.spark, DATA)
            # disjoint directories: write them as concurrent jobs
            with ThreadPoolExecutor(max_workers=len(staged)) as pool:
                futures = [
                    pool.submit(df.write.mode("overwrite").parquet, f"{source}/{t}")
                    for t, df in staged.items()
                ]
                for f in futures:
                    f.result()
        return source

    def run_day(self, source: str, dirs: dict, ds: str) -> None:
        from flights_data_pipeline_spark.pipeline import runner
        from flights_data_pipeline_spark.pipeline.etl import LoadStatus

        with self.tracer.span(f"run_day:{ds}", "pipeline.etl"):
            results = runner.run_day(self.spark, source, dirs["landing"], dirs["staging"], ds)
        if self.tracer.enabled:
            self.tracer.add("pipeline.etl.rows_loaded", sum(r.n_rows for r in results))
            self.tracer.add(
                "pipeline.etl.tables_skipped",
                sum(r.status is LoadStatus.SKIPPED for r in results),
            )
            self.tracer.add("pipeline.etl.landing_bytes", dir_stats(dirs["landing"])[1])

    def run_transforms(self, dirs: dict) -> None:
        from flights_data_pipeline_spark.pipeline import runner

        with self.tracer.span("run_transforms", "pipeline.transforms"):
            runner.run_transforms(self.spark, dirs["staging"], dirs["warehouse"])
        if self.tracer.enabled:
            files, size = dir_stats(dirs["warehouse"])
            self.tracer.add("pipeline.transforms.files_written", files)
            self.tracer.add("pipeline.transforms.warehouse_bytes", size)

    def snapshot_warehouse(self, op: str, warehouse: str) -> None:
        """Keep a copy of the warehouse ``op`` left for the oracle check
        (untimed); the next run would overwrite it."""
        copy = f"{self.work}/checks/{op}"
        shutil.copytree(warehouse, copy)
        self.warehouses.append((op, copy))

    def elt(self) -> dict:
        from flights_data_pipeline_spark.pipeline import derive

        source = self.derive_sources()
        setup_s = time.perf_counter() - self.t_start
        ds = self.rng.choice(derive.DERIVE_DAYS)
        cycles: list[float] = []
        backfills: list[float] = []
        dailies: list[float] = []
        while sum(cycles) < self.args.seconds or not cycles:
            i = len(cycles)
            dirs = {k: f"{self.work}/elt/{i}/{k}" for k in ("landing", "staging", "warehouse")}
            op = f"backfill:{i}"
            try:
                self.attempted += 1
                t0 = time.perf_counter()
                with self.tracer.span(op):
                    for day in derive.DERIVE_DAYS:
                        self.run_day(source, dirs, day)
                    self.run_transforms(dirs)
                backfills.append(time.perf_counter() - t0)
                self.snapshot_warehouse(op, dirs["warehouse"])
                op = f"daily:{i}"
                self.attempted += 1
                t0 = time.perf_counter()
                with self.tracer.span(f"{op}:{ds}"):
                    self.run_day(source, dirs, ds)
                    self.run_transforms(dirs)
                dailies.append(time.perf_counter() - t0)
                self.snapshot_warehouse(op, dirs["warehouse"])
                cycles.append(backfills[-1] + dailies[-1])
            except Exception as exc:
                self.fail(op, f"{type(exc).__name__}: {exc}")
                cycles.append(math.inf)
            shutil.rmtree(f"{self.work}/elt/{i - 1}", ignore_errors=True)
        return {
            "setup_s": setup_s,
            "pass_s": statistics.median(cycles),
            "passes": len(cycles),
            "detail": {"ds": ds, "backfill_s": backfills, "daily_s": dailies},
        }

    # -- queries -----------------------------------------------------------
    def run_query(self, name: str, layer: str | None) -> float:
        """Seconds for one execution of ``name`` through the ``noop`` sink,
        traced and tallied under ``layer`` unless that is None (warm-up)."""
        from flights_data_pipeline_spark.queries import REGISTRY

        self.attempted += 1
        tally = self.tracer.enabled and layer is not None
        before = self.persisted() if tally else 0
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, layer):
                REGISTRY[name].fn(self.spark, DATA).write.mode("overwrite").format("noop").save()
            wall = time.perf_counter() - t0
        except Exception as exc:
            self.fail(f"{name}:{self.attempted}", f"{type(exc).__name__}: {exc}")
            wall = math.inf
        if tally:
            self.tracer.add(f"{layer}.persisted_rdds_delta", self.persisted() - before)
        return wall

    def queries(self, names: list[str]) -> dict:
        from flights_data_pipeline_spark.queries import REGISTRY

        from tests.oracle_utils import assert_driver_safe_surface

        order = list(names)
        self.rng.shuffle(order)
        # warm-up, pass 1: every query once, collected for its oracle check
        warmup: dict[str, list[float]] = {}
        for name in order:
            op = f"warmup:{name}"
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                with self.tracer.span(op):
                    df = REGISTRY[name].fn(self.spark, DATA)
                    rows = [tuple(r) for r in df.collect()]
                assert_driver_safe_surface(df, name)
                self.pending.append((op, name, df.columns, rows, REGISTRY[name].oracle_text()))
            except Exception as exc:
                self.fail(op, f"{type(exc).__name__}: {exc}")
            warmup[name] = [time.perf_counter() - t0]
        # pass 2: JIT compilation is still settling after one pass, and a
        # pass timed then is both slower and far less repeatable
        self.rng.shuffle(order)
        for name in order:
            warmup[name].append(self.run_query(name, None))
        setup_s = time.perf_counter() - self.t_start

        latencies: dict[str, list[float]] = {n: [] for n in names}
        passes: list[float] = []
        while sum(passes) < self.args.seconds or not passes:
            self.rng.shuffle(order)
            for name in order:
                layer = REGISTRY[name].fn.__module__.removeprefix("flights_data_pipeline_spark.")
                latencies[name].append(self.run_query(name, layer))
            passes.append(sum(latencies[n][-1] for n in names))
        # a pass built from each query's median over the timed passes
        return {
            "setup_s": setup_s,
            "pass_s": sum(statistics.median(v) for v in latencies.values()),
            "passes": len(passes),
            "detail": {"warmup_s": warmup, "per_query_s": latencies, "passes_s": passes},
        }

    # -- checks ------------------------------------------------------------
    def check(self) -> None:
        """Compare every pending result with its oracle (untimed); a
        mismatch is a failed operation."""
        from flights_data_pipeline_spark.pipeline import derive, transforms

        from tests.oracle_utils import duckdb_connection, rows_to_multiset

        oracle_rows: dict[str, tuple[list[str], list[tuple]]] = {}
        con = duckdb_connection(DATA)
        try:
            # DuckDB reads the warehouse parquet files: no Spark job
            for op, warehouse in self.warehouses:
                for table in transforms.TRANSFORM_ORDER:
                    cur = con.execute(f"SELECT * FROM '{warehouse}/{table}/*.parquet'")
                    cols = [d[0] for d in cur.description]
                    oracle = derive.oracle_with(transforms.ORACLES[table])
                    self.pending.append((op, table, cols, cur.fetchall(), oracle))
            for op, label, cols, rows, sql in self.pending:
                if sql not in oracle_rows:
                    cur = con.execute(sql)
                    oracle_rows[sql] = ([d[0] for d in cur.description], cur.fetchall())
                o_cols, o_rows = oracle_rows[sql]
                if sorted(cols) != sorted(o_cols):
                    why = f"columns {sorted(cols)} vs oracle {sorted(o_cols)}"
                elif len(rows) != len(o_rows):
                    why = f"{len(rows)} rows vs oracle {len(o_rows)}"
                elif rows_to_multiset(rows, cols) != rows_to_multiset(o_rows, o_cols):
                    why = "values differ from the oracle"
                else:
                    continue
                self.fail(op, f"{label}: {why}")
        finally:
            con.close()


def shutdown(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    cores = len(os.sched_getaffinity(0)) if args.cores == "nproc" else int(args.cores)
    work = os.path.join(BUILD, "perfbench")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work, cores, args.driver_memory)
    sys.path.insert(0, ROOT)
    # the pinned (pure-Python) oracles recompute their answers from the
    # corpora listed here; point them at the benchmark's own tables
    from flights_data_pipeline_spark.queries import pinned_oracles

    pinned_oracles.PINNED_SF_DIRS[:] = [DATA]

    bench = Bench(args, work, t_start)
    try:
        if args.workload == "elt":
            out = bench.elt()
        else:
            out = bench.queries(QUERIES)
        driver_mb, jvm_mb = bench.peak_rss_mb()
        out["peak_rss_mb"] = driver_mb + jvm_mb
        out["detail"]["peak_rss_mb"] = {"driver": driver_mb, "jvm": jvm_mb}
        t0 = time.perf_counter()
        bench.check()
        out["detail"]["check_s"] = time.perf_counter() - t0
    finally:
        shutdown(bench.spark)

    end_to_end = {k: {"value": out[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"detail": out["detail"], "errors": bench.errors}))
    if args.trace:
        from perfbench.layers import layer_metrics, metric_specs

        [log] = os.listdir(f"{work}/events")
        per_layer = layer_metrics(bench.tracer, f"{work}/events/{log}", cores, out["passes"])
        bench.tracer.write(
            os.path.join(BUILD, "perfbench-trace", f"{args.workload}-{args.seed}.json"),
            {"per_layer": per_layer, "traced_end_to_end": end_to_end},
        )
        print(json.dumps({"traced_end_to_end": end_to_end}))
        specs = metric_specs()
        metrics = {k: {"value": v, "unit": specs[k][0]} for k, v in per_layer.items()}
    else:
        metrics = end_to_end
    shutil.rmtree(work, ignore_errors=True)
    correct = not bench.failed
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": bench.attempted,
                "failed": len(bench.failed),
                "metrics": metrics,
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
