"""The repository benchmark.

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 5 --trace 0

Workloads (``BENCHMARK.json`` lists them; ``perfbench/WORKLOADS.md``
records sizes and measured shares):

- ``medallion``: the full Bronze -> Silver -> quality gate -> Gold
  rebuild (``pipeline.ingest_bronze/build_silver/run_quality_gate/
  build_gold``) over AACT extracts generated from the seed;
- ``queries``: a21 (dedup), a92 (similarity) and a90 (perceptron),
  whose time is mostly driver-side plan construction, then q01, q06
  (tpch) and a38 (pq), whose time is mostly Spark execution.

One process drives the engine on ``local[<cores>]`` in a closed loop
with no extra client threads. A run:

1. generates the inputs from ``--seed`` into a scratch directory inside
   the checkout (``.bench_work/``);
2. sets up: a SparkSession from the engine's factory, which launches
   the JVM, plus opening every input table through the engine's readers
   (files listed, schema resolved, no rows read); then ``SETUP_REPS``
   more times on the running JVM (the session stopped untimed, created
   again and every input opened again, timed); ``setup_s`` is the
   median of those. Then the host calibration job and one untimed
   warm-up pass, so the timed passes do not measure JIT compilation;
3. the timed window: whole passes until ``--seconds`` have elapsed, at
   least one. An operation is one query call (construct + count) or
   one full rebuild;
4. with ``--trace 1`` instead: one pass after the warm-up, traced: a
   span around every call into a layer, with the Spark jobs it ran,
   their time and stage metrics, and the Py4J calls it made; the trace
   is written to ``.bench_out/`` when the run ends. The traced pass's
   wall time against an untraced run's ``wall_s`` is the tracing
   overhead;
5. the output check, untimed: gold ``opportunity_rank`` against the
   DuckDB translation of the reference SQL, or the DataFrame of every
   query's latest call collected and compared with its oracle SQL.

The last stdout line is the JSON result. The line before it holds
context that is recorded but never gated: input sizes, host
calibration, per-operation and per-pass times, failures, shares.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SETUP_REPS = 5
CALIB_ROWS = 100_000_000

# (short query id, layer) in run order: driver-bound operators first,
# then the scan-bound TPC-H-shaped queries and the PQ search
QUERIES = [
    ("a21", "dedup"),
    ("a92", "similarity"),
    ("a90", "perceptron"),
    ("q01", "tpch"),
    ("q06", "tpch"),
    ("a38", "pq"),
]
MEDALLION_LAYERS = ["sources", "silver", "quality", "gold"]

# workload -> scale -> studies, or (sf, documents, embeddings)
SIZES = {
    "medallion": {"full": 5_000, "tiny": 300},
    "queries": {"full": (0.02, 500, 300), "tiny": (0.001, 200, 300)},
}


class Run:
    """State shared by the phases of one benchmark run."""

    def __init__(self, args: argparse.Namespace, work: str):
        self.args = args
        self.work = work
        self.tmp = os.path.join(work, "tmp")
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.attempted = 0
        self.failures: list[str] = []
        self.context: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "scale": args.scale,
            "cores": self.cores,
            "op_s": {},
        }

    def fail(self, what: str) -> None:
        self.failures.append(what[:300])

    def session(self):
        from clinical_trials_data_pipeline_analyis_spark.session import get_spark

        spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "local"),
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, open_inputs) -> float:
        """Launch the JVM with a first session and open the inputs, then
        set up ``SETUP_REPS`` more times on that JVM; returns the median
        of those. Stopping the previous session is not timed."""
        t0 = time.perf_counter()
        self.spark = self.session()
        open_inputs(self.spark)
        launch_s = time.perf_counter() - t0
        times = []
        for _ in range(SETUP_REPS):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.session()
            open_inputs(self.spark)
            times.append(time.perf_counter() - t0)
        self.context.update(launch_s=launch_s, setup_reps_s=times)
        return statistics.median(times)

    def calibrate(self) -> None:
        """Host speed, recorded with every run and never gated: xxhash64
        summed over a generated range (whole-stage codegen, no I/O). The
        first, small run only compiles the job."""
        for rows in (CALIB_ROWS // 100, CALIB_ROWS):
            t0 = time.perf_counter()
            self.spark.range(0, rows, 1, self.cores * 8).selectExpr(
                "sum(cast(xxhash64(id) as double)) AS s"
            ).collect()
        self.context.update(calib_s=time.perf_counter() - t0, calib_rows=CALIB_ROWS)

    def timed(self, name: str, fn):
        """Run one operation and time it; a raised error is a failed
        operation, not a failed run."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # every operation error is counted
            self.fail(f"{name}: {type(exc).__name__}: {exc}")
            result = None
        return time.perf_counter() - t0, result


def _no_span(name: str, **attrs) -> nullcontext:
    return nullcontext()


class Medallion:
    def __init__(self, run: Run):
        from inputs import aact_rows, write_aact_extracts
        from clinical_trials_data_pipeline_analyis_spark.config import PipelineConfig

        self.run = run
        self.items = SIZES["medallion"][run.args.scale]
        self.extracts = os.path.join(run.work, "extracts")
        self.rows = write_aact_extracts(aact_rows(self.items, run.args.seed), self.extracts)
        self.config = PipelineConfig(warehouse_dir=os.path.join(run.work, "medallion"))
        run.context["input_rows"] = self.rows

    def open_inputs(self, spark) -> list:
        from clinical_trials_data_pipeline_analyis_spark.pipeline import (
            EXTRACT_FILES,
            MAPPING_FILES,
        )
        from clinical_trials_data_pipeline_analyis_spark.schemas import BRONZE_SCHEMAS
        from clinical_trials_data_pipeline_analyis_spark.sources.csv import (
            read_mapping_csv,
            read_pipe_csv,
        )

        return [
            reader(spark, os.path.join(self.extracts, filename), BRONZE_SCHEMAS[table])
            for files, reader in ((EXTRACT_FILES, read_pipe_csv), (MAPPING_FILES, read_mapping_csv))
            for table, filename in files.items()
        ]

    def one_pass(self, tracer=None) -> list[tuple[str, float]]:
        """One full rebuild, the pass's single operation."""
        from clinical_trials_data_pipeline_analyis_spark import pipeline

        spark, config = self.run.spark, self.config
        span = tracer.span if tracer else _no_span

        def rebuild() -> None:
            with span("sources"):
                bronze = pipeline.ingest_bronze(spark, self.extracts, config)
            with span("silver"):
                silver = pipeline.build_silver(spark, bronze, config)
            with span("quality"):
                pipeline.run_quality_gate(bronze, silver, config)
            with span("gold"):
                pipeline.build_gold(spark, silver, config)

        took, _ = self.run.timed("rebuild", rebuild)
        return [("rebuild", took)]

    def check(self) -> None:
        from check import opportunity_rank_mismatch

        wh = self.config.warehouse_dir
        try:
            got = self.run.spark.read.parquet(f"{wh}/gold/opportunity_rank").toPandas()
            bad = opportunity_rank_mismatch(wh, self.rows, got, self.run.tmp)
        except Exception as exc:  # e.g. no gold table after a failed rebuild
            bad = f"{type(exc).__name__}: {exc}"
        else:
            self.run.context["checked_rows"] = {"opportunity_rank": len(got)}
        if bad:
            self.run.fail(f"opportunity_rank: {bad}")


class Queries:
    def __init__(self, run: Run):
        from inputs import TableSizes, make_tables, write_tables
        from clinical_trials_data_pipeline_analyis_spark.suite import (
            oracle_queries,
            spark_queries,
        )

        self.run = run
        registered, oracles = spark_queries(), oracle_queries()
        self.ops = []
        for short, layer in QUERIES:
            (name,) = [n for n in registered if n.split("_", 1)[0] == short]
            self.ops.append((name, layer, registered[name], oracles[name]))
        sf, docs, vecs = SIZES[run.args.workload][run.args.scale]
        tables = make_tables(TableSizes(sf=sf, documents=docs, embeddings=vecs), run.args.seed)
        # only the tables some query reads (its oracle SQL names them)
        tables = {
            k: v for k, v in tables.items()
            if any(re.search(rf"\b{k}\b", op[3]) for op in self.ops)
        }
        self.dir = os.path.join(run.work, "tables")
        write_tables(tables, self.dir)
        self.rows = {k: v.num_rows for k, v in tables.items()}
        run.context.update(input_rows=self.rows, sf=sf)
        self.items = len(self.ops)
        self.frames: dict = {}  # name -> DataFrame of the latest timed call
        self.counts: dict[str, list[int]] = {}
        self.checked: dict[str, int] = {}

    def open_inputs(self, spark) -> list:
        from clinical_trials_data_pipeline_analyis_spark.sources.parquet import read_table

        return [read_table(spark, self.dir, table) for table in self.rows]

    def one_pass(self, tracer=None) -> list[tuple[str, float]]:
        """Every query once (construct + count), with its latency."""
        span = tracer.span if tracer else _no_span
        spark, out = self.run.spark, []
        for name, layer, fn, _sql in self.ops:

            def call(fn=fn, name=name, layer=layer) -> int:
                with span(layer, op=name):
                    with span("construct"):
                        self.frames[name] = fn(spark, self.dir)
                    with span("execute"):
                        return self.frames[name].count()

            took, n = self.run.timed(name, call)
            out.append((name, took))
            if n is not None:
                self.counts.setdefault(name, []).append(n)
        return out

    def check(self) -> None:
        """Collect the DataFrame of every query's latest call, compare it
        with the query's oracle, and every timed count with its size."""
        from check import QueryOracle

        oracle = QueryOracle(self.dir, list(self.rows), self.run.tmp)
        try:
            for name, _layer, _fn, sql in self.ops:
                if name not in self.frames:
                    continue  # its call raised, already counted as failed
                try:
                    got = self.frames[name].toPandas()
                    bad = oracle.check(sql, got)
                except Exception as exc:  # a failed check is a failed operation
                    bad = f"{type(exc).__name__}: {exc}"
                else:
                    self.checked[name] = len(got)
                    bad = bad or next(
                        (f"counted {n} rows" for n in self.counts[name] if n != len(got)), None
                    )
                if bad:
                    self.run.fail(f"{name}: {bad} (collected {self.checked.get(name)})")
        finally:
            oracle.close()
        self.run.context["checked_rows"] = dict(self.checked)


# --------------------------------------------------------------- metrics
def layer_metrics(spans: list[dict], pass_id: int) -> dict[str, float]:
    """The per-layer metrics BENCHMARK.json declares, from the spans of
    the traced pass. A layer the workload does not call reports 0."""
    out = dict.fromkeys(declared_units("per_layer"), 0.0)

    def add(key: str, value: float) -> None:
        if key in out:
            out[key] += value

    for s in spans:
        if s["parent"] != pass_id:
            continue
        layer, c = s["name"], s["counters"]
        if layer in MEDALLION_LAYERS:
            add(f"{layer}.busy_s", s["end"] - s["start"])
            for k in ("jobs", "written_mb", "shuffle_mb", "spill_mb"):
                add(f"{layer}.{k}", c[k])
            continue
        for phase in (p for p in spans if p["parent"] == s["id"]):
            pc, ph = phase["counters"], phase["name"]
            add(f"{layer}.{ph}_s", phase["end"] - phase["start"])
            add(f"{layer}.{ph}_jobs", pc["jobs"])
            add(f"{layer}.jobs", pc["jobs"])
            add(f"{layer}.shuffle_mb", pc["shuffle_mb"])
            add(f"{layer}.scan_mb", pc["scan_mb"])
            if ph == "construct":
                add(f"{layer}.construct_job_s", pc["job_s"])
                add(f"{layer}.py4j_calls", pc["py4j_calls"])
    return out


def construct_shares(spans: list[dict]) -> dict[str, float]:
    """Share of each query layer's traced time spent constructing."""
    by_layer: dict[str, dict[str, float]] = {}
    for s in spans:
        if s["name"] in ("construct", "execute"):
            d = by_layer.setdefault(spans[s["parent"]]["name"], {"construct": 0.0, "execute": 0.0})
            d[s["name"]] += s["end"] - s["start"]
    return {k: v["construct"] / sum(v.values()) for k, v in by_layer.items() if sum(v.values())}


def declared_units(section: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


# ------------------------------------------------------------------ main
def stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=120)


def warm_up(run: Run, wl) -> None:
    """One untimed pass, so the timed ones run on a warm JVM."""
    t0 = time.perf_counter()
    wl.one_pass()
    run.context["warmup_s"] = time.perf_counter() - t0


def timed_window(run: Run, wl) -> dict[str, float]:
    """Whole passes until ``--seconds`` have elapsed (at least one).
    ``op_tail_s`` is the slowest operation: the highest median latency
    of any one query (or of the rebuild)."""
    passes, op_s = [], run.context["op_s"]
    t_start = time.perf_counter()
    while not passes or time.perf_counter() - t_start < run.args.seconds:
        t0 = time.perf_counter()
        for name, took in wl.one_pass():
            op_s.setdefault(name, []).append(took)
        passes.append(time.perf_counter() - t0)
    wall_s = statistics.median(passes)
    run.context["pass_s"] = passes
    return {
        "wall_s": wall_s,
        "throughput": wl.items / wall_s,
        "op_p50_s": statistics.median(t for ts in op_s.values() for t in ts),
        "op_tail_s": max(statistics.median(ts) for ts in op_s.values()),
    }


def traced_pass(run: Run, wl) -> dict[str, float]:
    """One pass after the warm-up, as in the timed window, under the
    tracer. Its wall time against an untraced run's ``wall_s`` is the
    tracing overhead."""
    from tracing import Tracer, gc_seconds

    args = run.args
    tracer = Tracer(run.spark, f"{args.workload}-{args.seed}-{os.getpid()}")
    gc0 = gc_seconds(run.spark)
    try:
        with tracer.span("pass") as pass_span:
            wl.one_pass(tracer)
    finally:
        tracer.close()
    gc_s = gc_seconds(run.spark) - gc0
    tracer.collect_counters()
    tracer.self_times()
    per_layer = layer_metrics(tracer.spans, pass_span["id"])
    per_layer["jvm.gc_s"] = gc_s
    run.context.update(
        traced_wall_s=pass_span["end"] - pass_span["start"],
        construct_share=construct_shares(tracer.spans),
    )
    os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
    path = os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-{args.seed}.json")
    with open(path, "w") as fh:
        json.dump({"context": run.context, "per_layer": per_layer, "spans": tracer.spans}, fh, indent=1)
    run.context["trace_file"] = os.path.relpath(path, ROOT)
    return per_layer


def measure(args: argparse.Namespace, work: str) -> tuple[dict, dict]:
    from tracing import jvm_peak_rss_mb

    run = Run(args, work)
    t0 = time.perf_counter()
    wl = Medallion(run) if args.workload == "medallion" else Queries(run)
    run.context["generate_s"] = time.perf_counter() - t0
    try:
        setup_s = run.setup(wl.open_inputs)
        run.calibrate()
        warm_up(run, wl)
        metrics = traced_pass(run, wl) if args.trace else timed_window(run, wl)
        t0 = time.perf_counter()
        wl.check()
        run.context["check_s"] = time.perf_counter() - t0
        if not args.trace:
            metrics.update(setup_s=setup_s, peak_rss_mb=jvm_peak_rss_mb(run.spark))
    finally:
        stop_spark(run.spark)

    units = declared_units("per_layer" if args.trace else "end_to_end")
    run.context["failures"] = run.failures
    result = {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }
    return result, run.context


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="input size; 'tiny' is for the self-test")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # every temporary file of Python and of both JVMs (spark-submit's
    # launcher and the Spark driver) stays in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    # a fixed, modest heap keeps peak RSS comparable from run to run
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    sys.path.insert(0, ROOT)
    try:
        result, context = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
