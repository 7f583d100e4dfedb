"""Self-test of the benchmark at tiny scale (a few hundred studies,
sf0.001 tables).

    python3 perfbench/selftest.py

For every workload it runs ``run.py --scale tiny`` untraced and traced
and asserts that:

- the last stdout line is the result object with exactly the keys
  ``correct``, ``attempted``, ``failed`` and ``metrics``, and the output
  check passed;
- every metric ``BENCHMARK.json`` names is printed, with its unit: the
  end-to-end metrics untraced, the per-layer metrics traced;
- the traced record has a span for every layer the workload calls;
- the job and Py4J call counts repeat exactly in a second traced run
  of the same seed (all but ``gold.jobs``, see ``REPEATED_COUNTS``);
- in a directory holding only ``BENCHMARK.json`` and ``perfbench/``
  (no engine) the benchmark exits non-zero without printing a result.

Takes a few minutes: every run starts its own JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAYERS = {
    "medallion": ["sources", "silver", "quality", "gold"],
    "queries": ["dedup", "similarity", "perceptron", "tpch", "pq"],
}
# gold.jobs is left out: on a warm JVM adaptive execution submits some
# query stages of the gold plans concurrently, and whether a shared
# shuffle is reused or run again depends on timing (39 or 40 jobs)
REPEATED_COUNTS = [
    "sources.jobs",
    "silver.jobs",
    "quality.jobs",
    *(f"{layer}.{count}" for layer in ("dedup", "similarity", "perceptron")
      for count in ("construct_jobs", "py4j_calls")),
]
SEED = 7


def bench(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
         "--seconds", "1", "--trace", str(trace), "--scale", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result_of(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise AssertionError(f"result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        context = json.loads(proc.stdout.strip().splitlines()[-2])["context"]
        raise AssertionError(f"output check failed: {context['failures']}")
    return result


def expect_metrics(result: dict, declared: list[dict]) -> None:
    got = result["metrics"]
    want = {m["name"]: m["unit"] for m in declared}
    if set(got) != set(want):
        raise AssertionError(f"metrics {sorted(set(got) ^ set(want))} missing or extra")
    for name, unit in want.items():
        if got[name]["unit"] != unit or not isinstance(got[name]["value"], (int, float)):
            raise AssertionError(f"{name}: {got[name]} (unit should be {unit})")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for wl in LAYERS:
        expect_metrics(result_of(bench(ROOT, wl, 0)), spec["end_to_end"])
        traced = []
        for _ in range(2):
            traced.append(result_of(bench(ROOT, wl, 1))["metrics"])
            expect_metrics({"metrics": traced[-1]}, spec["per_layer"])
        with open(os.path.join(ROOT, ".bench_out", f"trace-{wl}-{SEED}.json")) as fh:
            spans = json.load(fh)["spans"]
        missing = set(LAYERS[wl]) - {s["name"] for s in spans}
        if missing:
            raise AssertionError(f"{wl}: no span for {sorted(missing)}")
        for key in REPEATED_COUNTS:
            counts = {t[key]["value"] for t in traced}
            if len(counts) != 1:
                raise AssertionError(f"{wl}: {key} differs between runs: {counts}")
        print(f"{wl}: ok", flush=True)

    bare = os.path.join(ROOT, ".bench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        proc = bench(bare, "medallion", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or '"metrics"' in proc.stdout:
        raise AssertionError("the benchmark ran without the engine")
    print("without the engine: fails as it should")
    return 0


if __name__ == "__main__":
    sys.exit(main())
