#!/usr/bin/env python3
"""Self-test of the benchmark: every workload once untraced and once
traced, with short runs.

    python3 perfbench/selftest.py [--src <corpus dir, e.g. the sf0.001 testdata>]

Checks that each run exits 0 with a correct result, that the result line
holds every metric of BENCHMARK.json with its unit, that the traced
run's layer table is complete (the layers a workload exercises are
non-zero), and that the benchmark refuses to run, without printing a
result, in a directory holding only BENCHMARK.json and perfbench/.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# per-layer metrics that must be non-zero on each workload's traced run
LAYERS_USED = {
    "etl_sink": (
        "sources.load_table_s", "sources.scan_s", "sources.input_mb",
        "sources.write_parquet_s", "sources.output_mb", "sources.files_written",
        "sources.bytes_out_per_in", "functions.canonicalize_s",
        "plans.flagship_pipeline_s",
    ),
    "analytics_mix": (
        "sources.load_table_s", "sources.scan_s", "sources.input_mb",
        "plans.curate_corpus_s", "operators.textual.score_s",
        "operators.dedup.minhash_lsh_pairs_s", "operators.dedup.remove_near_dups_s",
        "operators.dedup.remove_near_dups_jobs", "partitioning.freeze_partitions_s",
        "partitioning.pins_live", "registry.build_s", "registry.exec_s",
    ) + tuple(
        f"operators.{m}.busy_s" for m in (
            "aggregates", "relational", "asof", "windows", "events",
            "similarity", "multimodal", "textual", "dedup", "sampling",
        )
    ),
}
ALWAYS_USED = (
    "session.get_session_s", "session.warmup_s", "session.setup_wall_s", "memory.peak_rss_mb",
    "spark.executor_cpu_s", "spark.executor_run_s", "spark.jobs",
    "spark.stages", "spark.tasks", "trace.steps_s", "trace.untraced_job_s",
)


def run(cwd: str, workload: str, trace: int, src: str | None):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", str(trace)]
    if src:
        cmd += ["--src", src]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(bench: dict, workload: str, trace: int, proc) -> list[str]:
    tag = f"{workload} trace={trace}"
    if proc.returncode != 0:
        return [f"{tag}: exit {proc.returncode}\n{proc.stdout[-3000:]}\n{proc.stderr[-3000:]}"]
    res = json.loads(proc.stdout.strip().splitlines()[-1])
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{tag}: result keys {sorted(res)}")
    if res["correct"] is not True or res["failed"] != 0 or res["attempted"] < 1:
        errs.append(f"{tag}: correct={res['correct']} attempted={res['attempted']} failed={res['failed']}")
    wanted = bench["per_layer" if trace else "end_to_end"]
    if [m["name"] for m in wanted] != list(res["metrics"]):
        errs.append(f"{tag}: metric names differ from BENCHMARK.json")
    for m in wanted:
        got = res["metrics"].get(m["name"], {})
        if got.get("unit") != m["unit"]:
            errs.append(f"{tag}: {m['name']} unit {got.get('unit')!r} != {m['unit']!r}")
        v = got.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            errs.append(f"{tag}: {m['name']} value {v!r}")
    must = ALWAYS_USED + LAYERS_USED[workload] if trace else [m["name"] for m in wanted]
    for name in must:
        if not res["metrics"].get(name, {}).get("value"):
            errs.append(f"{tag}: {name} is zero or missing")
    return errs


def check_refuses_without_engine() -> list[str]:
    """Only BENCHMARK.json and perfbench/: must fail without a result."""
    with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".perfbench_cache")) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(os.path.join(ROOT, "perfbench"), os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = run(d, "etl_sink", 0, None)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode == 0 or (lines and lines[-1].startswith("{")):
        return [f"bare directory: exit {proc.returncode}, stdout {proc.stdout[-500:]!r}"]
    return []


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--src", help="corpus directory to run on instead of generating one")
    args = ap.parse_args()
    os.makedirs(os.path.join(ROOT, ".perfbench_cache"), exist_ok=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = check_refuses_without_engine()
    for w in bench["workloads"]:
        for trace in (0, 1):
            errs = check_result(bench, w["name"], trace, run(ROOT, w["name"], trace, args.src))
            print(f"{w['name']} trace={trace}: {'ok' if not errs else 'FAILED'}", flush=True)
            errors += errs
    for e in errors:
        print(e)
    print("selftest:", "ok" if not errors else f"{len(errors)} problem(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
