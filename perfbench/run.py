#!/usr/bin/env python3
"""Benchmark entry point: one workload, one process, one result line.

    python3 perfbench/run.py --workload etl_sink --seed 1 --seconds 15 --trace 0

Generates the seeded corpus (cached, timed apart from set-up), builds the
engine's session with its own ``session.get_session`` defaults on
``local[<cores>]``, warms up, checks the outputs against their DuckDB
oracles once, then runs the workload as a closed loop with one client
for ``--seconds`` (whole jobs, at least one).  ``--trace 0`` reports the
end-to-end metrics of BENCHMARK.json; ``--trace 1`` re-runs the work as
materialized layer steps and reports the per-layer metrics.  The last stdout line is the
JSON result; the exit code is 0 only when every output was correct.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--src",
        help="use this existing corpus directory instead of generating one",
    )
    return ap.parse_args(argv)


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def source_sha() -> str:
    """Hash of the engine and benchmark sources (the checkout may not be
    a git repository)."""
    h = hashlib.sha1()
    for top in ("trading212_etl_spark", "perfbench"):
        for root, dirs, files in sorted(os.walk(os.path.join(ROOT, top))):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    with open(os.path.join(root, f), "rb") as fh:
                        h.update(f.encode() + b"\0" + fh.read())
    return h.hexdigest()[:12]


def git_sha() -> str | None:
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as f:
            head = f.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as f:
                return f.read().strip()[:12]
        return head[:12]
    except OSError:
        return None


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]


class Ctx:
    """What a workload needs: the session, its corpus, the harvester, the
    process-tree CPU clocks and the gate timer."""

    def __init__(self, spark, corpus, seed, harvester, tree_cpu_s, jit_cpu_s):
        self.spark, self.corpus, self.seed = spark, corpus, seed
        self.harvester = harvester
        self.cache = CACHE
        self._tree_cpu_s, self._jit_cpu_s = tree_cpu_s, jit_cpu_s
        self.gate_s = self.gate_cpu_s = 0.0

    def cpu(self) -> float:
        """CPU seconds used so far by this process, the JVM and its workers."""
        return self._tree_cpu_s(os.getpid())

    def job_cpu(self) -> float:
        """``cpu()`` without the JVM's JIT compiler threads."""
        return self.cpu() - self._jit_cpu_s()

    @contextlib.contextmanager
    def gate(self):
        """Time the oracle gate, wall and CPU, to keep it out of set-up."""
        w0, c0 = time.perf_counter(), self.cpu()
        try:
            yield
        finally:
            self.gate_s += time.perf_counter() - w0
            self.gate_cpu_s += self.cpu() - c0


def stop_spark(spark, pids: list[int]) -> None:
    """Stop the session and the JVM it launched, and wait for its process
    tree (the JVM and its Python workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


def main(argv=None) -> int:
    args = parse_args(argv)
    bench = spec()
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    try:
        from trading212_etl_spark.session import get_session
        import tests.oracle_harness  # noqa: F401  (the output gate)
        from perfbench import corpus
        from perfbench.status import (
            COUNTERS, Harvester, JitCpu, RssSampler, process_tree, tree_cpu_s,
        )
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.exists(os.path.join(ROOT, "tools", "gen_scale.py")):
        print("perfbench: tools/gen_scale.py is missing", file=sys.stderr)
        return 2

    W = WORKLOADS[args.workload]
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep Spark's scratch files and every temp file inside the checkout
    # (-UsePerfData: the JVM would otherwise map a file under /tmp)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    load_before = loadavg()

    t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
    corpus_dir = args.src or corpus.build(args.seed, W.sf, W.k, W.tables or corpus.ALL_TABLES)
    gen_s = time.perf_counter() - t0
    gen_cpu_s = tree_cpu_s(os.getpid()) - c0

    t0 = time.perf_counter()
    spark = get_session()
    session_s = time.perf_counter() - t0
    harvester = Harvester(spark)
    jvm_pid = harvester.jvm_pid()
    ctx = Ctx(spark, corpus_dir, args.seed, harvester, tree_cpu_s, JitCpu(jvm_pid))
    work = W(ctx)

    # memory is a traced metric; untraced runs skip the sampler, whose
    # reads of the JVM's page tables would add to the measured CPU
    with RssSampler(jvm_pid) if args.trace else contextlib.nullcontext() as rss:
        t0 = time.perf_counter()
        warm_walls, gate_errors = work.warmup()
        warmup_s = time.perf_counter() - t0 - ctx.gate_s
        setup_wall_s = time.perf_counter() - T_START - gen_s - ctx.gate_s
        setup_cpu_s = ctx.cpu() - gen_cpu_s - ctx.gate_cpu_s
        warm_peak_mb = rss.peak_mb if rss else None

        iterations, traced = [], []
        t_meas = time.perf_counter()
        while True:
            iterations.append(work.iteration())
            if args.trace:
                traced.append(work.traced_iteration())
            if time.perf_counter() - t_meas >= args.seconds:
                break
        measured_s = time.perf_counter() - t_meas
    work.close()
    pids = process_tree(jvm_pid)
    spark_version = spark.version
    java_version = spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
    driver_mem = spark.sparkContext.getConf().get("spark.driver.memory", "unset")
    stop_spark(spark, pids)

    # one job is one iteration: a pipeline run for etl_sink, a round of
    # every query for analytics_mix; failures are counted per operation
    records = [r for it in iterations for r in it]
    gate_failed = {e.split(":", 1)[0] for e in gate_errors}
    failed = sum(1 for r in records if "error" in r or r["name"] in gate_failed)
    ok = [it for it in iterations if all("error" not in r for r in it)]
    correct = not gate_errors and failed == 0 and bool(ok)
    walls = [sum(r["wall"] for r in it) for it in ok] or [float("nan")]
    cpus = [sum(r["executor_cpu_s"] for r in it) for it in ok] or [float("nan")]
    proc_cpus = [sum(r["proc_cpu_s"] for r in it) for it in ok] or [float("nan")]

    if args.trace == 0:
        values = {
            "setup_s": setup_cpu_s,
            "cpu_s_per_job": statistics.median(cpus),
            "proc_cpu_s_per_job": statistics.median(proc_cpus),
        }
        wanted = bench["end_to_end"]
    else:
        # per iteration: engine counters summed over the untraced jobs
        per_iter = [{c: sum(r.get(c, 0.0) for r in it) for c in COUNTERS} for it in iterations]
        values = {f"spark.{c}": statistics.median(d[c] for d in per_iter) for c in COUNTERS}
        keys = {k for t in traced for k in t}
        values.update({k: statistics.median(t.get(k, 0.0) for t in traced) for k in keys})
        values["session.get_session_s"] = session_s
        values["session.warmup_s"] = warmup_s
        values["session.setup_wall_s"] = setup_wall_s
        values["memory.peak_rss_mb"] = rss.peak_mb
        values["memory.jvm_peak_rss_mb"] = rss.jvm_peak_mb
        values["trace.untraced_job_s"] = statistics.median(walls)
        values["trace.overhead_s"] = values["trace.steps_s"] - values["trace.untraced_job_s"]
        wanted = bench["per_layer"]
        if len(per_iter) > 1:
            exact = [c for c in COUNTERS if len({d[c] for d in per_iter}) == 1]
            print("counters repeating exactly across iterations:", ", ".join(exact) or "none")
            print("counters varying (informational):",
                  ", ".join(c for c in COUNTERS if c not in exact) or "none")

    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    env = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "cores_used": os.environ["SPARK_GRAFT_CPUS"],
        "loadavg_before": load_before, "loadavg_after": loadavg(),
        "spark": spark_version, "java": java_version, "driver_memory": driver_mem,
        "git_sha": git_sha(), "source_sha": source_sha(), "corpus": corpus_dir,
        "corpus_gen_s": round(gen_s, 3), "gate_s": round(ctx.gate_s, 3),
        "gate_cpu_s": round(ctx.gate_cpu_s, 3),
        "setup_wall_s": round(setup_wall_s, 3), "setup_cpu_s": round(setup_cpu_s, 3),
        "warmup_walls_s": [round(w, 3) for w in warm_walls],
        "iterations": len(iterations), "operations": len(records),
        "warmup_peak_rss_mb": warm_peak_mb and round(warm_peak_mb, 1),
        "peak_rss_mb": rss and round(rss.peak_mb, 1),
        "job_walls_s": [round(w, 3) for w in walls],
        "job_proc_cpu_s": [round(c, 3) for c in proc_cpus],
        "measured_s": round(measured_s, 3),
        "operation_wall_cpu_s": [
            [r["name"], round(r.get("wall", -1.0), 3), round(r.get("proc_cpu_s", -1.0), 2)]
            for r in records
        ],
    }
    print("env", json.dumps(env))
    for e in gate_errors + [f"{r['name']}: {r['error']}" for r in records if "error" in r]:
        print("FAILED", e[:2000])
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}")
    # wall time follows the host's CPU contention too closely to gate on
    print(f"{args.workload} job_p50_s = {statistics.median(walls):.6g} s (not gated)")
    print(f"{args.workload} fail_frac = {failed / max(1, len(records)):.6g} ratio")
    print(json.dumps({
        "correct": correct, "attempted": len(records), "failed": failed, "metrics": metrics,
    }))
    sys.stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
