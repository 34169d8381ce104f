"""The benchmark's workloads, each driving the engine's public API.

A workload names its corpus (``tables``, base scale ``sf``, replication
``k``) and exposes to ``run.py``:

- ``warmup()``: the warm-up jobs, including the once-per-run oracle
  gate, run under ``ctx.gate()`` so that its time is kept apart from
  set-up; returns the warm-up walls and the gate's errors;
- ``iteration()``: one untraced job, as the records of its operations;
- ``traced_iteration()``: the same work split into materialized layer
  steps, returning per-layer values.

A record is ``{"name", "wall", "proc_cpu_s", **counters}``: the wall,
the CPU of the process tree without JIT threads (``Ctx.job_cpu``) and
the status-store counters of ``status.COUNTERS`` (registry entries add
``build``, ``build_jobs`` and ``output``), or ``{"name", "error"}`` when
the call raised.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from .status import COUNTERS, MB

# analytics_mix: registry entry -> the operator family it mainly exercises
MIX = {
    "agg_pricing_summary": "aggregates",
    "tpch_q9_product_profit": "relational",
    "join_asof_backward": "asof",
    "window_lag_lead_running": "windows",
    "events_sessionize_30m": "events",
    "similarity_topk_ivf": "similarity",
    "multimodal_image_meta": "multimodal",
    "text_bpe_merges": "textual",
    "dedup_minhash_lsh": "dedup",
    "sample_curriculum_order": "sampling",
}
BUSY_MODULES = sorted(set(MIX.values()))


def attempt(name: str, job) -> dict:
    """Run one job; an exception becomes a failed record."""
    try:
        return job()
    except Exception as e:
        return {"name": name, "error": f"{type(e).__name__}: {e}"}


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> tuple[int, int]:
    """(total bytes, parquet part files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.endswith(".parquet")
    return total, files


class Step:
    """Time one call under its own job group and harvest its counters
    (after reading the clocks, so the harvest is not timed)."""

    def __init__(self, ctx, label: str):
        self.ctx, self.label = ctx, label

    def __enter__(self):
        self.group = self.ctx.harvester.group(self.label)
        self.cpu0 = self.ctx.job_cpu()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = self.ctx.job_cpu() - self.cpu0
        self.stats = self.ctx.harvester.take(self.group)


class Collected:
    """A sink for the gated round: the output is cached and materialized
    through the noop sink, like a measured job; ``oracle_harness.compare``
    later collects it from the cache (``toPandas``) under gate time."""

    def __init__(self, df):
        self.schema = df.schema
        self.df = df.persist()
        noop(self.df)

    def toPandas(self):
        return self.df.toPandas()


def _oracle(con, sql: str):
    rel = con.sql(sql)
    types = list(zip(rel.columns, rel.types))
    res = con.execute(sql)
    return res.fetchdf(), res.description, types


def _duck(corpus: str):
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(corpus)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(corpus, f)}'"
            )
    return con


def _gate(name: str, spark_df, con) -> list[str]:
    """Oracle check of one output; errors (never raises)."""
    from tests.oracle_harness import compare
    from trading212_etl_spark.registry import ORACLES

    try:
        pdf, desc, types = _oracle(con, ORACLES[name])
        return compare(name, spark_df, pdf, oracle_desc=desc, oracle_types=types)
    except Exception as e:  # an exception is a failed output too
        return [f"{name}: {type(e).__name__}: {e}"]


class EtlSink:
    """plans.flagship_pipeline over the orders table, written as Parquet."""

    name = "etl_sink"
    tables = ("orders",)
    sf, k = 0.01, 5
    warmup_jobs = 10

    def __init__(self, ctx):
        self.ctx = ctx
        self.out = os.path.join(ctx.cache, "etl_out", str(os.getpid()))
        self.input_bytes = os.path.getsize(os.path.join(ctx.corpus, "orders.parquet"))

    def _job(self):
        from trading212_etl_spark.plans import flagship_pipeline
        from trading212_etl_spark.sources import load_table, write_parquet

        ctx = self.ctx
        with Step(ctx, "etl") as s:
            write_parquet(flagship_pipeline(load_table(ctx.spark, ctx.corpus, "orders")), self.out)
        return {"name": "flagship_pipeline", "wall": s.wall, "proc_cpu_s": s.cpu, **s.stats}

    def warmup(self):
        walls, errors = [], []
        for i in range(self.warmup_jobs):
            walls.append(self._job()["wall"])
            if i == 0:
                with self.ctx.gate():
                    errors = self.gate()
        return walls, errors

    def gate(self) -> list[str]:
        """Read the written Parquet back and compare it with the oracle."""
        con = _duck(self.ctx.corpus)
        try:
            return _gate("flagship_pipeline", self.ctx.spark.read.parquet(self.out), con)
        finally:
            con.close()

    def iteration(self):
        return [attempt("flagship_pipeline", self._job)]

    def traced_iteration(self):
        from trading212_etl_spark.plans import canonicalize_actions, flagship_pipeline
        from trading212_etl_spark.sources import load_table, write_parquet

        ctx, v = self.ctx, {}
        t0 = time.perf_counter()
        orders = load_table(ctx.spark, ctx.corpus, "orders")
        v["sources.load_table_s"] = time.perf_counter() - t0
        steps = []
        with Step(ctx, "scan") as s:
            orders = orders.persist()
            noop(orders)
        steps.append(s)
        v["sources.scan_s"], v["sources.input_mb"] = s.wall, self.input_bytes / MB
        with Step(ctx, "canonicalize") as s:
            canon = orders.select(canonicalize_actions("o_orderpriority")).persist()
            noop(canon)
        # layer detail only: the flagship step below runs this function
        # again, so it stays out of trace.steps_s
        v["functions.canonicalize_s"] = s.wall
        with Step(ctx, "flagship") as s:
            out = flagship_pipeline(orders).persist()
            noop(out)
        steps.append(s)
        v["plans.flagship_pipeline_s"] = s.wall
        with Step(ctx, "write") as s:
            write_parquet(out, self.out)
        steps.append(s)
        out_bytes, files = dir_bytes(self.out)
        v["sources.write_parquet_s"] = s.wall
        v["sources.output_mb"] = out_bytes / MB
        v["sources.files_written"] = files
        v["sources.bytes_out_per_in"] = out_bytes / self.input_bytes
        for df in (out, canon, orders):
            df.unpersist()
        v["trace.steps_s"] = v["sources.load_table_s"] + sum(s.wall for s in steps)
        return v

    def close(self):
        shutil.rmtree(self.out, ignore_errors=True)


class AnalyticsMix:
    """Ten oracle-backed registry entries, seed-shuffled each round."""

    name = "analytics_mix"
    tables = None  # every table
    sf, k = 0.01, 1

    def __init__(self, ctx):
        self.ctx = ctx
        self.rng = random.Random(ctx.seed)

    def _order(self):
        names = list(MIX)
        self.rng.shuffle(names)
        return names

    def _query(self, name, sink=noop):
        from trading212_etl_spark.registry import QUERIES

        ctx = self.ctx
        group = ctx.harvester.group(f"{name}:build")
        cpu0 = ctx.job_cpu()
        t0 = time.perf_counter()
        df = QUERIES[name](ctx.spark, ctx.corpus)
        build = time.perf_counter() - t0
        build_cpu = ctx.job_cpu() - cpu0
        build_jobs = len(ctx.harvester.jobs(group))
        build_stats = ctx.harvester.take(group)
        with Step(ctx, f"{name}:exec") as s:
            output = sink(df)
        stats = {c: build_stats[c] + s.stats[c] for c in COUNTERS}
        return {"name": name, "wall": build + s.wall, "proc_cpu_s": build_cpu + s.cpu,
                "build": build, "build_jobs": build_jobs, "output": output, **stats}

    def warmup(self):
        """The cold round caches every output; collecting it and checking
        it against its oracle is gate time."""
        t0, errors = time.perf_counter(), []
        records = self.iteration(sink=Collected)
        walls = [time.perf_counter() - t0]
        with self.ctx.gate():
            con = _duck(self.ctx.corpus)
            try:
                for r in records:
                    if "error" in r:
                        errors.append(f"{r['name']}: {r['error']}")
                        continue
                    errors += _gate(r["name"], r["output"], con)
                    r["output"].df.unpersist()
            finally:
                con.close()
        return walls, errors

    def iteration(self, sink=noop):
        return [attempt(n, lambda n=n: self._query(n, sink)) for n in self._order()]

    def traced_iteration(self):
        from trading212_etl_spark import partitioning
        from trading212_etl_spark.registry import _core

        ctx = self.ctx
        v = {f"operators.{m}.busy_s": 0.0 for m in BUSY_MODULES}
        v.update({k: 0.0 for k in (
            "sources.load_table_s", "sources.scan_s", "sources.input_mb",
            "registry.build_s", "registry.build_jobs", "registry.exec_s",
            "partitioning.pins_live",
        )})
        cached: dict[str, object] = {}
        scan_in_query = [0.0]
        real_load = _core.load_table

        def traced_load(spark, sf_dir, table):
            # each input is loaded, cached and scanned once per round
            if table not in cached:
                t0 = time.perf_counter()
                df = real_load(spark, sf_dir, table)
                v["sources.load_table_s"] += time.perf_counter() - t0
                with Step(ctx, f"scan:{table}") as s:
                    df = df.persist()
                    noop(df)
                v["sources.scan_s"] += s.wall
                v["sources.input_mb"] += os.path.getsize(f"{sf_dir}/{table}.parquet") / MB
                scan_in_query[0] += s.wall
                cached[table] = df
            return cached[table]

        _core.load_table = traced_load
        try:
            for name in self._order():
                scan_in_query[0] = 0.0
                r = self._query(name)
                build = r["build"] - scan_in_query[0]
                v["registry.build_s"] += build
                v["registry.build_jobs"] += r["build_jobs"]
                v["registry.exec_s"] += r["wall"] - r["build"]
                v["partitioning.pins_live"] = max(
                    v["partitioning.pins_live"], len(partitioning._LIVE_PINS)
                )
                v[f"operators.{MIX[name]}.busy_s"] += r["wall"] - scan_in_query[0]
            v["trace.steps_s"] = (
                v["sources.load_table_s"] + v["sources.scan_s"]
                + v["registry.build_s"] + v["registry.exec_s"]
            )
            # extra layer detail outside the round: the curation pipeline
            v.update(self._traced_curate(traced_load(ctx.spark, ctx.corpus, "documents")))
        finally:
            _core.load_table = real_load
            for df in cached.values():
                df.unpersist()
        return v

    def _traced_curate(self, docs):
        """plans.curate_corpus and its layers, each a materialized step
        over the cached documents (the stages of plans/curate.py with
        use_lsh)."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from trading212_etl_spark.operators.dedup import minhash_lsh_pairs, remove_near_dups
        from trading212_etl_spark.operators.textual import lang_pred_col, quality_bp_col, tokens
        from trading212_etl_spark.partitioning import freeze_partitions, pinned_scope
        from trading212_etl_spark.plans.curate import curate_corpus

        ctx, v = self.ctx, {}
        with pinned_scope():
            with Step(ctx, "curate") as s:
                out = curate_corpus(docs, use_lsh=True, lsh_hash_fn="md5")
                noop(out)
            v["plans.curate_corpus_s"] = s.wall
        with pinned_scope():
            toks = F.col("__toks")
            with Step(ctx, "score") as s:
                scored = docs.select("doc_id", "text", "lang", tokens("text").alias("__toks")).select(
                    "doc_id", "text", "lang", "__toks",
                    F.size(toks).alias("n_tokens"),
                    quality_bp_col(toks, F.col("text")).alias("quality_bp"),
                    lang_pred_col(toks).alias("lang_pred"),
                ).filter((F.col("quality_bp") >= 5200) & (F.col("lang_pred") == "en")).persist()
                noop(scored)
            v["operators.textual.score_s"] = s.wall
            before_mb = ctx.harvester.cached_mb()
            with Step(ctx, "freeze") as s:
                w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
                canonical = freeze_partitions(
                    scored.withColumn("__rn", F.row_number().over(w))
                    .filter(F.col("__rn") == 1).drop("__rn", "text")
                )
                noop(canonical)
            v["partitioning.freeze_partitions_s"] = s.wall
            v["partitioning.cached_mb"] = ctx.harvester.cached_mb() - before_mb
            with Step(ctx, "minhash") as s:
                pairs = minhash_lsh_pairs(
                    canonical, threshold=0.5, shingle_n=3, tokens_col="__toks", hash_fn="md5"
                ).persist()
                noop(pairs)
            v["operators.dedup.minhash_lsh_pairs_s"] = s.wall
            v["operators.dedup.pairs_out"] = pairs.count()
            with Step(ctx, "remove") as s:
                noop(remove_near_dups(canonical, pairs))
            v["operators.dedup.remove_near_dups_s"] = s.wall
            v["operators.dedup.remove_near_dups_jobs"] = s.stats["jobs"]
            pairs.unpersist()
            scored.unpersist()
        return v

    def close(self):
        pass


WORKLOADS = {w.name: w for w in (EtlSink, AnalyticsMix)}
