"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The final stdout line is kept COMPACT (well under 1 KB): the driver
keeps only a bounded tail of stdout, and a ~100-query per-query dict is
~8 KB — it truncated mid-object in r2 and r3 (BENCH_r0{2,3}.json
"parsed": null). The summary therefore carries the aggregate numbers
plus a small "queries" sample (the flagship + the five largest walls,
VERDICT r14 item 8), and the FULL per-query timing dict (both scale
factors + superlinearity flags) lives in BENCH_SCALING.json, which
survives the round as a side artifact.

Each query is forced end-to-end with the ``noop`` sink (full physical
execution, zero collect/serialize overhead on the driver), which is
what a cluster job would look like — write-terminated, not
collect-terminated.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from trading212_etl_spark.registry import QUERIES, pin_oracle_confs  # noqa: E402
from trading212_etl_spark.session import get_session  # noqa: E402

# Headline set: one representative per operator family, weighted toward
# the shuffle/join/UDF-heavy paths where scale design shows up.
HEADLINE = [
    "flagship_pipeline",          # canonicalize -> filter -> distinct -> union -> sort
    "flagship_pipeline_decimal",  # DecimalType(18,2) money aggregate
    "agg_pricing_summary",        # TPC-H Q1 hash-aggregate battery
    "join_multiway_star",         # fact x 3 broadcast dims + group-by
    "tpch_q5_local_supplier_volume",  # 6-way star, one agg shuffle
    "tpch_q7_volume_shipping",    # bilateral fact-fact + 4 broadcast dims
    "tpch_q9_product_profit",     # 5-way join, decimal profit aggregate
    "tpch_q13_customer_distribution",  # outer join + double aggregate
    "tpch_q17_small_quantity_revenue", # decorrelated per-part threshold
    "tpch_q21_waiting_suppliers", # semi + anti self-joins
    "join_salted_skew",           # skew-spread (key, salt) shuffle
    "merge_upsert_orders",        # union + keyed keep-latest window
    "join_outer_coalesce",        # left-outer + aggregate
    "join_asof_backward",         # as-of join: union + keyed window
    "join_range_interval",        # equi-anchored interval join
    "window_lag_lead_running",    # analytic window battery
    "window_topn_per_group",      # rank-limit
    "union_dedup_chunks",         # union + all-column distinct
    "events_tumbling_1h",         # event-time tumbling aggregate
    "events_sessionize_30m",      # gap sessionization
    "events_session_window",      # native session_window
    "events_funnel",              # ordered funnel, one shuffle
    "events_retention_cohorts",   # cohort retention triangle
    "dedup_exact",                # sha256 digest group-by
    "dedup_minhash_lsh",          # MinHash+LSH near-dup (scale path)
    "dedup_simhash",              # SimHash banding
    "pipeline_curate_corpus",     # full curation chain (north star)
    "text_quality_score",         # text heuristics, pure projection
    "text_token_stats",           # tokenizer battery
    "sample_pack_sequences",      # per-shard running-sum packing
    "sample_hash_split",          # deterministic split, pure projection
    "similarity_topk_bruteforce", # broadcast query x corpus scan
    "similarity_topk_ivf",        # IVF cell-probe ANN
    "similarity_topk_lsh",        # multi-table hyperplane-LSH ANN (100 TB path)
    "embedding_near_dup_lsh",     # banded near-dup pairs (100 TB path)
    "embedding_norms",            # higher-order vector functions
    "embedding_quantize_int8",    # int8 store quantization, pure projection
    "text_chunk_windows",         # context-window chunking, projection+generate
    "events_anomaly_zscore",      # rolling 20-event z-score window
    "orders_rfm_segments",        # aggregate-first ntile segmentation
    "multimodal_image_meta",      # Arrow mapInPandas decode
    "multimodal_audio_features",  # real WAV codec + DSP kernel (r6)
    "text_bm25_topk",             # rational-idf BM25 retrieval (r6)
    "embedding_pq_assign",        # PQ encode, Arrow matmul (r6)
    "similarity_topk_pq_adc",     # PQ ADC search, LUT projection (r6)
    "multimodal_frame_sample",    # RIFF/AVI chunk-walk frame decode (r6)
    "text_bpe_merges",            # adjacent-pair merge counts (r6)
    "privacy_k_anonymity",        # quasi-id class-size audit (r6)
    "events_attribution_linear",  # multi-touch ppm credit (r6)
    "embedding_drift_split",      # per-dim cohort mean shift (r6)
    "sink_ivf_partitioned_ann",   # cell-partitioned write + DPP probe (r6)
    "sample_preference_pairs",    # DPO pair construction (r6)
    "text_wordpiece_encode",      # greedy segmentation kernel (r6)
    "events_concurrency_peak",    # +1/-1 sweep via ordered_prefix (r6)
    "events_time_to_convert",     # struct-min firsts + exact pcts (r6)
    "supplier_service_scorecard", # fact-fact lag KPI rollup (r6)
    "orders_reorder_interval",    # repurchase-cycle percentiles (r6)
    "pipeline_release_gate",      # composed governance GO/NO-GO (r6)
    "text_bigram_coherence",      # pair-level LM fluency signal (r6)
    "profile_correlation_matrix", # single-pass exact-moment corr (r6)
    "stats_discount_qty_ols",     # integer closed-form regression (r6)
    "embedding_knn_outlier",      # exact-chain OOD screen (r6)
    "events_burn_rate_alert",     # multiwindow SLO burn tiers (r6)
    "events_bounce_rate_daily",   # 1-event-session share (r6)
    "dedup_rate_by_source",       # provenance dup scorecard (r6)
    "sample_curriculum_order",    # global quality rank, ordered_prefix (r6)
    "text_rake_keyphrases",       # islands segmentation + RAKE scores (r6)
    "orders_seasonal_decomposition",  # STL-lite trend+seasonal+MAD (r6)
    "parts_abc_classification",   # cumulative-share classes (r6)
    "events_type_lift_matrix",    # session association lift (r6)
    "orders_revenue_bridge_monthly",  # growth-accounting waterfall (r6)
    "orders_forecast_seasonal_naive", # weekday-lag backtest (r6)
    "features_user_behavior_profile", # BOW type-share features (r6)
    "orders_gap_burstiness",      # (sigma-mu)/(sigma+mu) cadence (r6)
    "sort_limit_topk",            # TakeOrderedAndProject
    "graph_pagerank",             # iterative join+agg rounds, lineage cuts
    "text_unigram_lm_score",      # explode + vocab broadcast + re-agg
    "sink_zorder_layout",         # Morton range-shuffle + sorted write
    "events_rollup_hierarchy",    # hierarchical re-aggregation chain
    "events_markov_transitions",  # keyed lead window + matrix agg
    "join_point_in_time",         # SCD2 validity-interval fact lookup
    "text_model_quality_filter",  # hashing-trick classifier, projection-only
    "portfolio_fifo_pnl",         # FIFO matching as interval-overlap join
    "events_vwap_hourly",         # decimal-exact market rollup
    "entity_resolution_customers",  # blocked levenshtein + components
    "dq_constraints",             # single-pass constraint audit
    "text_inverted_index",        # per-doc-distinct explode + capped postings
    "incremental_agg_merge",      # mergeable partial-state maintenance
    "events_twap_hourly",         # integer-exact time-weighted rollup
    "events_rolling_volatility",  # trailing RANGE-frame integer variance
    "orders_cohort_ltv",          # cohort LTV triangle, exchange-reuse join
    "agg_heavy_hitters",          # low-cardinality exact heavy hitters
    "graph_triangle_count",       # oriented node-iterator triangle join
    "features_market_hourly",     # six-stat feature frame, one shuffle
    "events_session_paths",       # sessionize + ordered path re-agg
    "events_ewma_smoothed",       # 8-lag binary-weight EWMA window
    "orders_churn_labels",        # lead-window churn targets
    "events_user_presence_bitmap",  # bit_or day-presence masks
    "window_running_distinct",    # first-seen flag + running sum
    "orders_pareto_8020",         # integer-cents concentration curve
    "orders_trend_residual_daily",  # centered RANGE trend/residual
    "events_gap_percentiles",     # exact inter-arrival percentiles
    "clean_mad_outliers",         # two-pass robust MAD fences
    "events_burst_detection",     # dual RANGE frames, one WindowExec
    "drift_priority_mix_monthly", # integer-ppm total-variation drift
    "stats_supplier_concentration_hhi",  # stacked-agg HHI
    "stats_returns_rate_wilson",  # sqrt-only deterministic CIs
    "portfolio_sharpe_monthly",   # integer returns -> sharpe_milli
    "lineitem_shipment_lead_time",  # fact-fact join + percentiles
    "events_error_rate_sli",      # integer budget-burn SLI
    "drift_value_ks_distance",    # integer-ECDF KS statistic
    "orders_fiscal_445_rollup",   # pure-integer fiscal calendar
    "events_watermark_lateness_audit",  # frontier replay audit
    "eval_lang_id_confusion",     # classifier confusion/recall ppm
    "orders_gini_coefficient",    # rank-weighted integer inequality
    "events_user_lifecycle_weekly",  # growth accounting lag+lead
    "orders_segment_migration_matrix",  # quartile transition matrix
    "events_hourly_autocorrelation",  # integer-moment Pearson + sqrt
    "events_overdispersion_fano", # float-free var/mean profile
    "text_code_detection",        # content-type router, projection
    "documents_source_overlap",   # winnow-fp provenance Jaccard
    "embedding_dim_variance_ranking",  # posexplode + exact moments
    "orders_anomalous_days",      # trend residual + MAD fence
    "stats_qty_price_independence",  # integer chi-square screen
    "drift_value_mann_whitney",   # rank-sum location test
    "orders_runs_test_daily",     # sign-run randomness test
    "lineitem_discount_did",      # 2x2 causal cells, one groupBy
    "events_activation_depth",    # first-session depth vs conversion
    "events_cuped_adjustment",    # float-free CUPED moments
    "events_srm_check",           # hash-split ratio health gate
    "dedup_substring_spans",      # diagonal-island span dedup (r7)
    "sample_importance_dsir",     # hashed-ngram DSIR selection (r7)
    "similarity_hard_negatives",  # cross-label contrastive mining (r7)
    "similarity_matryoshka_recall",  # truncated-dim recall eval (r7)
    "orders_cusum_changepoint",   # robust CUSUM level-shift screen (r7)
    "source_json_malformed",      # PERMISSIVE JSONL quarantine (r7)
    "multimodal_perceptual_dhash",  # image dHash near-dup classes (r7)
]


def _canary_df(spark):
    """Fixed-work host-speed probe (VERDICT r11 item 4): constant row
    count, constant partitioning, constant plan — 32M sha256 hashes
    through one 1000-key shuffle, zero file I/O, zero SF dependence.
    Its wall moves with HOST speed only, so round-over-round bench
    deltas can be split mechanically into host drift (canary moved
    too) vs code change (canary flat). The r10→r11 +10.5% shift had
    to be attributed by hand from idle-host reruns; this makes the
    attribution part of every artifact."""
    from pyspark.sql import functions as F

    return (
        spark.range(0, 32_000_000, 1, 32)
        .select(
            (F.col("id") % 1000).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("h"),
        )
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"), F.min("h").alias("lo"), F.max("h").alias("hi"))
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_session(app_name="bench")
    pin_oracle_confs(spark)

    def canary_wall() -> float:
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        t0 = time.perf_counter()
        _canary_df(spark).write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 3)

    # one untimed canary execution: codegen/JIT warm-up, same reason
    # as the headline warm pass below
    _canary_df(spark).write.format("noop").mode("overwrite").save()

    # Warm-up: run every headline query once at a SMALLER SF so the
    # timed loop measures steady-state query execution, not one-off
    # JVM/codegen compilation and parquet-footer caching (measured ~2x
    # inflation on first execution of codegen-heavy plans). This holds
    # only because get_session sizes the generated-class cache to the
    # whole registry (spark.sql.codegen.cache.maxEntries=4096): under
    # Spark's default 100-entry LRU the 137 headline queries evicted
    # each other's classes long before the timed pass reached them, so
    # every timed query recompiled its classes and the JIT started
    # them over from interpreted bytecode. sf0.001 is
    # too small to matter: HotSpot only JIT-compiles the generated
    # operator code after ~10k invocations, so a 500-row warm-up left
    # the first timed run of every shuffle-heavy query executing
    # interpreted bytecode (measured 2-4x on the dedup/curation
    # family). One pass at sf0.01 crosses the compile thresholds while
    # staying 10x below the measured SF.
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01")
    if not os.path.isdir(warm_dir):
        warm_dir = "/root/testdata/sf0.001"
    for warm in HEADLINE:
        QUERIES[warm](spark, warm_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    # Touch every measured-SF parquet footer once so the FIRST timed
    # query isn't also charged for cold file metadata + page-cache
    # population the rest of the list then gets for free. Goes through
    # load_table (pinned schemas + the events nanos footer probe) — a
    # raw spark.read.parquet would die at schema inference on legacy
    # TIMESTAMP(NANOS) events files.
    from trading212_etl_spark.sources.readers import TABLES, load_table

    for table in TABLES:
        load_table(spark, sf_dir, table).limit(1).write.format("noop").mode(
            "overwrite"
        ).save()

    def timed_pass(at_dir: str) -> dict[str, float]:
        out: dict[str, float] = {}
        for name in HEADLINE:
            # Isolate queries from each other: earlier queries leave
            # localCheckpoint blocks whose JVM-side cleanup waits on GC
            # (ContextCleaner is reference-triggered), so without a
            # collection the later heavy queries absorb both the
            # memory pressure and the deferred cleanup inside their
            # timed window (measured: ±2x run-to-run on the curation
            # pipeline, the last checkpoint-heavy query in the list).
            # The persisted frames of the lazy freeze_partitions pins
            # additionally accumulate in the CacheManager, whose
            # canonicalized-plan lookup runs against EVERY cached
            # entry on EVERY query — across ~100 queries that taxed
            # untouched entries ~1.3-1.5x (r5 measured) — so drop the
            # SQL cache as well.
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            # NOTE: do NOT add a post-GC settle sleep here. The
            # ContextCleaner's async shuffle/broadcast removal does
            # bleed ~1s into heavy queries deep in the list, and a
            # settle recovers that in isolation — but a fleet-wide
            # 0.75s sleep let the cores downclock between queries and
            # raised the MEASURED total ~10% (r5: 82.4s -> 91.7s,
            # twice). Keeping cores hot beats draining the cleaner.
            t0 = time.perf_counter()
            QUERIES[name](spark, at_dir).write.format("noop").mode("overwrite").save()
            out[name] = round(time.perf_counter() - t0, 3)
        return out

    # Min-of-2 protocol (VERDICT r9 item 6): the r9 drift attribution
    # proved single cold runs carry up to 1.68x per-query host noise
    # (median 1.02) — which made the r6-r8 single-run totals read as
    # regressions. Two full passes, keep each query's min; the second
    # pass also measures first-run-after-clear (the caches are cleared
    # per query), so the min is still the reproducible first-run
    # convention, minus the worst of the host noise.
    # calibration canary measured before AND after EACH pass (4
    # probes + 1-min loadavg at each; VERDICT r12 item 4): a canary
    # that only brackets the whole run cannot see contention that
    # ends before the final probe — r12's official run had pass
    # totals ~40% high while the post-run probe was FASTER than the
    # quiet run's. Per-pass canary minima let the artifact itself
    # split a round-over-round delta into host vs code terms.
    canary_walls: list[float] = []
    loadavgs: list[float] = []
    # Host-normalized per-pass totals: scale each pass by (anchor
    # canary / that pass's canary min). The anchor is the r12
    # quiet-host canary (BENCH_SCALING primary at commit a61903c) —
    # the same tree that measured 140.352 s / 137 queries. Linear
    # wall scaling is an approximation, but it turns "is 1.3x the
    # anchor code or host?" into arithmetic on the artifact instead
    # of judge archaeology.
    canary_anchor = 2.936

    # Quiet-host gate (VERDICT r13 item 1): normalization of a
    # CONTENDED run over-corrects (a CPU-saturating canary slows more
    # than I/O-mixed queries — r13's official normalized total came
    # out 0.87x anchor, implausible for a no-code-change round), so
    # instead of normalizing a loud run, refuse to record one: before
    # each official pass, measure the canary and back off (bounded)
    # until it is within ~15% of the anchor; if a pass's AFTER-probe
    # comes back loud, the pass was contaminated mid-flight — discard
    # it (logged, not hidden) and re-run once. Give-ups are recorded
    # explicitly in the artifact, never silent.
    quiet_limit = round(canary_anchor * 1.15, 3)
    gate_enabled = os.environ.get("SPARK_GRAFT_QUIET_GATE", "on") != "off"
    gate_budget = int(os.environ.get("SPARK_GRAFT_QUIET_WAIT", "600"))
    gate: dict = {
        "what": "refuse-to-record-contended-pass gate (VERDICT r13 "
        "item 1): each official pass must be bracketed by canary "
        "walls <= limit; loud before-probe -> bounded exponential "
        "backoff, loud after-probe -> pass discarded (logged below) "
        "and re-run once; give_up=true marks an artifact whose "
        "bracketing could not be made quiet within the wait budget",
        "limit": quiet_limit,
        "anchor": canary_anchor,
        "enabled": gate_enabled,
        "wait_budget_s": gate_budget,
        "waits": [],
        "discarded_passes": [],
        "give_up": False,
    }

    def quiet_probe() -> tuple[float, float]:
        return canary_wall(), round(os.getloadavg()[0], 2)

    def await_quiet() -> tuple[float, float]:
        waited, delay = 0, 15
        while True:
            w, la = quiet_probe()
            gate["waits"].append(
                {"wall": w, "loadavg": la, "waited_s": waited}
            )
            if not gate_enabled or w <= quiet_limit or gate["give_up"]:
                return w, la
            if waited >= gate_budget:
                gate["give_up"] = True
                return w, la
            time.sleep(delay)
            waited += delay
            delay = min(delay * 2, 120)

    def gated_pass(at_dir: str) -> tuple[dict, float, float, float, float]:
        attempts = 0
        while True:
            wb, lb = await_quiet()
            t = timed_pass(at_dir)
            wa, la = quiet_probe()
            attempts += 1
            ok = (
                not gate_enabled
                or gate["give_up"]
                or (wb <= quiet_limit and wa <= quiet_limit)
            )
            if ok or attempts >= 2:
                if not ok:
                    gate["give_up"] = True
                return t, wb, lb, wa, la
            gate["discarded_passes"].append(
                {
                    "dir": at_dir,
                    "total": round(sum(t.values()), 3),
                    "canary_before": wb,
                    "canary_after": wa,
                    "loadavg": [lb, la],
                }
            )

    pass1, wb1, lb1, wa1, la1 = gated_pass(sf_dir)
    pass2, wb2, lb2, wa2, la2 = gated_pass(sf_dir)
    canary_walls.extend([wb1, wa1, wb2, wa2])
    loadavgs.extend([lb1, la1, lb2, la2])
    canary_pass = [
        min(canary_walls[0], canary_walls[1]),
        min(canary_walls[2], canary_walls[3]),
    ]
    canary = min(canary_walls)
    timings = {q: min(pass1[q], pass2[q]) for q in pass1}
    total = round(sum(timings.values()), 3)
    pass_totals = [
        round(sum(pass1.values()), 3),
        round(sum(pass2.values()), 3),
    ]
    normalized_pass_totals = [
        round(t * canary_anchor / c, 3)
        for t, c in zip(pass_totals, canary_pass)
    ]
    total_normalized = round(
        sum(
            min(pass1[q] * canary_anchor / canary_pass[0],
                pass2[q] * canary_anchor / canary_pass[1])
            for q in pass1
        ),
        3,
    )

    def parse_sf(d: str) -> float | str:
        base = os.path.basename(d.rstrip("/"))
        try:
            return float(base.removeprefix("sf"))
        except ValueError:
            return base

    # Compact driver-facing summary (bounded, see module docstring).
    # "queries" keeps the contract key; it holds the flagship (the
    # historical sample — never removed or renamed) plus the five
    # largest walls of this run (VERDICT r14 item 8: a single-entry
    # sample gave the round-over-round diff only one common query) —
    # the full dict is in BENCH_SCALING.json["primary"]["queries"].
    sample = {"flagship_pipeline": timings.get("flagship_pipeline")}
    for q in sorted(timings, key=lambda k: timings[k], reverse=True)[:5]:
        sample.setdefault(q, timings[q])
    result: dict = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": sample,
        "n_queries": len(timings),
        "sf": parse_sf(sf_dir),
        "canary": canary,
        "canary_walls": canary_walls,
        "loadavg": loadavgs,
        "total_normalized": total_normalized,
        "quiet_gate_ok": bool(gate_enabled and not gate["give_up"]),
        "queries_file": "BENCH_SCALING.json",
    }
    scaling: dict = {
        # Measurement-condition note (VERDICT r5 item 4, reconciled per
        # r6 item 6): each timed wall is the FIRST execution after
        # clearCache + GC. The r7 reconciliation run (3x alternating
        # first/steady on one session, sf0.1) isolated WHERE the
        # first-run premium lives: it is the first sf0.1 EXECUTION IN
        # THE SESSION (codegen+JIT of the sf-specific plan + OS
        # page-cache population of the sf0.1 files, ~1.3-1.5s
        # one-time), NOT the cache clear — later first-run-after-clear
        # walls match steady-state (dedup_minhash_lsh 3.38 then
        # 1.83/1.65 first-after-clear vs 1.39-2.10 steady;
        # graph_pagerank 4.16 then 2.98/2.65 vs 2.54-2.88 steady).
        # Bars restated against steady-state: minhash 1.4-2.1s (r5's
        # <=2.5s bar MET); pagerank 2.5-2.9s (the 3.0s isolated claim
        # confirmed; the 4.2-4.3 in-bench numbers are the one-time
        # session premium, since each query's sf0.1 plan debuts inside
        # its own timed window). Bench keeps the first-run convention:
        # it is the reproducible one.
        #
        # r6-regression-trio closeout (VERDICT r6 item 5): the r7
        # scalar_bucket rewrite removed the persist + 1-row-broadcast
        # branches entirely, so the "do the pinned frames reuse"
        # question is moot — each of the three is now a single-pass
        # plan with one bounded-key window over an already-aggregated
        # small frame. In-bench r7 walls: lifecycle 0.558 (r5 0.43,
        # r6 0.92), heavy_hitters 0.657 (r5 0.39, r6 0.64),
        # independence 0.518 (r5 0.48, r6 0.76); isolated steady-state
        # 0.55/0.47/0.39. The residual vs r5 is 0.08-0.12s — one extra
        # small exchange on a 25-to-100-row frame, i.e. fixed job
        # overhead at local SF and O(group-count) bytes at any SF.
        # ACCEPTED: that is the price of the warning-free non-foldable
        # partition key, invisible at cluster scale.
        "measurement": "min-of-2 first-run-after-cache-clear walls"
        " (r10 protocol per VERDICT r9 item 6: single cold runs carry"
        " up to 1.68x per-query host noise); the premium over"
        " steady-state is the one-time first-sf-execution"
        " codegen+page-cache cost (~25-35% on pin-heavy queries),"
        " not the cache clear — see bench.py note",
        "primary": {
            "sf": parse_sf(sf_dir),
            "total": total,
            "queries": timings,
            "protocol": "min-of-2",
            "pass_totals": pass_totals,
            "canary": {
                "what": "fixed-work host-speed probe (32M sha256 → "
                "1000-key shuffle, no file I/O; see bench.py:_canary_df)"
                " measured before and after EACH pass with 1-min"
                " loadavg at every probe; per-pass minima normalize"
                " each pass against the r12 quiet-host anchor so a"
                " total-wall delta splits into host vs code terms"
                " from the artifact alone",
                "walls": canary_walls,
                "loadavg": loadavgs,
                "per_pass_min": canary_pass,
                "min": canary,
                "anchor": canary_anchor,
                "anchor_provenance": "r12 quiet-host min, tree of"
                " commit a61903c (BENCH_SCALING primary: 140.352 s"
                " / 137 queries)",
                "normalized_pass_totals": normalized_pass_totals,
                "total_normalized": total_normalized,
                "quiet_gate": gate,
            },
        }
    }

    # Secondary scale factor (default sf0.01, 10x below the primary):
    # per-query ratios expose any superlinear operator — a query whose
    # wall scales worse than ~linear in rows fails at 100 TB even if
    # its sf0.1 number looks fine. Written to the SIDE FILE, not the
    # stdout JSON: the driver captures a bounded tail of stdout and the
    # r02 scaling block pushed the headline line past it (BENCH_r02
    # "parsed": null). Set SPARK_GRAFT_SF2_DIR=skip to disable.
    sf2_dir = os.environ.get("SPARK_GRAFT_SF2_DIR", "/root/testdata/sf0.01")
    if os.path.isdir(sf2_dir) and os.path.abspath(sf2_dir) != os.path.abspath(sf_dir):
        t2 = timed_pass(sf2_dir)
        sf1, sf2 = parse_sf(sf_dir), parse_sf(sf2_dir)
        # wall ratio per query across the two SFs. With sf0.1/sf0.01
        # (10x the rows) a shuffle-bound query should land well under
        # 10x (fixed per-job overhead amortizes); a ratio NEAR OR ABOVE
        # the row ratio flags a superlinear operator that will not
        # survive 100 TB. Ratios are only meaningful when both walls
        # clear job-overhead noise (~0.3 s locally) — flagged=null
        # below that floor.
        row_ratio = (sf1 / sf2) if isinstance(sf1, float) and isinstance(sf2, float) else None
        ratios = {
            q: (round(timings[q] / t2[q], 2) if min(timings[q], t2[q]) >= 0.3 else None)
            for q in t2
        }
        scaling["secondary"] = {
            "sf": sf2,
            "total": round(sum(t2.values()), 3),
            "queries": t2,
            "row_ratio_vs_primary": row_ratio,
            "wall_ratio_vs_primary": ratios,
            "superlinear": sorted(
                q
                for q, r in ratios.items()
                if r is not None and row_ratio is not None and r >= row_ratio
            ),
        }

    # Tertiary scale factor (VERDICT r6 item 7): a 5x corpus built by
    # tools/gen_scale.py (key-offset replication of sf0.1 — same
    # distributions, same dup rate, same join fan-outs, 5x rows).
    # sf0.01->sf0.1 ratios are overhead-dominated (0.33-0.95x), so
    # THIS block is the one that evidences data-scaling: only the ten
    # heaviest queries of the primary pass run (bounded added wall),
    # and a wall ratio materially above the 5x row ratio names a
    # superlinear operator. Regenerate with `python tools/gen_scale.py`
    # if absent; SPARK_GRAFT_SF3_DIR=skip disables.
    sf3_dir = os.environ.get(
        "SPARK_GRAFT_SF3_DIR",
        os.path.join(os.path.dirname(os.path.abspath(__file__)), ".scale", "sf0.5"),
    )
    if os.path.isdir(sf3_dir):
        heaviest = sorted(timings, key=timings.get, reverse=True)[:10]
        t3: dict[str, float] = {}
        for name in heaviest:
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            QUERIES[name](spark, sf3_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            t3[name] = round(time.perf_counter() - t0, 3)
        ratios3 = {q: round(t3[q] / timings[q], 2) for q in t3}
        # A single cold sf0.5 wall carries the first-execution premium
        # (codegen + page-cache for files the session has never read),
        # which can push a genuinely sublinear query past the 5x row
        # ratio (r7: text_rake_keyphrases swept 5.21x cold but measures
        # 2.9x steady — isolated 3-run probe). Confirm any flagged
        # entry with one more run and keep the min before naming it.
        for name in [q for q, r in ratios3.items() if r >= 5.0]:
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
            t0 = time.perf_counter()
            QUERIES[name](spark, sf3_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            t3[name] = round(min(t3[name], time.perf_counter() - t0), 3)
            ratios3[name] = round(t3[name] / timings[name], 2)
        scaling["tertiary"] = {
            "sf": "sf0.1 x5 (tools/gen_scale.py key-offset replication)",
            "row_ratio_vs_primary": 5.0,
            "queries": t3,
            "wall_ratio_vs_primary": ratios3,
            "superlinear": sorted(q for q, r in ratios3.items() if r >= 5.0),
        }

    # Clobber guard (VERDICT r14 item 7): every bench invocation used
    # to overwrite the committed "primary"/"secondary"/"tertiary"
    # blocks — the driver's own re-runs (e.g. the 8-core scaling run)
    # silently clobbered the builder's quiet-host primary in the
    # working tree. An OFFICIAL run now opts in explicitly with
    # SPARK_GRAFT_BENCH_PRIMARY=1; any other invocation records the
    # same blocks under "last_run" (a scratch key, overwritten per
    # run) and the merge below preserves the committed primaries.
    # Stdout contract (the one-line JSON) is unchanged either way.
    if os.environ.get("SPARK_GRAFT_BENCH_PRIMARY") != "1":
        scaling["last_run"] = {
            k: scaling.pop(k)
            for k in ("primary", "secondary", "tertiary")
            if k in scaling
        }

    side = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_SCALING.json"
    )
    # merge-preserve: sweep protocols (bucket_skew, zipf, drift notes)
    # record their results in this artifact between bench runs — a
    # bench refresh must not silently drop them
    if os.path.exists(side):
        try:
            with open(side) as fh:
                prior = json.load(fh)
            for k, v in prior.items():
                scaling.setdefault(k, v)
        except (json.JSONDecodeError, OSError) as exc:
            # surface the loss — silently dropping sweep blocks is
            # exactly what this merge exists to prevent
            print(
                f"WARNING: prior {side} exists but could not be parsed "
                f"({exc}); its sweep blocks are NOT merged and will be "
                "overwritten",
                file=sys.stderr,
            )
    with open(side, "w") as fh:
        json.dump(scaling, fh, indent=1)

    # The driver contract: ONE compact JSON line, last on stdout.
    sys.stdout.flush()
    print(json.dumps(result, separators=(",", ":")))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
