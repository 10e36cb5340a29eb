"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the flagship
transcripts identity-resolution pipeline (FULL mode) with turns/sec.

Prints ONE JSON line:
  {"metric": "total_bench_seconds", "value": N, "unit": "sec",
   "queries": {...}, "sf": ..., "idr": {...}}

Each query is forced end-to-end with the noop writer (full plan execution,
no driver collect). Run `python bench.py --scaling` to additionally measure
local[8] vs local[32] scaling efficiency (writes BENCH.md evidence; spawns
subprocesses so each parallelism level gets a fresh JVM).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
# sf0.1 on one box: 16 shuffle partitions beat the 64 default by ~10%
# end-to-end (40+ actions per pipeline run; scheduling dominates tiny
# shuffles, AQE coalesce can't refund task-launch latency). The --scaling
# workers override this per parallelism level.
os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "16")

BENCH_QUERIES = [
    "identifier_extraction",
    "group_sizes",
    "anchor_edges",
    "connected_components",
    "cluster_sizes",
    "cluster_confidence",
    "survivorship_golden",
    "impacted_subgraph",
    "monitoring_rollup",
    "topk_heavy_identifiers",
    "watermark_delta_scan",
]


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def run_bench(n_conversations: int | None = None) -> dict:
    from sql_identity_resolution_spark.session import build_session
    from sql_identity_resolution_spark.plans.testdata_queries import QUERIES

    spark = build_session(app_name="idr-bench", master=f"local[{CPUS}]")
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # warm the JVM/codegen once so per-query numbers measure the plan, not startup
    _force(QUERIES["identifier_extraction"](spark, SF_DIR))

    # best-of-N per query: single runs swing ±30% on a shared VM (BENCH.md r3
    # noise analysis); best + spread makes the JSON self-interpreting
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    timings: dict[str, float] = {}
    spreads: dict[str, dict] = {}
    from sql_identity_resolution_spark.plans import testdata_queries as _tq

    for name in BENCH_QUERIES:
        runs = []
        for _ in range(reps):
            if name == "connected_components":
                # the CC labels are memoized per session (downstream queries
                # legitimately reuse them — that IS the pipeline shape), but
                # THIS row must time the CC loop, not a cache hit: reps 2..N
                # would otherwise report an in-memory scan as the operator
                _tq._CC_LABELS_CACHE.clear()
            t0 = time.time()
            _force(QUERIES[name](spark, SF_DIR))
            runs.append(round(time.time() - t0, 3))
        timings[name] = min(runs)
        spreads[name] = {"best": min(runs), "worst": max(runs), "runs": runs}

    # flagship pipeline: synthetic transcripts sized to the scale factor
    from sql_identity_resolution_spark import EngineConfig, IDRPipeline
    from sql_identity_resolution_spark.datagen import generate_transcripts, write_transcripts
    from sql_identity_resolution_spark.sources.transcripts import (
        transcripts_attributes,
        transcripts_source,
    )

    if n_conversations is None:
        n_conversations = int(os.environ.get("SPARK_GRAFT_BENCH_CONVS", "4000"))
    tmp = tempfile.mkdtemp(prefix="idr_bench_")
    try:
        from sql_identity_resolution_spark.datagen import write_parquet

        turns_dir = os.path.join(tmp, "turns")
        os.makedirs(turns_dir)
        gen = generate_transcripts(n_conversations=n_conversations, seed=42)
        write_parquet(gen.turns, os.path.join(turns_dir, "base.parquet"))
        n_turns = len(gen.turns)
        source, rules, mappings = transcripts_source("chat", turns_dir)
        # the per-entity stores get more buckets than the 32 default so the
        # INCR delta's MERGE rewrites a small table FRACTION (a k-key delta
        # touches ≤k buckets ⇒ ~k/n of table bytes) — the sizing rule
        # documented in sources/catalog.py, demonstrated here (48/256 buckets
        # rewritten for a 50-conversation delta). Edges/membership stay at the
        # 32 default: impacted-recluster semantics legitimately touch most
        # clusters on this dup-chained corpus (measured 181/256 and 256/256),
        # so extra buckets there buy no pruning and cost tiny-file overhead
        # at bench scale.
        big = {t: 256 for t in ("identifiers_current", "entity_texts_current")}
        cfg = EngineConfig(
            warehouse=f"{tmp}/wh", sources=[source], rules=rules, mappings=mappings,
            # R_FULL_TEXT_EXACT already links identical texts; skip redundant dup pairs
            emit_duplicate_text_pairs=False,
            catalog_table_buckets=big,
            # golden-profile survivorship over the transcript attributes —
            # stage 50 + the attribute store must be exercised, not no-op'd
            attributes=transcripts_attributes("chat"),
        )
        pipe = IDRPipeline(spark, cfg)
        t0 = time.time()
        res = pipe.run("FULL")
        idr_sec = round(time.time() - t0, 3)
        idr = {
            "seconds": idr_sec,
            "n_conversations": n_conversations,
            "n_turns": n_turns,
            "turns_per_sec": round(n_turns / idr_sec, 1),
            "entities_per_sec": round(n_conversations / idr_sec, 1),
            "edges": res.edges_created,
            "lp_iterations": res.lp_iterations,
            "cc_path": res.cc_path,
            "cc_rounds": res.cc_rounds,
            "stage_seconds": res.stage_seconds,
        }
        timings["idr_full_pipeline"] = idr_sec

        # INCR: a ~1% batch of NEW conversations lands; cost must scale with
        # the delta (identifier/text stores + delta signature build), not the
        # corpus — the number that matters for streaming micro-batches.
        from datetime import datetime

        n_delta = max(n_conversations // 100, 50)
        gen2 = generate_transcripts(n_conversations=n_delta, seed=43, start_ts=datetime(2027, 1, 1))
        delta_turns = gen2.turns.copy()
        delta_turns["conv_id"] = "incr_" + delta_turns["conv_id"].astype(str)
        write_parquet(delta_turns, os.path.join(turns_dir, "delta.parquet"))
        t0 = time.time()
        res_i = pipe.run("INCR")
        incr_sec = round(time.time() - t0, 3)
        idr["incr"] = {
            "seconds": incr_sec,
            "delta_conversations": n_delta,
            "delta_turns": len(delta_turns),
            "entities_processed": res_i.entities_processed,
            "edges_created": res_i.edges_created,
            "delta_turns_per_sec": round(len(delta_turns) / incr_sec, 1),
            "cc_path": res_i.cc_path,
            "stage_seconds": res_i.stage_seconds,
            # fraction of each bucketed table this INCR actually rewrote
            "store_commits": res_i.store_commits,
        }
        timings["idr_incr_delta"] = incr_sec
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    # INCR economics at a scale where the fixed per-run job floor (~15 Spark
    # actions) is amortized: 100k-conversation corpus, 1% delta. At 4k convs
    # the INCR/FULL ratio is floor-bound (~0.6, measured r3); the delta-
    # proportional win only shows once FULL is minutes not seconds. Kept OUT
    # of the headline total (separate campaign, not a per-query timing).
    econ_convs = int(os.environ.get("SPARK_GRAFT_BENCH_INCR_ECON_CONVS", "100000"))
    econ = None
    if econ_convs > 0:
        from pyspark.sql import functions as F
        from sql_identity_resolution_spark.sources.datagen_spark import (
            generate_transcripts_spark,
        )

        tmp = tempfile.mkdtemp(prefix="idr_econ_")
        # the sf0.1 queries run best at 16 shuffle partitions (scheduler-bound);
        # the 100k econ corpus is 25x that scale — resize for this section
        # (runtime conf, scoped to it) or the pair-scoring shuffles run 4-16
        # tasks-per-core short (measured 257 s vs 118 s edge stage at 100k)
        prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(max(int(CPUS) * 2, 64)))
        try:
            turns_dir = os.path.join(tmp, "turns")
            base = generate_transcripts_spark(spark, n_conversations=econ_convs, seed=42).drop(
                "truth_cluster_id"
            )
            base.repartition(64, "conv_id").sortWithinPartitions("conv_id", "turn_idx").write.parquet(turns_dir)
            n_base_turns = spark.read.parquet(turns_dir).count()
            source, rules, mappings = transcripts_source("chat", turns_dir)
            cfg = EngineConfig(
                warehouse=f"{tmp}/wh", sources=[source], rules=rules, mappings=mappings,
                emit_duplicate_text_pairs=False,
                attributes=transcripts_attributes("chat"),
                # bucket the per-entity stores so the delta's MERGE prunes:
                # pruning needs |delta keys| well below bucket count (a 1%
                # delta of 100k hashes into every one of 256 buckets — 98%
                # rewritten, measured; 0.1% over 1024 buckets touches ~9%)
                catalog_table_buckets={t: 1024 for t in ("identifiers_current", "entity_texts_current")},
            )
            pipe = IDRPipeline(spark, cfg)
            t0 = time.time()
            res_f = pipe.run("FULL")
            full_sec = round(time.time() - t0, 3)
            # default delta 0.1%: the streaming-micro-batch shape the INCR
            # path exists for (the 4k flagship above already covers ~1%)
            n_delta = int(os.environ.get(
                "SPARK_GRAFT_BENCH_INCR_ECON_DELTA", str(max(econ_convs // 1000, 50))
            ))
            delta = (
                generate_transcripts_spark(spark, n_conversations=n_delta, seed=43)
                .drop("truth_cluster_id")
                .withColumn("conv_id", F.concat(F.lit("incr_"), F.col("conv_id")))
                .withColumn("ts", F.col("ts") + F.expr("INTERVAL 370 DAYS"))
            )
            delta.coalesce(4).write.mode("append").parquet(turns_dir)
            n_delta_turns = spark.read.parquet(turns_dir).count() - n_base_turns
            t0 = time.time()
            res_i = pipe.run("INCR")
            incr_sec = round(time.time() - t0, 3)
            econ = {
                "n_conversations": econ_convs,
                "n_turns": n_base_turns,
                "full_seconds": full_sec,
                "delta_conversations": n_delta,
                "delta_turns": n_delta_turns,
                "incr_seconds": incr_sec,
                "incr_over_full": round(incr_sec / full_sec, 3),
                "incr_entities_processed": res_i.entities_processed,
                "incr_edges_created": res_i.edges_created,
                "incr_store_commits": res_i.store_commits,
                "full_stage_seconds": res_f.stage_seconds,
                "incr_stage_seconds": res_i.stage_seconds,
            }

            # Second economics shape: a delta of genuinely NEW entities
            # (disjoint token vocabulary — nothing links to the existing
            # graph), the common production stream where arrivals are new
            # conversations. The chained delta above is the WORST case (it
            # merges into existing mega-clusters, so correctness forces
            # recomputing those clusters); this is the COMMON case, where the
            # impacted subgraph is delta-sized, LP takes the bounded local
            # fast path, and every store commit is an insert-only fast append.
            delta2 = (
                generate_transcripts_spark(spark, n_conversations=n_delta, seed=44, token_tag="zz")
                .drop("truth_cluster_id")
                .withColumn("conv_id", F.concat(F.lit("incr2_"), F.col("conv_id")))
                .withColumn("ts", F.col("ts") + F.expr("INTERVAL 380 DAYS"))
            )
            delta2.coalesce(4).write.mode("append").parquet(turns_dir)
            t0 = time.time()
            res_i2 = pipe.run("INCR")
            incr2_sec = round(time.time() - t0, 3)
            econ["new_entity_delta"] = {
                "delta_conversations": n_delta,
                "incr_seconds": incr2_sec,
                "incr_over_full": round(incr2_sec / full_sec, 3),
                "incr_entities_processed": res_i2.entities_processed,
                "incr_edges_created": res_i2.edges_created,
                "incr_store_commits": res_i2.store_commits,
                "incr_stage_seconds": res_i2.stage_seconds,
            }
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
            shutil.rmtree(tmp, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    return {
        "metric": "total_bench_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "query_spreads": spreads,
        "bench_reps": reps,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": int(CPUS),
        "idr": idr,
        "incr_econ": econ,
    }


def run_retail(n_rows: int, dense: bool = False, mix: str = "committed") -> None:
    """Reference-parity campaign: the published 10M-row EXACT-only retail
    benchmark (BASELINE.md:10-20 — DuckDB 143 s / Snowflake 168 s / BigQuery
    295 s / Databricks 317 s) on a corpus with the reference generator's
    distributions (sources/datagen_retail.py). Generation is distributed and
    EXCLUDED from the measured window (the reference times load→output on
    pre-generated parquet too)."""
    from sql_identity_resolution_spark.session import build_session
    from sql_identity_resolution_spark import EngineConfig, IDRPipeline
    from sql_identity_resolution_spark.sources.datagen_retail import (
        generate_retail_spark,
        retail_source,
    )

    # NOT the module-level 16-partition default (that is sized for the tiny
    # sf0.1 queries): at 10M rows every big shuffle needs >= 2 reduce tasks
    # per core or the run is undersubscribed — AQE can coalesce down from the
    # initial partition count but never split above it (measured: parallelism
    # 8-15 of 32 on the widest stages at 16 partitions).
    spark = build_session(
        app_name="idr-retail",
        master=f"local[{CPUS}]",
        shuffle_partitions=max(64, int(CPUS) * 2),
    )
    corpus = tempfile.mkdtemp(prefix="idr_retail_corpus_")
    wh = tempfile.mkdtemp(prefix="idr_retail_wh_")
    try:
        path = os.path.join(corpus, "customers")
        df = generate_retail_spark(spark, n_rows, seed=42, dense=dense, mix=mix).drop("truth_cluster_id")
        df.repartition(max(32, int(CPUS))).write.parquet(path)
        actual_rows = spark.read.parquet(path).count()
        source, rules, mappings = retail_source("retail", path)
        cfg = EngineConfig(warehouse=wh, sources=[source], rules=rules, mappings=mappings)
        pipe = IDRPipeline(spark, cfg)
        t0 = time.time()
        res = pipe.run("FULL")
        sec = round(time.time() - t0, 3)
        n_clusters = pipe.catalog.read("identity_clusters_current").count()
        print(
            json.dumps(
                {
                    "metric": "retail_parity_seconds",
                    "value": sec,
                    "unit": "sec",
                    "corpus": ("published-mix (cluster-size + edge-volume calibration)" if mix == "published" else "dense (published-edge-volume calibration)" if dense else "standard (committed 20m_standard.yaml config)"),
                    "rows": actual_rows,
                    "entities_per_sec": round(actual_rows / sec, 1),
                    "edges": res.edges_created,
                    "clusters": n_clusters,
                    "lp_iterations": res.lp_iterations,
                    "cc_path": res.cc_path,
                    "cc_rounds": res.cc_rounds,
                    "stage_seconds": res.stage_seconds,
                    "cpus": int(CPUS),
                }
            )
        )
    finally:
        shutil.rmtree(corpus, ignore_errors=True)
        shutil.rmtree(wh, ignore_errors=True)


def scaling_worker(turns_path: str, cpus: int) -> None:
    """One measured pipeline run at a given parallelism on a pre-generated
    corpus (fresh JVM per level; generation excluded from timing)."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_SHUFFLE"] = str(cpus * 2)
    from sql_identity_resolution_spark.session import build_session
    from sql_identity_resolution_spark import EngineConfig, IDRPipeline
    from sql_identity_resolution_spark.sources.transcripts import transcripts_source

    clustered = os.environ.get("SPARK_GRAFT_CLUSTERED", "1") != "0"
    # SPARK_GRAFT_LC_EXEC_CORES=k: run the level as a MULTI-PROCESS cluster —
    # Spark's local-cluster master launches cpus/k separate executor JVMs with
    # k cores each, so the N→4N pair becomes literally "N executors → 4N
    # executors" with real serialized shuffle blocks fetched between JVMs
    # (thread-mode local[N] shares one heap and skips serialization). Same
    # per-executor shape at both levels ≙ adding nodes to a cluster.
    lc_cores = int(os.environ.get("SPARK_GRAFT_LC_EXEC_CORES", "0"))
    extra_conf = {}
    if lc_cores > 0:
        n_exec = max(1, cpus // lc_cores)
        exec_mem_gb = int(os.environ.get("SPARK_GRAFT_LC_EXEC_MEM_GB", "8"))
        os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
        master = f"local-cluster[{n_exec},{lc_cores},{exec_mem_gb * 1024 + 1024}]"
        extra_conf = {
            "spark.executor.memory": f"{exec_mem_gb}g",
            "spark.executorEnv.PYSPARK_PYTHON": sys.executable,
        }
    else:
        master = f"local[{cpus}]"
    spark = build_session(app_name=f"idr-scaling-{cpus}", master=master, extra_conf=extra_conf)
    n_turns = spark.read.parquet(turns_path).count()
    wh = tempfile.mkdtemp(prefix=f"idr_scale_wh{cpus}_")
    source, rules, mappings = transcripts_source("chat", turns_path, clustered=clustered)
    from sql_identity_resolution_spark.sources.transcripts import transcripts_attributes

    cfg = EngineConfig(
        warehouse=wh, sources=[source], rules=rules, mappings=mappings,
        # golden-profile stage included in the measured window (verdict r3 #2)
        attributes=transcripts_attributes("chat"),
        emit_duplicate_text_pairs=False,  # exact full-text rule covers dups
        # broadcast gate: engine default (5M entities). The entity token side
        # broadcasts as a flat projection of the checkpointed entity frame
        # (~150 B/entity) now that declared-unique sources skip the defensive
        # text dedup; forcing shuffle-hash instead exchanges the pair stream
        # twice (3.4 GB at 400k convs, measured round 4). See
        # config.score_broadcast_max_entities.
        scored_all_pairs_max=int(os.environ.get("SPARK_GRAFT_ALL_PAIRS_MAX", "64")),
        # A/B knobs for scaling-campaign experiments (defaults = engine defaults)
        score_dense=os.environ.get("SPARK_GRAFT_SCORE_DENSE", "0") != "0",
        score_broadcast_max_entities=int(
            os.environ.get("SPARK_GRAFT_BCAST_MAX", "5000000")
        ),
    )
    t0 = time.time()
    res = IDRPipeline(spark, cfg).run("FULL")
    sec = round(time.time() - t0, 3)
    print(
        json.dumps(
            {
                "cpus": cpus,
                "master": master,
                "seconds": sec,
                "n_turns": n_turns,
                "turns_per_sec": round(n_turns / sec, 1),
                "edges": res.edges_created,
                "lp_iterations": res.lp_iterations,
                "cc_path": res.cc_path,
                "cc_rounds": res.cc_rounds,
                "stage_seconds": res.stage_seconds,
            }
        )
    )
    shutil.rmtree(wh, ignore_errors=True)


def run_scaling() -> None:
    """Evidence for the north rule's N→4N scaling efficiency: the IDENTICAL
    job (same pre-generated corpus on disk) at local[8] and local[32] in fresh
    JVMs; efficiency = (thr_32 / thr_8) / 4 (BASELINE.md methodology).

    The corpus is sized so UDF/shuffle compute dominates fixed scheduler
    overhead (at 4k convs the job is overhead-bound and local[8]≈local[32]
    by construction)."""
    convs = int(os.environ.get("SPARK_GRAFT_SCALING_CONVS", "100000"))
    # default N=4 → 4N=16: this sandbox has 16 physical cores + SMT; a raw
    # busy-loop test shows 8→32 procs caps at ~3.0x (0.76) from SMT alone,
    # so 4→16 is the pair where the HARDWARE can actually deliver 4x and
    # software efficiency is measurable. Override: SPARK_GRAFT_SCALING_CPUS=8,32
    lo, hi = (int(x) for x in os.environ.get("SPARK_GRAFT_SCALING_CPUS", "4,16").split(","))
    # SPARK_GRAFT_CORPUS_DIR: reuse one pre-generated corpus across campaign
    # variants (dense on/off, CC fusion k) so every A/B reads the IDENTICAL
    # bytes — and the (unmeasured) generation cost is paid once.
    keep_dir = os.environ.get("SPARK_GRAFT_CORPUS_DIR")
    corpus_dir = keep_dir or tempfile.mkdtemp(prefix="idr_scaling_corpus_")
    try:
        turns_path = os.path.join(corpus_dir, "turns")
        if not (keep_dir and os.path.exists(os.path.join(turns_path, "_SUCCESS"))):
            # generate once, distributed, excluded from the measured window
            from sql_identity_resolution_spark.session import build_session
            from sql_identity_resolution_spark.sources.datagen_spark import generate_transcripts_spark

            spark = build_session(app_name="idr-scaling-gen", master=f"local[{os.cpu_count() or 8}]")
            turns = generate_transcripts_spark(spark, n_conversations=convs, seed=42).drop(
                "truth_cluster_id"
            )
            if os.environ.get("SPARK_GRAFT_CLUSTERED", "1") != "0":
                # production layout: bucketed + sorted by conv_id (≙ Iceberg
                # bucket partitioning) — signature build reads it shuffle-free
                turns = turns.repartition(64, "conv_id").sortWithinPartitions("conv_id", "turn_idx")
            turns.write.mode("overwrite").parquet(turns_path)
            spark.stop()

        # Interleave levels within each rep (lo,hi,lo,hi,...) so every rep is
        # a PAIRED sample taken inside one hardware window — on an
        # elastic-clock VM a blocked order (all-lo then all-hi) lets a window
        # shift masquerade as a scaling effect. All reps are published; the
        # headline is best-of per level plus the per-rep paired ratios.
        reps = int(os.environ.get("SPARK_GRAFT_SCALING_REPS", "2"))
        all_runs = {lo: [], hi: []}

        def _run_level(cpus):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--scaling-worker", turns_path, str(cpus)],
                capture_output=True,
                text=True,
            )
            json_lines = [ln for ln in out.stdout.strip().splitlines() if ln.startswith("{")]
            if not json_lines:
                sys.stderr.write(out.stderr[-4000:] + "\n")
                raise RuntimeError(f"scaling worker local[{cpus}] produced no result")
            return json.loads(json_lines[-1])

        factor = hi / lo
        paired_ratios = []
        for _ in range(reps):
            r_lo = _run_level(lo)
            r_hi = _run_level(hi)
            all_runs[lo].append(r_lo)
            all_runs[hi].append(r_hi)
            paired_ratios.append(
                round((r_hi["turns_per_sec"] / r_lo["turns_per_sec"]) / factor, 3)
            )
        results = {
            c: max(all_runs[c], key=lambda r: r["turns_per_sec"]) for c in (lo, hi)
        }
        t_lo, t_hi = results[lo]["turns_per_sec"], results[hi]["turns_per_sec"]
        print(
            json.dumps(
                {
                    "metric": f"scaling_efficiency_idr_{lo}_to_{hi}",
                    "value": round((t_hi / t_lo) / factor, 3),
                    "unit": "ratio",
                    "paired_ratios_per_rep": paired_ratios,
                    "n_conversations": convs,
                    "n_turns": results[lo]["n_turns"],
                    f"local{lo}": results[lo],
                    f"local{hi}": results[hi],
                    "all_reps_seconds": {
                        str(c): [round(r["seconds"], 3) for r in all_runs[c]]
                        for c in (lo, hi)
                    },
                }
            )
        )
    finally:
        if not keep_dir:
            shutil.rmtree(corpus_dir, ignore_errors=True)


if __name__ == "__main__":
    if "--scaling-worker" in sys.argv:
        i = sys.argv.index("--scaling-worker")
        scaling_worker(sys.argv[i + 1], int(sys.argv[i + 2]))
    elif "--scaling" in sys.argv:
        run_scaling()
    elif "--retail" in sys.argv:
        i = sys.argv.index("--retail")
        n = int(sys.argv[i + 1]) if len(sys.argv) > i + 1 else 10_000_000
        run_retail(n, dense="--dense" in sys.argv,
                   mix="published" if "--published-mix" in sys.argv else "committed")
    else:
        full = run_bench()
        # the driver captures only the TAIL of stdout (≈2000 chars):
        # round 4's single giant line (spreads + econ + store-commit stats)
        # overflowed it and the official record lost its per-query numbers.
        # Full nested JSON goes to a file; the FINAL stdout line is a compact
        # summary (metric/value/queries/sf/cpus + pointer) that always fits.
        full_path = os.path.abspath(
            os.environ.get("SPARK_GRAFT_BENCH_FULL_JSON", "BENCH_FULL.json")
        )
        with open(full_path, "w") as fh:
            json.dump(full, fh, indent=1)
        compact = {
            "metric": full["metric"],
            "value": full["value"],
            "unit": full["unit"],
            "queries": full["queries"],
            "sf": full["sf"],
            "cpus": full["cpus"],
            "idr_full_s": full["idr"]["seconds"],
            "idr_incr_s": full["idr"]["incr"]["seconds"],
            "cc_path": full["idr"].get("cc_path", ""),
            "full_json": full_path,
        }
        line = json.dumps(compact, separators=(",", ":"))
        if len(line) > 1900:  # belt-and-braces: drop per-query detail last
            compact["queries"] = {k: round(v, 1) for k, v in compact["queries"].items()}
            line = json.dumps(compact, separators=(",", ":"))
        print(line)
