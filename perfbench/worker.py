"""One run of one benchmark workload (spawned by ``run.py`` in a fresh process).

Writes ``{"correct", "attempted", "failed", "metrics", "detail"}`` as JSON to
``--out``. The engine is driven only through its public API: ``build_session``,
the Spark generators, ``IDRPipeline.run`` and the catalog it owns.

Set-up builds the session (its python-worker warm-up overlaps corpus
generation), stages the generated corpus as a base and delta batches, and
waits until Spark is idle. Then, per workload:

* ``transcripts_incr`` — the transcripts rules (MinHash UDF, LSH blocking,
  pair scoring). Set-up ends with a FULL over the base. The timed region runs
  INCR batches in a closed loop with one client (a batch lands only after the
  previous INCR returned) until ``--seconds`` have passed, at least one
  batch. A batch mixes conversations held out of existing truth clusters
  (chained: they merge into existing clusters) with a corpus of its own
  vocabulary (new entities that link to nothing).
* ``retail_full`` — the reference's EXACT-only retail rules over the
  ``mix="published"`` corpus, with distributed CC. The timed region runs FULL
  on a fresh warehouse until ``--seconds`` have passed, at least once.

``latency_s`` is the median wall time of the timed ops. Every FULL and every
INCR batch is one attempted op; an op fails if it raises, returns a status
other than SUCCESS, or its output check fails.

``--trace 1`` reports per-layer metrics, summed over the set-up FULL and the
timed ops. It also reruns FULL over the final input on a fresh warehouse
(untimed) and checks that it agrees with the run's final membership.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from perfbench import layers  # noqa: E402
from sql_identity_resolution_spark import EngineConfig, IDRPipeline  # noqa: E402
from sql_identity_resolution_spark.plans.evaluate import pairwise_f1  # noqa: E402
from sql_identity_resolution_spark.plans.pipeline import T_ENTITY_TEXTS, T_MEMBERSHIP  # noqa: E402
from sql_identity_resolution_spark.session import build_session  # noqa: E402

WORKLOADS = {
    "transcripts_incr": {
        "conversations": 1000,  # requested from the generator, before the cap
        "cluster_cap": 20,  # members kept per truth cluster (see transcripts_corpus)
        "chained": 6,  # conversations per batch held out of existing clusters
        "new": 6,  # conversations per batch of new entities
        "batches": 4,  # batches staged; the loop stops at --seconds
    },
    "retail_full": {"rows": 40_000},
}
TOY = {
    "transcripts_incr": {**WORKLOADS["transcripts_incr"], "conversations": 120},
    "retail_full": {"rows": 2_000},
}
OK_STATUS = "SUCCESS"
F1_MIN = 0.99


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest() -> str:
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "sql_identity_resolution_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(d, fn), "rb") as f:
                    h.update(fn.encode() + f.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return None
    with open(head) as f:
        ref = f.read().strip()
    if not ref.startswith("ref: "):
        return ref
    p = os.path.join(ROOT, ".git", ref[5:])
    if os.path.exists(p):
        with open(p) as f:
            return f.read().strip()
    return None


def mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024
    return 0.0


class Run:
    """State of one benchmark run: the session, op accounting and probes.

    Ops are of three kinds: ``setup`` (the base FULL), ``timed`` and
    ``check`` (the traced rerun). End-to-end write and latency figures cover
    timed ops; per-layer figures cover set-up and timed ops."""

    def __init__(self, args, params: dict):
        self.args = args
        self.params = params
        self.work = args.workdir
        self.trace = bool(args.trace)
        self.problems: list[str] = []
        self.detail: dict = {"workload": args.workload, "seed": args.seed}
        self.t_start = time.perf_counter()
        self.rss = layers.RssSampler()
        self.timer = layers.CallTimer() if self.trace else None
        self.minhash_texts: list[str] = []
        # per op, by index
        self.results: list = []  # RunResult, None if the op raised
        self.kinds: list[str] = []
        self.failed: list[bool] = []
        self.written: list[tuple[int, int]] = []  # warehouse (files, bytes) the op wrote
        self.inputs: list[int] = []  # input bytes the op consumed
        self.profiles: dict[int, dict] = {}  # status-store profile (trace)
        self.base_s = 0.0

    # ---------------------------------------------------------------- set-up
    def start_session(self) -> None:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
        }
        if self.trace:
            # an INCR run is ~150 jobs; the default 1000 would silently drop
            # the oldest jobs of a run before the profile reads them
            conf["spark.ui.retainedJobs"] = "100000"
            conf["spark.ui.retainedStages"] = "100000"
        t0 = time.perf_counter()
        self.spark = build_session(app_name="perfbench", extra_conf=conf)
        self.build_s = time.perf_counter() - t0
        # build_session starts the python-worker warm-up job from a thread;
        # a watcher records when it ends so corpus generation can overlap it
        warm = [t for t in threading.enumerate() if "_warm_python_workers" in t.name]
        self.warm_end = time.perf_counter()

        def watch():
            for t in warm:
                t.join()
            self.warm_end = time.perf_counter()

        self.warm_watch = threading.Thread(target=watch, name="warm-watch", daemon=True)
        self.warm_watch.start()
        self.warm_t0 = t0 + self.build_s

    def wait_idle(self) -> None:
        """Block until the warm-up job ended and no Spark job is active, so
        nothing from set-up lands in the timed region."""
        self.warm_watch.join()
        tracker = self.spark.sparkContext.statusTracker()
        while tracker.getActiveJobsIds():
            time.sleep(0.02)
        self.warmup_s = self.warm_end - self.warm_t0

    def setup_end(self) -> None:
        self.setup_s = time.perf_counter() - self.t_start
        self.rss.active = True
        self.cpu0 = layers.cpu_times()
        self.timed_t0 = time.perf_counter()

    def timed_end(self, warehouse: str) -> None:
        self.rss.active = False
        self.warehouse_mb = layers.dir_mb(warehouse)
        # CPU time the hypervisor gave to other guests: explains outliers
        cpu = [b - a for a, b in zip(self.cpu0, layers.cpu_times())]
        self.detail["timed_cpu_steal_pct"] = round(100 * cpu[7] / max(1, sum(cpu)), 2)

    def time_left(self) -> bool:
        return time.perf_counter() - self.timed_t0 < self.args.seconds

    def record_env(self) -> None:
        conf = self.spark.sparkContext.getConf()
        self.detail["env"] = {
            "master": self.spark.sparkContext.master,
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "driver_memory": conf.get("spark.driver.memory", None),
            "nproc": len(os.sched_getaffinity(0)),
            "ram_mb": round(mem_total_mb()),
            "spark": self.spark.version,
            "python": platform.python_version(),
            "git_commit": git_commit(),
            "source_sha256_16": source_digest(),
        }

    # ------------------------------------------------------------------- ops
    def op(self, pipe: IDRPipeline, mode: str, kind: str, input_bytes: int = 0):
        """Run one pipeline op; returns (op index, wall seconds)."""
        i = len(self.results)
        self.results.append(None)
        self.kinds.append(kind)
        self.failed.append(False)
        self.inputs.append(input_bytes)
        wh = pipe.cfg.warehouse
        before = layers.warehouse_files(wh)
        profiled = self.trace and kind != "check"
        jid0 = layers.max_job_id(self.spark) if profiled else None
        if self.timer is not None:
            self.timer.enabled = profiled
        t0 = time.perf_counter()
        try:
            res = pipe.run(mode)
        except Exception:
            wall = time.perf_counter() - t0
            self.written.append((0, 0))
            self.check(i, False, f"{mode} raised")
            traceback.print_exc(file=sys.stderr)
            return i, wall
        finally:
            if self.timer is not None:
                self.timer.enabled = False
        wall = time.perf_counter() - t0
        self.results[i] = res
        self.written.append(layers.written_since(before, layers.warehouse_files(wh)))
        log(f"{kind} {mode} {wall:.2f}s status={res.status} entities={res.entities_processed} "
            f"edges={res.edges_created} cc={res.cc_path}/{res.lp_iterations} "
            f"stages={res.stage_seconds}")
        self.check(i, res.status == OK_STATUS, f"{mode} status {res.status}: {res.warnings}")
        if jid0 is not None:
            self.profiles[i] = layers.job_profile(self.spark, jid0, wall, res.stage_seconds)
        return i, wall

    def check(self, i: int, ok: bool, what: str) -> None:
        """Record an output check of op ``i``; a failed check fails the op."""
        if not ok:
            self.failed[i] = True
            self.problems.append(what)
            log(f"CHECK FAILED: {what}")

    def ops(self, *kinds: str) -> list[int]:
        return [i for i, k in enumerate(self.kinds) if k in kinds and self.results[i] is not None]

    def membership(self, pipe: IDRPipeline) -> list[tuple[str, str]]:
        rows = pipe.catalog.read(T_MEMBERSHIP).select("entity_key", "resolved_id").collect()
        return [(r[0], r[1]) for r in rows]

    def f1_spark(self, membership: list[tuple[str, str]], truth: list[tuple[str, str]]) -> float:
        """plans.evaluate.pairwise_f1 of a membership against a labelling."""
        m = self.spark.createDataFrame(membership, "entity_key string, resolved_id string")
        t = self.spark.createDataFrame(truth, "entity_key string, truth_cluster_id string")
        return pairwise_f1(m, t).f1


# ----------------------------------------------------------------- workloads
def _land(stage_dir: str, batch: int, input_dir: str, key: str, table_id: str):
    """Land a staged batch: copy its rows, less the truth column, into the
    input dir. Returns (input bytes, [(entity_key, truth_cluster_id)])."""
    import pyarrow.parquet as pq

    src = os.path.join(stage_dir, f"batch={batch}")
    os.makedirs(input_dir, exist_ok=True)
    nbytes, truth = 0, set()
    if not os.path.isdir(src):  # a batch the generator left empty
        return nbytes, []
    for fn in sorted(os.listdir(src)):
        if not fn.endswith(".parquet"):
            continue
        tbl = pq.read_table(os.path.join(src, fn))
        truth.update(zip(tbl.column(key).to_pylist(), tbl.column("truth_cluster_id").to_pylist()))
        dst = os.path.join(input_dir, f"b{batch}-{fn}")
        # Spark reads microsecond timestamps, not pyarrow's default nanoseconds
        pq.write_table(tbl.drop(["truth_cluster_id"]), dst, coerce_timestamps="us")
        nbytes += os.path.getsize(dst)
    return nbytes, [(f"{table_id}:{k}", t) for k, t in truth]


def _pick(convs, per_batch: int, n: int, seed: int):
    """(conv_id, batch): ``per_batch`` conversations for each of ``n``
    batches, in hash order; the rest get batch -1."""
    from pyspark.sql import Window

    rn = F.row_number().over(Window.orderBy(F.xxhash64(F.lit(seed), "conv_id"))) - 1
    return convs.select("conv_id", rn.alias("rn")).select(
        "conv_id",
        F.when(F.col("rn") < per_batch * n, F.floor(F.col("rn") / per_batch))
        .otherwise(F.lit(-1)).cast("int").alias("batch"),
    )


def transcripts_corpus(spark, seed: int, p: dict):
    """Turns with a ``batch`` column: -1 is the base corpus, b >= 0 the b-th
    delta. Every row comes from ``generate_transcripts_spark``. A delta holds
    ``chained`` conversations held out of truth clusters whose first member
    stays in the base, and ``new`` conversations of a corpus with its own
    ``token_tag`` vocabulary.

    Truth clusters are capped at ``cluster_cap`` members: the generator's 1%
    tail of 51-1000-member clusters puts 0-3 such clusters into a corpus
    of this size, which alone moved the corpus size about 2x between seeds."""
    from sql_identity_resolution_spark.sources.datagen_spark import generate_transcripts_spark

    member = F.substring("conv_id", 2, 12).cast("long") % 100_000
    n = p["batches"]
    base = generate_transcripts_spark(spark, p["conversations"], seed=seed).filter(
        member < p["cluster_cap"]
    )
    held = _pick(base.filter(member > 0).select("conv_id").distinct(), p["chained"], n, seed)
    base = base.join(held, "conv_id", "left").fillna(-1, ["batch"])
    new = generate_transcripts_spark(
        spark, 4 * p["new"] * n, seed=seed + 1, token_tag="q"
    ).filter(member < p["cluster_cap"]).select(
        F.concat(F.lit("q_"), "conv_id").alias("conv_id"), "turn_idx", "role", "text", "tool",
        "ts", F.concat(F.lit("q_"), "truth_cluster_id").alias("truth_cluster_id"),
    )
    picked = _pick(new.select("conv_id").distinct(), p["new"], n, seed)
    new = new.join(picked.filter(F.col("batch") >= 0), "conv_id")
    # deltas arrive after the base: batch b is stamped (b+1)*30 days later
    out = base.unionByName(new)
    shift = F.when(F.col("batch") >= 0, (F.col("batch") + 1) * 30).otherwise(0)
    return out.withColumn("ts", F.col("ts") + F.make_interval(days=shift.cast("int")))


def retail_corpus(spark, seed: int, p: dict):
    from sql_identity_resolution_spark.sources.datagen_retail import generate_retail_spark

    out = generate_retail_spark(spark, p["rows"], seed=seed, mix="published")
    return out.withColumn("batch", F.lit(-1))


def transcripts_config(input_dir: str) -> dict:
    from sql_identity_resolution_spark.sources.transcripts import (
        transcripts_attributes,
        transcripts_source,
    )

    source, rules, mappings = transcripts_source("chat", input_dir)
    return {"sources": [source], "rules": rules, "mappings": mappings,
            "attributes": transcripts_attributes("chat")}


def retail_config(input_dir: str) -> dict:
    from sql_identity_resolution_spark.sources.datagen_retail import retail_source

    source, rules, mappings = retail_source("retail", input_dir)
    # the reference's 10M-row corpus is far above the driver union-find cap,
    # so its CC runs distributed (hash-min, 6 rounds); this scaled-down
    # corpus keeps that path by turning the local fast path off
    return {"sources": [source], "rules": rules, "mappings": mappings, "cc_local_max_edges": 0}


def transcripts_texts(pipe: IDRPipeline, input_dir: str) -> list[str]:
    return [r["match_text"] for r in pipe.catalog.read_rows(T_ENTITY_TEXTS) or []]


def retail_texts(pipe: IDRPipeline, input_dir: str) -> list[str]:
    """Retail has no match_text; its identifier values joined per record are
    the text a SCORED rule over this source would hash."""
    import pyarrow.parquet as pq

    cols = ["email", "phone", "loyalty_id", "address"]
    rows = pq.read_table(input_dir, columns=cols).slice(0, 5000).to_pylist()
    return [" ".join(str(r[c] or "") for c in cols) for r in rows]


# name: (corpus, entity-key column, source table_id, config, texts,
#        incremental, pairwise_f1 floor)
WORKLOAD_DEFS = {
    "transcripts_incr": (transcripts_corpus, "conv_id", "chat", transcripts_config,
                         transcripts_texts, True, F1_MIN),
    "retail_full": (retail_corpus, "customer_record_id", "retail", retail_config,
                    retail_texts, False, None),
}


def run_workload(run: Run) -> dict:
    """Set-up, the timed region and the output checks of one workload."""
    corpus_fn, key, table_id, config_fn, texts_fn, incremental, f1_floor = (
        WORKLOAD_DEFS[run.args.workload]
    )
    spark, p, work = run.spark, run.params, run.work
    t0 = time.perf_counter()
    stage_dir, input_dir = os.path.join(work, "stage"), os.path.join(work, "input")
    corpus_fn(spark, run.args.seed, p).write.partitionBy("batch").parquet(stage_dir)
    base_bytes, truth = _land(stage_dir, -1, input_dir, key, table_id)
    run.corpus_s = time.perf_counter() - t0
    run.wait_idle()
    cfg = config_fn(input_dir)

    def pipeline(wh: str) -> IDRPipeline:
        return IDRPipeline(spark, EngineConfig(warehouse=os.path.join(work, wh), **cfg))

    pipe = pipeline("wh")
    timed: list[tuple[int, float]] = []
    n_landed = 0  # delta batches landed
    if incremental:
        base_i, run.base_s = run.op(pipe, "FULL", "setup", base_bytes)
        run.setup_end()
        while run.results[base_i] is not None and n_landed < p["batches"]:
            nbytes, delta_truth = _land(stage_dir, n_landed, input_dir, key, table_id)
            truth += delta_truth
            n_landed += 1
            timed.append(run.op(pipe, "INCR", "timed", nbytes))
            if run.results[timed[-1][0]] is None or not run.time_left():
                break
    else:
        # the first FULL in a fresh JVM, as a batch rebuild runs it
        run.setup_end()
        while True:
            pipe = pipeline(f"wh{len(timed)}")
            timed.append(run.op(pipe, "FULL", "timed", base_bytes))
            if run.results[timed[-1][0]] is None or not run.time_left():
                break
    run.timed_end(pipe.cfg.warehouse)

    out = {"latency_s": statistics.median(w for _, w in timed) if timed else None}
    run.detail["entities_processed"] = [
        run.results[i].entities_processed for i, _ in timed if run.results[i] is not None
    ]
    last = timed[-1][0] if timed else None
    if last is None or run.results[last] is None:
        return out
    members = run.membership(pipe)
    run.check(last, len(members) == len(truth),
              f"membership rows {len(members)} != entities {len(truth)}")
    out["pairwise_f1"] = layers.pairwise_f1(members, truth)
    if f1_floor is not None:
        run.check(last, out["pairwise_f1"] >= f1_floor,
                  f"pairwise_f1 {out['pairwise_f1']} < {f1_floor}")
    res = run.results[last]
    run.detail["counts"] = {
        "entities": res.entities_processed, "edges_created": res.edges_created,
        "clusters": len({r for _, r in members}), "lp_iterations": res.lp_iterations,
    }
    if run.trace:
        # the package's own scorer must agree with the in-process one
        ref = run.f1_spark(members, truth)
        run.check(last, abs(ref - out["pairwise_f1"]) < 1e-6,
                  f"pairwise_f1 {out['pairwise_f1']} != plans.evaluate {ref}")
        # a FULL over the same final input on a fresh warehouse must agree:
        # chained INCR == FULL (transcripts_incr), FULL == FULL (retail_full)
        rerun_pipe = pipeline("wh_rerun")
        rerun_i, _ = run.op(rerun_pipe, "FULL", "check")
        if run.results[rerun_i] is not None:
            out["rerun_f1"] = layers.pairwise_f1(members, run.membership(rerun_pipe))
            run.check(rerun_i, out["rerun_f1"] == 1.0,
                      f"membership differs from a FULL rerun: f1 {out['rerun_f1']}")
            if not incremental:
                again = run.results[rerun_i]
                run.check(rerun_i, (again.edges_created, again.lp_iterations)
                          == (res.edges_created, res.lp_iterations),
                          "FULL rerun counts differ")
        run.minhash_texts = texts_fn(pipe, input_dir)
    return out


# -------------------------------------------------------------------- report
def minhash_texts_per_s(texts: list[str]) -> float:
    """Single-thread, in-process throughput of the MinHash band-key kernel."""
    import pandas as pd

    from sql_identity_resolution_spark.functions.minhash import minhash_band_keys

    series = pd.Series(texts)
    n, t0 = 0, time.perf_counter()
    while n == 0 or time.perf_counter() - t0 < 0.5:
        minhash_band_keys(series)
        n += len(texts)
    return n / (time.perf_counter() - t0)


def layer_metrics(run: Run, out: dict) -> dict:
    """Per-layer metrics, summed over the set-up FULL and the timed ops."""
    m: dict[str, tuple[float | None, str]] = {}
    profiles = list(run.profiles.values())
    for s in layers.STAGES:
        for k, unit in (("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                        ("executor_s", "s"), ("shuffle_mb", "MB"), ("driver_only_s", "s")):
            m[f"stage.{s}.{k}"] = (sum(p["stages"].get(s, {}).get(k, 0) for p in profiles), unit)
    for k, unit in (("jobs", "count"), ("tasks", "count"), ("executor_s", "s"),
                    ("gc_s", "s"), ("spill_mb", "MB"), ("driver_only_s", "s")):
        m[f"run.{k}"] = (sum(p["run"][k] for p in profiles), unit)
    results = [run.results[i] for i in run.ops("setup", "timed")]
    for mode in ("FULL", "INCR"):
        jobs = [p["run"]["jobs"] for i, p in run.profiles.items() if run.results[i].mode == mode]
        m[f"run.{mode.lower()}_jobs"] = (sum(jobs), "count")
    t = run.timer
    m["catalog.commit_calls"] = (t.calls["commit"], "count")
    m["catalog.commit_s"] = (t.seconds["commit"], "s")
    m["catalog.read_calls"] = (t.calls["read"], "count")
    m["catalog.read_s"] = (t.seconds["read"], "s")
    profiled = run.ops("setup", "timed")
    m["catalog.files_written"] = (sum(run.written[i][0] for i in profiled), "count")
    m["catalog.write_amp"] = (
        sum(run.written[i][1] for i in profiled) / max(1, sum(run.inputs[i] for i in profiled)),
        "ratio",
    )
    fracs = [  # FULL always rewrites everything; INCR is where this varies
        float(c.get("rewritten_fraction", 0.0))
        for r in results if r.mode == "INCR" for c in r.store_commits.values()
    ]
    m["catalog.rewritten_fraction_max"] = (max(fracs, default=0.0), "ratio")
    m["graph.cc_s"] = (sum(c["s"] for c in t.cc), "s")
    m["graph.cc_rounds"] = (max((c["rounds"] for c in t.cc), default=0), "count")
    m["graph.cc_edges"] = (sum(c["edges"] for c in t.cc), "count")
    m["graph.cc_distributed"] = (int(any(c["distributed"] for c in t.cc)), "count")
    cand = sum(r.candidate_pairs_scored for r in results)
    m["scoring.candidate_pairs"] = (cand, "count")
    m["scoring.edges_per_candidate"] = (
        sum(r.edges_created for r in results) / cand if cand else 0.0, "ratio"
    )
    m["blocking.groups_skipped"] = (sum(r.groups_skipped for r in results), "count")
    m["minhash.texts_per_s"] = (
        minhash_texts_per_s(run.minhash_texts) if run.minhash_texts else 0.0, "1/s"
    )
    m["process.peak_rss_mb"] = (run.rss.peak_mb, "MB")
    m["session.build_s"] = (run.build_s, "s")
    m["session.warmup_s"] = (run.warmup_s, "s")
    m["setup.corpus_s"] = (run.corpus_s, "s")
    m["setup.base_full_s"] = (run.base_s, "s")
    m["trace.latency_s"] = (out.get("latency_s"), "s")
    m["check.rerun_f1"] = (out.get("rerun_f1"), "ratio")
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_DEFS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true")
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    run = Run(args, (TOY if args.toy else WORKLOADS)[args.workload])
    run.start_session()
    try:
        out = run_workload(run)
    finally:
        run.rss.close()
        if run.timer is not None:
            run.timer.close()
    run.record_env()
    if run.trace:
        metrics = layer_metrics(run, out)
    else:
        timed = run.ops("timed")
        metrics = {
            "setup_s": (run.setup_s, "s"),
            "latency_s": (out.get("latency_s"), "s"),
            "bytes_written_mb": (sum(run.written[i][1] for i in timed) / layers.MB, "MB"),
            "warehouse_mb": (run.warehouse_mb, "MB"),
            "pairwise_f1": (out.get("pairwise_f1"), "ratio"),
        }
    missing = sorted(k for k, (v, _) in metrics.items() if v is None)
    if missing:
        run.problems.append(f"missing metrics {missing}")
    run.detail["problems"] = run.problems
    result = {
        "correct": not any(run.failed) and not missing,
        "attempted": len(run.results),
        "failed": sum(run.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items() if v is not None},
        "detail": run.detail,
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    run.spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
