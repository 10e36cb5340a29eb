"""End-to-end pipeline orchestration: Configure → Extract → Match → Cluster.

Faithful to the reference's stage order and control topology
(``sql/duckdb/core/idr_run.py:180-820``; stage list in
``docs/concepts/architecture.md:25-45``): the only data crossing to the driver
are preflight metadata, stage row counts, and the LP convergence scalar.

Durability & resume: all durable tables live in the snapshot-versioned Catalog
(Iceberg ``MERGE INTO`` on real deployments). ``run_state`` (watermarks) only
advances after every output MERGE commits — so a crashed run re-executes from
the last committed snapshot boundary and every sink MERGE is idempotent
(re-merging the same edges/membership is a no-op), which is exactly the
reference's resume contract (S9, sql/common/60_update_run_state.sql).

Dry-run (idr_run.py:38,502-552,705-746): the full pipeline runs, production
MERGEs are skipped, and a NEW/MOVED/UNCHANGED diff is written to
``dry_run_results``/``dry_run_summary``. Unlike the reference's DuckDB driver
(which merges edges even when dry) we skip the edge MERGE too and cluster over
the view ``edges_current ∪ edges_new`` — "no production writes" made literal.
"""

from __future__ import annotations

import contextlib
import json
import time
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sql_identity_resolution_spark.config import EngineConfig
from sql_identity_resolution_spark.operators import blocking, confidence, extract, golden, graph, membership, scoring
from sql_identity_resolution_spark.sources.catalog import Catalog

# durable table names (≙ idr_out.* / idr_meta.run_state)
T_EDGES = "identity_edges_current"
T_MEMBERSHIP = "identity_resolved_membership_current"
T_CLUSTERS = "identity_clusters_current"
T_GOLDEN = "golden_profile_current"
T_RUN_STATE = "run_state"
# match-semantics signature of the last committed run (config.match_signature):
# an INCR run under a CHANGED signature takes the safe subgraph edge
# restriction — edges committed under old rules may cross clusters
T_CONFIG_STATE = "engine_config_state"
T_RUN_HISTORY = "run_history"
T_STAGE_METRICS = "stage_metrics"
T_SKIPPED = "skipped_identifier_groups"
T_AUDIT = "rule_match_audit_current"
T_DRY_RESULTS = "dry_run_results"
T_DRY_SUMMARY = "dry_run_summary"
T_METRICS = "metrics_export"
T_LINEAGE = "partition_lineage"
T_IDENTIFIER_QUALITY = "identifier_quality"
# incremental stores: per-entity derived artifacts maintained by delta MERGE so
# an INCR run never recomputes them corpus-wide (extract/signature-build cost
# ∝ delta). All three are bucketed on entity_key ⇒ O(delta·buckets) rewrites.
T_IDENTIFIERS = "identifiers_current"
T_ENTITY_TEXTS = "entity_texts_current"
T_ENTITY_ATTRS = "entity_attributes_current"

_EDGE_SCHEMA = (
    "rule_id string, left_entity_key string, right_entity_key string, "
    "identifier_type string, identifier_value_norm string, "
    "first_seen_ts timestamp, last_seen_ts timestamp"
)
_MEMBERSHIP_SCHEMA = "entity_key string, resolved_id string, updated_ts timestamp"
_CLUSTERS_SCHEMA = (
    "resolved_id string, cluster_size bigint, edge_diversity bigint, match_density double, "
    "confidence_score double, primary_reason string, updated_ts timestamp"
)
_RUN_STATE_SCHEMA = (
    "table_id string, last_watermark_value timestamp, last_run_id string, last_run_ts timestamp"
)


def _dense_default_for_master(master: str) -> bool:
    """Regime-adaptive dense-scoring default: dense long-id scoring won the
    A/B only under real multi-JVM masters (serialized shuffle blocks);
    thread-local masters — ``local``, ``local[N]``, ``local[*]``,
    ``local[N,maxFailures]`` — share one heap and favor the classic path.
    ``local-cluster[...]``/yarn/k8s/standalone count as multi-JVM."""
    m = master or ""
    return not (m == "local" or m.startswith("local["))


def _ckpt_count(df: DataFrame, name: str) -> tuple[DataFrame, int]:
    """Eager localCheckpoint with the row count folded into the SAME job via
    an Observation — every materialize-then-count pair in the run would
    otherwise cost a second action (a scheduler barrier that prices in as
    parallelism-independent time: ~40 sequential actions per run is the
    largest Amdahl term the scaling bench sees). Returns (checkpointed, n)."""
    obs = Observation(f"{name}_{uuid.uuid4().hex[:8]}")
    out = df.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
    return out, int(obs.get["n"])


class ConvergenceError(RuntimeError):
    """Raised when label propagation fails to converge within max_iters.

    The reference HARD-FAILS here (``sql/databricks/core/IDR_Run.py:493-494``
    raises on non-convergence) — publishing membership built from
    non-converged labels would silently commit wrong clusters. The failed run
    is still recorded in run_history (status=FAILED) before raising. In FULL
    mode every production write (including edges) is deferred to the
    output_write flush, so nothing is published; in INCR mode only the
    idempotent edge MERGE has run (edges are valid facts independent of
    clustering). The watermark never advances, so the next run resumes
    cleanly from the prior snapshot boundary."""


@dataclass
class RunResult:
    run_id: str
    mode: str
    dry_run: bool
    entities_processed: int = 0
    identifiers_extracted: int = 0
    values_excluded: int = 0
    groups_skipped: int = 0
    edges_created: int = 0
    candidate_pairs_scored: int = 0
    clusters_impacted: int = 0
    lp_iterations: int = 0
    lp_converged: bool = True
    # which CC execution path labeled this run's subgraph (CCResult.path):
    # "hash_min" / "star" / "hash_min+star" / "local_union_find" — lets a
    # bench reader tell a distributed-LP timing from the driver fast path
    cc_path: str = ""
    # per-round {"sec", "delta"} decomposition of the distributed CC loop
    cc_rounds: list = field(default_factory=list)
    duration_seconds: float = 0.0
    stage_seconds: dict = field(default_factory=dict)
    # bucketed-table commit stats of this run ({table: {n_buckets,
    # touched_buckets, rewritten_fraction}}) — see Catalog.last_commit_stats
    store_commits: dict = field(default_factory=dict)
    warnings: list = field(default_factory=list)
    status: str = "SUCCESS"


_EDGE_KEYS = [
    "rule_id", "left_entity_key", "right_entity_key", "identifier_type", "identifier_value_norm",
]


@dataclass
class _RunContext:
    """Per-run state shared by the stage functions: identity, the RunResult
    being filled, stage_metrics rows, the deferred commit queues, and the
    frames each stage hands to the next."""

    spark: SparkSession
    mode: str
    dry_run: bool
    run_id: str
    run_ts: datetime
    run_sig: str
    res: RunResult
    t0: float
    last_wm: dict
    loaded: dict
    # the delta IS the whole entity set: FULL, or INCR with no prior watermark
    is_full: bool
    stage_rows: list = field(default_factory=list)
    # production writes deferred to the output_write flush (dry runs queue
    # none): bucketed store commits, then driver-side state-row upserts that
    # must land after every store published
    pending_stores: list = field(default_factory=list)
    pending_state: list = field(default_factory=list)
    # observability appends — these land in dry runs too
    pending_appends: list = field(default_factory=list)
    # INCR: the exact identifier total is read back from the committed store
    ids_count_from_pointer: bool = False
    # frames handed between stages
    entities_delta: DataFrame | None = None
    wm_by_table: dict = field(default_factory=dict)
    identifiers_delta: DataFrame | None = None
    identifiers_filtered: DataFrame | None = None
    members: DataFrame | None = None
    sizes: DataFrame | None = None
    scored_hist: DataFrame | None = None
    edges_new: DataFrame | None = None
    new_pairs: DataFrame | None = None
    edges_current: DataFrame | None = None
    labels: DataFrame | None = None
    n_labels: int = 0
    updates: DataFrame | None = None
    csizes: DataFrame | None = None
    conf: DataFrame | None = None

    def queue(self, pending: list, entry: tuple) -> None:
        """The dry-run gate on deferred production writes: a dry run queues
        none (the only eager write, INCR's edge merge, is skipped by
        _edge_merge)."""
        if not self.dry_run:
            pending.append(entry)

    @contextlib.contextmanager
    def stage(self, name: str):
        """Time one pipeline stage and tag every Spark job fired inside it
        with the stage name as job group (per-stage jobs / shuffle / task
        time in the status store). Yields ``rows(n)``, which records the
        stage's stage_metrics row."""
        sc = self.spark.sparkContext
        t = time.time()
        sc.setJobGroup(name, f"idr stage {name}", False)

        def rows(n):
            self.stage_rows.append((self.run_id, name, int(n), round(time.time() - t, 3), self.run_ts))

        try:
            yield rows
        finally:
            sc.setJobGroup("", "", False)
            self.res.stage_seconds[name] = round(time.time() - t, 3)


class IDRPipeline:
    def __init__(self, spark: SparkSession, cfg: EngineConfig):
        self.spark = spark
        self.cfg = cfg
        self.catalog = Catalog(
            spark,
            cfg.warehouse,
            n_buckets=cfg.catalog_buckets,
            table_buckets=cfg.catalog_table_buckets or {},
        )
        # warm pass: analyze every source plan + config expression now (pure
        # Catalyst analysis, zero Spark jobs) so the first run()'s preflight
        # is Catalyst-warm (cold-JVM preflight measured 2.6-3.6 s, warm
        # 0.2 s). Errors are deferred to run(): its preflight re-validates
        # and raises the same named ValueError.
        try:
            self._preflight(check_data=True, warm=True)
        except Exception:
            pass

    # ------------------------------------------------------------- preflight
    def preflight(self, check_data: bool = True) -> list[str]:
        """Config + data validation before any pipeline stage runs
        (≙ idr_run.py:126-171 / IDR_ValidateMetadata.py): every mapping needs
        an active rule; every active source must LOAD, carry its watermark
        column, and resolve its entity-key / identifier / attribute
        expressions against the actual schema — a typo'd path or missing
        column fails HERE with a named error, not mid-pipeline. An empty
        source is a warning (legal, e.g. a quiet INCR slice).

        ``check_data=False`` skips the source loads (pure config check)."""
        return self._preflight(check_data)

    def _preflight(self, check_data: bool, warm: bool = False) -> list[str]:
        warnings: list[str] = []
        rule_types = {r.identifier_type for r in self.cfg.active_rules()}
        map_types = {m.identifier_type for m in self.cfg.mappings}
        for m in self.cfg.mappings:
            if m.identifier_type not in rule_types:
                warnings.append(f"mapping {m.table_id}/{m.identifier_type} has no active rule")
        for t in rule_types - map_types:
            warnings.append(f"rule type {t} has no identifier mapping")
        if not self.cfg.sources:
            raise ValueError("preflight: no sources configured")
        if not self.cfg.active_rules():
            raise ValueError("preflight: no active rules")
        if not check_data:
            return warnings

        def _resolve(df: DataFrame, expr: str, what: str) -> None:
            try:
                df.select(F.expr(expr))  # analysis only — no action
            except Exception as e:
                raise ValueError(f"preflight: {what}: expression {expr!r} does not resolve: {e}") from e

        for st in self.cfg.sources:
            if not st.is_active:
                continue
            try:
                df = st.load(self.spark)
            except Exception as e:
                raise ValueError(
                    f"preflight: source {st.table_id}: failed to load ({st.path or 'reader'}): {e}"
                ) from e
            if st.watermark_column not in df.columns:
                raise ValueError(
                    f"preflight: source {st.table_id}: watermark column "
                    f"{st.watermark_column!r} not in schema {df.columns}"
                )
            _resolve(df, st.entity_key_expr, f"source {st.table_id} entity_key_expr")
            for m in self.cfg.mappings:
                if m.table_id == st.table_id:
                    _resolve(df, m.identifier_value_expr,
                             f"mapping {m.table_id}/{m.identifier_type}")
            for a in self.cfg.attributes:
                if a.table_id == st.table_id:
                    _resolve(df, a.attribute_expr, f"attribute {a.attribute_name}")
            # emptiness warning only for plain tables (a limit-1 parquet scan);
            # derived readers (e.g. transcript signatures) would pay their full
            # aggregation for a limit-1 — not worth it in preflight. The
            # constructor's warm pass skips it too: analysis only, zero Spark
            # jobs.
            if st.path is not None and not warm and df.isEmpty():
                warnings.append(f"source {st.table_id} is empty")
        return warnings

    def _entity_texts(self, loaded: dict[str, DataFrame] | None = None) -> tuple[DataFrame | None, bool]:
        """(entity_key, match_text) for similarity scoring — sources exposing a
        match_text column (the transcripts signature source always does) —
        plus whether EVERY contributing source declares ``match_text_unique``.

        entity_key is table_id-prefixed so cross-source collisions are
        impossible, making the union globally one-row-per-entity when every
        source declares it. The scoring paths use this to skip their
        defensive per-entity text dedup (a corpus-wide sort-aggregate over
        full texts). Holds for the INCR store view too: prior store rows were
        written from the same declared-unique sources and delta keys are
        anti-joined out before the union."""
        loaded = loaded or {}
        parts = []
        all_unique = True
        for st in self.cfg.sources:
            if not st.is_active:
                continue
            df = loaded.get(st.table_id)
            if df is None:
                df = st.load(self.spark)
            if "match_text" in df.columns:
                all_unique = all_unique and st.match_text_unique
                parts.append(
                    df.select(
                        extract.entity_key_col(st.table_id, st.entity_key_expr).alias("entity_key"),
                        F.col("match_text"),
                    )
                )
        if not parts:
            return None, all_unique
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out, all_unique

    def _maintain_store(
        self,
        c: _RunContext,
        name: str,
        delta_df,
        keys: list[str],
        bucket_col: str,
        full_df_fn,
        approx_rows: int | None = None,
    ) -> DataFrame:
        """Delta-maintained per-entity store. When the delta IS the full set
        (FULL mode, or INCR with no prior watermark) the store is overwritten
        (bucketed); otherwise delta entities' rows are replaced via bucketed
        delete+insert. Returns the post-merge VIEW immediately; the actual
        commit is DEFERRED to the output_write stage (``pending_stores``) so
        the hot extract/edge stages never pay store IO — resume stays correct
        because run_state advances after the stores commit (an interrupted run
        re-derives the same delta and re-merges idempotently)."""
        cat = self.catalog
        if c.is_full or not cat.exists(name):
            full_df = delta_df if c.is_full else full_df_fn()
            c.queue(c.pending_stores, (name, "overwrite", full_df, keys, bucket_col, approx_rows))
            return full_df
        prior = cat.read(name)
        view = prior.join(delta_df.select(*keys).distinct(), keys, "left_anti").unionByName(
            delta_df.select(*prior.columns)
        )
        c.queue(c.pending_stores, (name, "delete_insert", delta_df, keys, bucket_col, approx_rows))
        return view

    # ------------------------------------------------------------------- run
    def _last_match_signature(self) -> str | None:
        """match_signature of the last committed run (None if never recorded).
        Driver-side pointer read — zero Spark jobs (the table is one row)."""
        rows = self.catalog.read_rows(T_CONFIG_STATE)
        if not rows:
            return None
        for r in rows:
            if r.get("k") == "match_signature":
                return r.get("v")
        return None

    def run(self, mode: str = "FULL", dry_run: bool = False, run_id: str | None = None) -> RunResult:
        spark, cfg, cat = self.spark, self.cfg, self.catalog
        mode = mode.upper()
        run_id = run_id or f"run_{datetime.now(timezone.utc).strftime('%Y%m%d%H%M%S')}_{uuid.uuid4().hex[:8]}"
        run_ts = datetime.now(timezone.utc).replace(tzinfo=None)
        res = RunResult(run_id=run_id, mode=mode, dry_run=dry_run)
        cat.last_commit_stats.clear()  # stats are per-run
        t0 = time.time()
        res.warnings.extend(self.preflight())

        # watermarks (S2/S9) — driver-side pointer read, zero jobs (run_state
        # is one row per source; the Spark read+collect it replaces was a
        # fixed scheduler round-trip at the head of every run)
        last_wm = {
            r["table_id"]: r["last_watermark_value"]
            for r in (cat.read_rows(T_RUN_STATE) or [])
        }
        c = _RunContext(
            spark=spark, mode=mode, dry_run=dry_run, run_id=run_id, run_ts=run_ts,
            run_sig=cfg.match_signature(), res=res, t0=t0, last_wm=last_wm,
            # load each source exactly once (derived sources are expensive);
            # INCR loads only the delta slice — the stores supply the rest
            loaded=extract.load_sources(spark, cfg, mode, last_wm),
            is_full=mode == "FULL" or not any(
                last_wm.get(st.table_id) is not None for st in cfg.sources if st.is_active
            ),
        )
        stages = [
            self._entity_extraction,       # stage 10
            self._identifier_extraction,   # stage 11 + exclusions + identifier store
            self._edge_building,           # stage 20
            self._edge_merge,              # S5 (INCR) / FULL deferral / dry-run view
            self._label_propagation,       # stages 30/31
            self._membership_update,       # stages 40/41/42
            self._golden_profile,          # stage 50
            self._output_write,            # stages 60/70
        ]
        if dry_run:
            stages.append(self._dry_run_diff)  # idr_run.py:705-746
        for stage_fn in stages:
            stage_fn(c)
        return self._finalize(c)

    # ---------------------------------------------------------------- stages
    def _entity_extraction(self, c: _RunContext) -> None:
        cfg = self.cfg
        with c.stage("entity_extraction") as rows:
            entities_delta = extract.build_entities_delta(
                self.spark, cfg, c.run_id, c.mode, c.last_wm, c.loaded
            )
            # ONE checkpoint job carries the row count AND the per-source max
            # watermark (the run_state advance) via a single Observation — the
            # separate end-of-run groupBy(table_id).max() job is gone
            active_ids = [st.table_id for st in cfg.sources if st.is_active]
            obs = Observation(f"entities_{uuid.uuid4().hex[:8]}")
            aggs = [F.count(F.lit(1)).alias("n")] + [
                F.max(F.when(F.col("table_id") == tid, F.col("watermark_value"))).alias(f"wm_{i}")
                for i, tid in enumerate(active_ids)
            ]
            c.entities_delta = entities_delta.observe(obs, *aggs).localCheckpoint(eager=True)
            vals = obs.get
            c.res.entities_processed = int(vals["n"])
            c.wm_by_table = {tid: vals[f"wm_{i}"] for i, tid in enumerate(active_ids)}
            rows(c.res.entities_processed)

    def _identifier_extraction(self, c: _RunContext) -> None:
        spark, cfg, res = self.spark, self.cfg, c.res
        with c.stage("identifier_extraction") as rows:
            identifiers_delta = extract.extract_identifiers(spark, cfg, c.mode, c.last_wm, c.loaded)
            # excluded-count via Observation on the anti-join INPUT: one
            # extraction job total — a second count() would re-run the whole
            # (UDF-bearing) extraction just for a metric. In INCR this counts
            # the delta slice (the only rows extracted this run).
            excl_obs = None
            if cfg.exclusions:
                excl_obs = Observation("exclusion_input")
                identifiers_delta = identifiers_delta.observe(
                    excl_obs, F.count(F.lit(1)).alias("n_input")
                )
            identifiers_delta = extract.apply_exclusions(spark, identifiers_delta, cfg)
            if c.is_full:
                # FULL: every identifier row is about to become a blocking-join
                # member, so partition the ONE identifiers materialization on
                # the block key here — group-stats, anchor join and candidate
                # generation all consume exactly this partitioning, which
                # deletes the edge stage's separate members exchange AND its
                # second full-corpus materialization (measured: the two
                # largest avoidable costs of the EXACT-only 10M retail run).
                identifiers_delta = identifiers_delta.repartition(*blocking.BLOCK_KEY)
            # output count folds into the SAME checkpoint job (second
            # Observation) — no separate count() pass over the delta
            identifiers_delta, n_delta_ids = _ckpt_count(identifiers_delta, "identifiers")
            if excl_obs is not None:
                res.values_excluded = excl_obs.get["n_input"] - n_delta_ids
                if res.values_excluded:
                    res.warnings.append(
                        f"{res.values_excluded} identifier values excluded (matched exclusion list)"
                    )
            # store maintenance: FULL overwrites; INCR replaces only delta
            # entities' rows (delete+insert on entity key, bucketed) — the
            # blocking join below consumes the FULL store without ever
            # re-deriving identifiers for unchanged entities.
            c.identifiers_filtered = self._maintain_store(
                c,
                T_IDENTIFIERS,
                identifiers_delta,
                keys=["table_id", "entity_key"],
                bucket_col="entity_key",
                approx_rows=n_delta_ids,
                full_df_fn=lambda: extract.apply_exclusions(
                    spark,
                    extract.extract_identifiers(spark, cfg, "FULL", {}, extract.load_sources(spark, cfg)),
                    cfg,
                ),
            )
            c.identifiers_delta = identifiers_delta
            # FULL / first-run: the store view IS the (already counted) delta.
            # INCR: the post-merge total isn't knowable until the store flush
            # commits (replaced-row count lives in the rewritten buckets), so
            # record the delta count now and backfill the exact store total
            # from pointer metadata after the flush — zero table-scan jobs on
            # the INCR critical path either way.
            res.identifiers_extracted = n_delta_ids
            c.ids_count_from_pointer = c.identifiers_filtered is not identifiers_delta
            rows(n_delta_ids)

    def _edge_building(self, c: _RunContext) -> None:
        spark, cfg, res = self.spark, self.cfg, c.res
        with c.stage("edge_building") as rows:
            if c.is_full:
                # FULL: every entity is a delta entity, so delta-values ∘
                # members-for-values is the identity on non-null identifiers —
                # skip the 2 corpus-sized semi-joins + distinct the INCR shape
                # needs (at 10M rows that's three avoided 40M-row shuffles)
                # the identifiers checkpoint is already hash-partitioned on the
                # block key (see identifier_extraction) — this projection is a
                # zero-exchange in-memory scan of it, and every consumer below
                # (group stats, anchor join, candidate pairs) inherits the
                # partitioning; no second materialization needed
                members = c.identifiers_filtered.filter(
                    F.col("identifier_value_norm").isNotNull()
                ).select("table_id", "entity_key", *blocking.BLOCK_KEY)
            else:
                delta_values = blocking.delta_identifier_values(
                    c.identifiers_filtered, c.entities_delta
                )
                members = blocking.members_for_delta_values(
                    c.identifiers_filtered, delta_values, cfg.salt_buckets
                )
                # INCR: materialize ONCE, hash-partitioned on the block key:
                # group_sizes, anchor_edges and candidate_pairs all consume
                # members on this key and reuse the exchange instead of
                # recomputing the blocking join
                members = members.repartition(*blocking.BLOCK_KEY).localCheckpoint(eager=True)
            c.members = members
            # singleton blocks (one member = a unique identifier value — the
            # overwhelming majority of distinct values at scale) produce no
            # pairs, no edges and no skip audit: drop them BEFORE the stats
            # materialization so the checkpoint and the per-block lineage
            # below scale with pair-PRODUCING blocks, not with corpus
            # cardinality (at 10M retail rows: ~20M singleton rows skipped;
            # their count remains observable via identifier_quality's
            # approx_distinct vs n_values).
            # the skipped-group COUNT folds into the sizes checkpoint job via
            # an Observation over the per-type max_group_size CASE (rules are
            # driver metadata) — the common all-valid run pays ZERO extra
            # jobs; the audit frame itself is only built (and sample keys
            # only sorted) on the rare count>0 path
            max_by_type = F.lit(None).cast("int")
            for r in cfg.active_rules():
                max_by_type = F.when(
                    F.col("identifier_type") == r.identifier_type,
                    F.lit(int(r.max_group_size or blocking.DEFAULT_MAX_GROUP_SIZE)),
                ).otherwise(max_by_type)
            skip_obs = Observation(f"skipped_{uuid.uuid4().hex[:8]}")
            c.sizes = (
                blocking.group_stats(members)
                .filter(F.col("group_size") >= 2)
                .observe(
                    skip_obs,
                    F.sum(
                        F.when(F.col("group_size") > max_by_type, 1).otherwise(0)
                    ).alias("n_skipped"),
                )
                .localCheckpoint(eager=True)
            )
            res.groups_skipped = int(skip_obs.get["n_skipped"] or 0)
            valid, skipped = blocking.split_by_group_size(spark, cfg, c.sizes, c.run_id)
            if res.groups_skipped:
                res.warnings.append(
                    f"{res.groups_skipped} identifier groups skipped (exceeded max_group_size)"
                )
                skipped_cols = skipped.columns
                skipped = (
                    skipped.drop("sample_entity_keys")
                    .join(blocking.sample_keys_for(members, skipped), blocking.BLOCK_KEY, "left")
                    .withColumn("sample_entity_keys", F.col("sample_keys").cast("string"))
                    .select(*skipped_cols)
                    .localCheckpoint(eager=True)
                )
            # the physical append joins the output_write flush pool instead of
            # paying a serial write job on the hot edge stage; with nothing
            # skipped it appends the (empty, schema-bearing) audit frame
            c.pending_appends.append((T_SKIPPED, skipped))

            edges_new = blocking.anchor_edges(valid, members, c.run_ts, salt_buckets=cfg.salt_buckets)
            if any(r.match_strategy == "SCORED" for r in cfg.active_rules()):
                edges_new = edges_new.unionByName(self._scored_edges(c, valid))

            c.edges_new, res.edges_created = _ckpt_count(edges_new, "edges_new")
            rows(res.edges_created)

    def _scored_edges(self, c: _RunContext, valid: DataFrame) -> DataFrame:
        """SCORED-rule edges of the edge_building stage: candidate pairs of
        the valid SCORED blocks, scored and thresholded. Sets
        ``candidate_pairs_scored`` and the per-block score histogram."""
        spark, cfg, cat, res = self.spark, self.cfg, self.catalog, c.res
        members = c.members
        texts_delta, texts_unique = self._entity_texts(c.loaded)
        if texts_delta is None:
            raise ValueError("SCORED rules configured but no source exposes match_text")
        # candidate pairs reference EXISTING members of delta blocks —
        # their match_text comes from the store, not a corpus re-read
        texts = self._maintain_store(
            c,
            T_ENTITY_TEXTS,
            texts_delta,
            keys=["entity_key"],
            bucket_col="entity_key",
            approx_rows=res.entities_processed,
            full_df_fn=lambda: self._entity_texts(extract.load_sources(spark, cfg))[0],
        )
        scored_rules = [r for r in cfg.active_rules() if r.match_strategy == "SCORED"]
        scored_types = [r.identifier_type for r in scored_rules]
        scorer_names = sorted({r.scorer for r in scored_rules})
        rule_meta = {r.rule_id: (float(r.threshold), r.scorer) for r in scored_rules}
        # entity-count gate for broadcasting the tokenized entity side
        # into the scoring join (the pair stream then never reshuffles
        # with token arrays). FULL already knows the count; INCR
        # derives an upper bound from catalog pointer metadata (prior
        # store rows + this delta's entities) — zero extra jobs, and
        # overestimating can only withhold a broadcast, never force
        # an oversized one. Exact only when every active source
        # exposes match_text AND one text row per entity (the
        # transcripts signature source declares both via
        # match_text_unique; undeclared sources get the defensive
        # dedup agg inside the scoring builders instead).
        if c.is_full:
            n_texts = res.entities_processed
        else:
            n_texts = (cat.row_count(T_ENTITY_TEXTS) or 0) + res.entities_processed
        broadcast_texts = n_texts <= cfg.score_broadcast_max_entities
        # score_dense=None → regime-adaptive: dense on real
        # multi-JVM masters (serialized shuffle — the A/B winner
        # there), classic on thread-local masters (shared heap)
        score_dense = cfg.score_dense
        if score_dense is None:
            score_dense = _dense_default_for_master(spark.sparkContext.master)
        use_dense = score_dense and set(scorer_names) <= {"token_jaccard"}
        # INCR: only delta-impacted block members ever get scored, so
        # tokenize/broadcast just THEIR texts (semi-join) — the
        # scoring-side text build is ∝ impacted set, not corpus (it
        # was the largest O(corpus) cost left on the INCR path:
        # classic scoring tokenized and broadcast the WHOLE store
        # every micro-batch). Candidate pairs only carry entity keys
        # from `members`, and every text attach is an INNER equi-join
        # on those keys, so the restriction is exact. FULL: every
        # entity is a member; skip the pointless semi-join.
        scoring_texts = texts
        if not c.is_full:
            member_keys = (
                members.filter(F.col("identifier_type").isin(scored_types))
                .select("entity_key")
                .distinct()
            )
            # the store read itself is bucket-PRUNED to the impacted
            # members' buckets (the text column is the widest in the
            # warehouse — a full-store scan per micro-batch would be
            # the INCR path's largest IO term at corpus scale); delta
            # rows then replace prior rows exactly like the
            # _maintain_store view
            prior_slice = cat.read_slice_for(
                T_ENTITY_TEXTS, member_keys, "entity_key", texts_delta.schema
            )
            scoring_texts = (
                prior_slice.join(
                    texts_delta.select("entity_key").distinct(), "entity_key", "left_anti"
                )
                .unionByName(texts_delta.select(*prior_slice.columns))
                .join(member_keys, "entity_key", "leftsemi")
            )
        # identical-text fingerprint (empty texts stay unique: an
        # empty-vs-empty pair is not evidence of identity). The dup-pairs
        # complement below needs GLOBAL fingerprints (a delta entity's
        # identical-text representative may live outside the impacted
        # blocks for non-signature sources) — a lazy projection over the
        # full text view, only materialized when emit_duplicate_text_pairs
        # is on.
        def _fp(tdf):
            return tdf.select(
                "entity_key",
                F.when(
                    F.length(F.trim(F.col("match_text"))) > 0,
                    F.xxhash64("match_text"),
                ).alias("fp"),
            )

        if use_dense:
            # ---- dense long-id path: fixed-width shuffles
            entity_side = scoring.build_entity_side(scoring_texts, texts_unique=texts_unique)
            members_e = blocking.dedup_scored_members_dense(members, entity_side, scored_types)
            # candidate generation joins members_e against itself (the
            # a-side and b-side of the block self-join): lazy
            # localCheckpoint = one evaluation of the member⋈entity
            # join + dedup agg, no extra action, and a leaf plan for
            # both references
            members_e = members_e.localCheckpoint(eager=False)
            rid_map = scoring.rid_map_df(spark, scored_rules)
            pairs_dense = blocking.candidate_pairs_dense(
                valid,
                members_e,
                rid_map,
                entity_side,
                salt_buckets=cfg.salt_buckets,
                all_pairs_max=cfg.scored_all_pairs_max,
            )
            scored_dense = scoring.score_pairs_dense(
                pairs_dense, entity_side, rid_map, broadcast_toks=broadcast_texts
            )
            scored_dense, res.candidate_pairs_scored = _ckpt_count(scored_dense, "scored_pairs")
            block_dim = scoring.block_dim_df(valid.filter(F.col("match_strategy") == "SCORED"))
            scored_hist = scoring.score_histogram_dense(scored_dense, block_dim)
            edges_scored = scoring.scored_edges_dense(
                scored_dense, entity_side, block_dim, rid_map, c.run_ts,
                broadcast_dims=broadcast_texts,
            )
        else:
            # ---- classic string path (any scorer). Member dedup only
            # needs fingerprints for IMPACTED members (inner join) —
            # hash the scoped text set
            pairs = blocking.candidate_pairs(
                valid,
                blocking.dedup_scored_members(members, _fp(scoring_texts), scored_types),
                salt_buckets=cfg.salt_buckets,
                all_pairs_max=cfg.scored_all_pairs_max,
            )
            scored_pairs = scoring.score_candidate_pairs(
                pairs,
                scoring_texts,
                scorers=scorer_names,
                rule_meta=rule_meta,
                broadcast_texts=broadcast_texts,
                texts_unique=texts_unique,
            )
            scored_pairs, res.candidate_pairs_scored = _ckpt_count(scored_pairs, "scored_pairs")
            scored_hist = scoring.score_histogram(scored_pairs)
            edges_scored = scoring.scored_edges(scored_pairs, c.run_ts)
        if cfg.emit_duplicate_text_pairs:
            # linear complement of the dedup: every dropped duplicate
            # links to its fingerprint group's representative with a
            # pre-scored 1.0 pair (identical payload ⟹ score 1.0 —
            # skipping the scorer is exact, not an approximation)
            dup_rule = min(scored_rules, key=lambda r: r.priority)
            dup_scored = blocking.duplicate_text_pairs(
                _fp(texts), delta_keys=c.entities_delta
            ).select(
                F.lit(dup_rule.rule_id).alias("rule_id"),
                "left_entity_key",
                "right_entity_key",
                F.lit(dup_rule.identifier_type).alias("identifier_type"),
                F.concat(F.lit("dup:"), F.hex("fp")).alias("identifier_value_norm"),
                F.lit(float(dup_rule.threshold)).alias("threshold"),
                F.lit(dup_rule.scorer).alias("scorer"),
                F.lit(1.0).alias("score"),
            )
            dup_scored, n_dup = _ckpt_count(dup_scored, "dup_pairs")
            res.candidate_pairs_scored += n_dup
            scored_hist = scored_hist.unionByName(scoring.score_histogram(dup_scored))
            edges_scored = edges_scored.unionByName(scoring.scored_edges(dup_scored, c.run_ts))
        c.scored_hist = scored_hist
        return edges_scored

    def _edge_merge(self, c: _RunContext) -> None:
        """Merge edges (S5). FULL defers the overwrite to the output_write
        flush; INCR merges eagerly in its own ``edge_merge`` stage; a dry run
        clusters over the view ``edges_current ∪ edges_new`` instead."""
        spark, cfg, cat, res = self.spark, self.cfg, self.catalog, c.res
        if c.mode == "FULL":
            # the checkpointed edges ARE the post-overwrite content: consume
            # them in-memory (LP reads the edge set 2-3×; a parquet write +
            # re-read here puts ~2 table scans back on the critical path) and
            # defer the physical overwrite to the output_write batch flush.
            # Resume-safe: run_state advances only after the flush, so an
            # interrupted run re-derives the same edges idempotently.
            c.queue(c.pending_stores, (
                T_EDGES, "overwrite", c.edges_new, _EDGE_KEYS, "left_entity_key", res.edges_created,
            ))
            c.edges_current = c.edges_new
            return
        # connectivity changes only where a pair's endpoints are NOT
        # already co-clustered: re-derived edges of re-signed watermark-
        # boundary entities (and new rule-edges inside an existing
        # cluster) only refresh last_seen_ts in the MERGE — they must not
        # drag their whole (possibly huge) clusters into the recluster.
        # Testing membership rather than the edge store is also
        # CRASH-SAFE: a prior run that merged edges but failed before
        # publishing membership leaves those pairs non-co-clustered, so
        # the re-run still reclusters them (an edge-store anti-join would
        # see them as "already known" and strand them unclustered).
        # Bucket-pruned membership lookup + delta-sized joins,
        # checkpointed before any store pointer moves.
        c.new_pairs = _graph_changing_pairs(
            c.edges_new,
            cat.read_slice_for(
                T_MEMBERSHIP,
                graph.impacted_nodes(c.edges_new),
                "entity_key",
                schema_str(_MEMBERSHIP_SCHEMA, spark),
            ),
        ).localCheckpoint(eager=True)
        if c.dry_run:  # no production writes: cluster over the union view
            prior = cat.read(T_EDGES, schema_str(_EDGE_SCHEMA, spark))
            c.edges_current = prior.unionByName(c.edges_new).dropDuplicates(_EDGE_KEYS)
            return
        # eager (unlike FULL's deferred overwrite): LP + confidence read
        # the post-merge store next. Timed as its own stage — at corpus
        # scale this commit, not the scoring, caps INCR latency; merge-on-
        # read keeps it O(delta) (see sources/catalog.py merge-on-read).
        with c.stage("edge_merge") as rows:
            cat.merge_upsert(
                T_EDGES, c.edges_new, keys=_EDGE_KEYS, update_cols=["last_seen_ts"],
                bucket_col="left_entity_key", merge_on_read=True,
            )
            edges_current = cat.read(T_EDGES)
            # LP's subgraph and confidence's edge stats both scan the
            # post-merge store; each scan re-pays the read AND the MoR
            # reconciliation anti-join. Under the size gate, a lazy
            # localCheckpoint materializes it once on first use and every
            # later consumer reads blocks (freed when unreferenced).
            n_store = cat.row_count(T_EDGES)
            if (
                cfg.incr_edge_materialize_max_rows > 0
                and n_store is not None
                and n_store <= cfg.incr_edge_materialize_max_rows
            ):
                edges_current = edges_current.localCheckpoint(eager=False)
            c.edges_current = edges_current
            rows(res.edges_created)

    def _label_propagation(self, c: _RunContext) -> None:
        """Subgraph + connected components (stages 30/31); raises
        ConvergenceError (after recording the FAILED run) on non-convergence."""
        spark, cfg, cat, res = self.spark, self.cfg, self.catalog, c.res
        with c.stage("label_propagation") as rows:
            membership_current = cat.read(T_MEMBERSHIP, schema_str(_MEMBERSHIP_SCHEMA, spark))
            if c.mode == "FULL":
                # full rerun: every node, every edge (sql/common/90_full_rerun.sql).
                # The node universe is the CHECKPOINTED entity frame (one row
                # per entity by construction), not DISTINCT over the doubled
                # edge endpoints — endpoints ⊆ entities, and the extra
                # isolated entities label as themselves, which is exactly
                # what the singleton fallback would assign them (its
                # anti-join just goes empty); final membership is identical
                # while CC setup drops a full edge-scan exchange.
                nodes = c.entities_delta.select("entity_key")
                sub_edges = c.edges_current
            else:
                # impacted = endpoints of truly-NEW pairs only (re-derived
                # existing edges don't change components — sql/common/30's
                # edges_new semantics, restricted to graph-changing rows)
                impacted = graph.impacted_nodes(c.new_pairs)
                # steady-state invariant at this call site: committed edges
                # never cross clusters (see _graph_changing_pairs for the
                # crash-retry argument; the flush commits membership LAST so
                # every partial-commit window re-qualifies on retry) — 1-hop
                # + the right-endpoint restriction are provably redundant,
                # saving ~4 edge-store scans per INCR run. The invariant can
                # break when MATCH SEMANTICS changed since the last committed
                # run (old edges may cross clusters the new rules would not
                # form), so the first INCR under a changed match_signature
                # takes the safe 1-hop + both-endpoint form instead.
                fast_ok = self._last_match_signature() == c.run_sig
                if not fast_ok:
                    res.warnings.append(
                        "match semantics changed since last committed run "
                        "(or no signature recorded): using safe subgraph "
                        "edge restriction for this run"
                    )
                nodes, sub_edges = graph.subgraph(
                    c.edges_current, impacted, membership_current,
                    members_cover_edges=fast_ok,
                )
            cc = graph.connected_components(
                nodes,
                sub_edges,
                algorithm=cfg.cc_algorithm,
                max_iters=cfg.max_iters,
                edge_count_hint=res.edges_created,
                # bounded driver union-find fast path under the cap — gated
                # on the MEASURED edge count, not the mode: INCR subgraphs
                # are delta-sized by design; a FULL graph qualifies only when
                # the corpus itself is tiny (corpus-scale graphs always
                # exceed the cap and run distributed).
                local_max_edges=cfg.cc_local_max_edges,
            )
            res.lp_iterations = cc.iterations
            res.lp_converged = cc.converged
            res.cc_path = cc.path
            res.cc_rounds = cc.rounds
            if not cc.converged:
                # HARD FAIL (≙ IDR_Run.py:493-494): no membership/cluster/golden
                # MERGE may run on non-converged labels. Record the failed run
                # for observability, then raise. In INCR mode edges were merged
                # eagerly above — valid facts (idempotent MERGE, independent of
                # clustering); in FULL mode the edge overwrite is DEFERRED to
                # the output_write flush, so a non-converged FULL run publishes
                # no edges at all (intended: more atomic). The watermark has
                # NOT advanced either way, so the next run reprocesses the
                # same delta cleanly from the prior snapshot boundary.
                res.status = "FAILED"
                res.warnings.append(
                    f"label propagation did not converge in {cc.iterations} iterations"
                )
                res.duration_seconds = round(time.time() - c.t0, 3)
                for n_, d_ in c.pending_appends:  # audit rows still land
                    cat.append(n_, d_)
                c.pending_appends = []
                self._record_history(res, c.run_ts, c.stage_rows)
                raise ConvergenceError(
                    f"run {c.run_id}: label propagation did not converge within "
                    f"{cc.iterations} iterations (algorithm={cfg.cc_algorithm}, "
                    f"max_iters={cfg.max_iters}); no membership was published"
                )
            c.labels, c.n_labels = _ckpt_count(cc.labels, "labels")
            rows(c.n_labels)

    def _membership_update(self, c: _RunContext) -> None:
        """Membership + clusters (stages 40/41/42)."""
        spark, cat, res = self.spark, self.catalog, c.res
        full = c.mode == "FULL"
        with c.stage("membership_update") as rows:
            updates = membership.membership_updates(
                c.labels,
                c.entities_delta,
                c.run_ts,
                prior_members=(
                    None
                    if full
                    else cat.read_slice_for(
                        T_MEMBERSHIP, c.entities_delta, "entity_key",
                        schema_str(_MEMBERSHIP_SCHEMA, spark),
                    )
                ),
            )
            c.updates = updates = updates.localCheckpoint(eager=True)
            # FULL: same deferral as T_EDGES — the checkpointed updates ARE
            # the post-overwrite table; keep the sink write out of the
            # critical path (cluster sizes/confidence/golden all read
            # membership 2-3×). INCR: defer to the concurrent flush too —
            # every downstream consumer reads the checkpointed updates frame
            # (see below), so nothing waits on the store commit (full-row
            # upsert on the key ≡ delete+insert by key)
            c.queue(c.pending_stores, (
                T_MEMBERSHIP, "overwrite" if full else "delete_insert", updates,
                ["entity_key"], "entity_key", res.entities_processed if full else c.n_labels,
            ))
            # The checkpointed updates frame IS the impacted-cluster
            # membership in EVERY mode: FULL relabels everyone, and INCR's
            # full-touched-cluster subgraph superset relabels every member of
            # every impacted cluster (an outside entity can't share a new
            # resolved_id: min-keys belong to exactly one component). So the
            # three downstream consumers (sizes / edge stats / golden) run on
            # the delta-sized frame with NO restriction semi-join and NO
            # O(corpus) membership read on the INCR critical path —
            # edges_current supplies incident edges via joins against the
            # broadcast-sized updates.
            c.csizes = membership.cluster_sizes(updates, None, c.run_ts)
            estats = confidence.cluster_edge_stats(updates, c.edges_current, None)
            # cluster_confidence checkpoints its density frame internally
            # (max_div Observation); return_count rides the SAME job — the
            # second materialize+count this stage used to pay is gone, and
            # every consumer (golden dimension, clusters flush) runs the
            # narrow final projection over that checkpoint
            c.conf, res.clusters_impacted = confidence.cluster_confidence(
                c.csizes, estats, c.run_ts, return_count=True
            )
            # conf is checkpointed — both modes defer the commit to the
            # concurrent flush (INCR: delete+insert of impacted clusters)
            c.queue(c.pending_stores, (
                T_CLUSTERS, "overwrite" if full else "delete_insert", c.conf,
                ["resolved_id"], "resolved_id", res.clusters_impacted,
            ))
            rows(res.clusters_impacted)

    def _golden_profile(self, c: _RunContext) -> None:
        """Golden profile (stage 50)."""
        spark, cfg = self.spark, self.cfg
        with c.stage("golden_profile") as rows:
            if not cfg.attributes:
                return
            attrs_delta = golden.build_entities_all(spark, cfg, c.loaded)
            # survivorship ranks ALL members of impacted clusters — old
            # members' attributes come from the store (delta-maintained)
            entities_all = self._maintain_store(
                c,
                T_ENTITY_ATTRS,
                attrs_delta,
                keys=["entity_key", "table_id"],
                bucket_col="entity_key",
                approx_rows=c.res.entities_processed * max(1, len(cfg.attributes)),
                full_df_fn=lambda: golden.build_entities_all(
                    spark, cfg, extract.load_sources(spark, cfg)
                ),
            )
            gold = golden.golden_updates(
                spark, cfg, entities_all, c.updates, None, c.run_ts,
                # the checkpointed confidence frame is exactly one row per
                # (impacted) cluster in every mode — free dimension
                cluster_ids=c.conf,
            )
            gold, n_gold = _ckpt_count(gold, "golden")
            c.queue(c.pending_stores, (
                T_GOLDEN, "overwrite" if c.mode == "FULL" else "delete_insert", gold,
                ["resolved_id"], "resolved_id", n_gold,
            ))
            rows(n_gold)

    def _output_write(self, c: _RunContext) -> None:
        """Audit + lineage + the deferred store flush + run_state (stages
        60/70)."""
        cat, res, run_id, run_ts = self.catalog, c.res, c.run_id, c.run_ts
        with c.stage("output_write") as rows:
            audit = (
                c.edges_new.groupBy("rule_id")
                .agg(F.count(F.lit(1)).alias("edges_created"))
                .select(
                    F.lit(run_id).alias("run_id"),
                    "rule_id",
                    "edges_created",
                    F.lit(run_ts).cast("timestamp").alias("started_at"),
                    F.current_timestamp().alias("ended_at"),
                )
            )

            # identifier quality profile (≙ idr_out.identifier_quality,
            # sql/common/02_ddl_observability.sql — a per-RUN table): per
            # type, volume / cardinality / reuse — the signals that catch a
            # degenerate blocking key before it melts a partition. Scoped to
            # THIS run's extracted (checkpointed) identifiers: profiling the
            # whole store again every micro-batch would be an O(corpus) scan
            # on the INCR critical path for a per-run observability row.
            quality = (
                c.identifiers_delta.groupBy("identifier_type")
                .agg(
                    F.count(F.lit(1)).alias("n_values"),
                    F.approx_count_distinct("identifier_value_norm").alias("approx_distinct"),
                    F.approx_count_distinct("entity_key").alias("approx_entities"),
                )
                .select(
                    F.lit(run_id).alias("run_id"),
                    "identifier_type",
                    "n_values",
                    "approx_distinct",
                    "approx_entities",
                    F.round(
                        F.col("n_values").cast("double")
                        / F.greatest(F.lit(1), F.col("approx_distinct")),
                        3,
                    ).alias("avg_group_size_est"),
                    F.lit(run_ts).cast("timestamp").alias("computed_at"),
                )
            )

            # per-partition lineage: one row per pair-producing block (block
            # id, pair count, score histogram, cluster delta) — north-rule
            # observability. Singleton blocks are excluded upstream (see the
            # sizes filter in edge_building): at corpus scale they are ~90% of
            # distinct values and carry zero matching signal.
            lineage = c.sizes.select(
                F.lit(run_id).alias("run_id"),
                F.sha2(F.concat_ws("§", "identifier_type", "identifier_value_norm"), 256).alias("block_id"),
                "identifier_type",
                F.col("group_size"),
                (F.col("group_size") - F.lit(1)).alias("pair_count"),
            )
            if c.scored_hist is not None:
                hist = c.scored_hist.select(
                    F.sha2(F.concat_ws("§", "identifier_type", "identifier_value_norm"), 256).alias("block_id"),
                    F.col("pair_count").alias("scored_pair_count"),
                    "score_histogram",
                )
                lineage = lineage.join(hist, "block_id", "left")
            else:
                lineage = lineage.withColumn("scored_pair_count", F.lit(None).cast("long")).withColumn(
                    "score_histogram", F.lit(None).cast("string")
                )
            lineage = lineage.withColumn("cluster_delta", F.lit(res.clusters_impacted))

            # run_state / engine_config_state are one-row-per-source state
            # tables whose content the driver already holds (the watermark
            # maxes rode the entity checkpoint's Observation): driver-side
            # MERGE after the flush, zero Spark jobs. engine_config_state
            # records the match semantics this committed state was built
            # under — the next INCR compares and falls back to the safe
            # subgraph restriction if they differ
            wm_rows = [
                (tid, wm, run_id, run_ts) for tid, wm in c.wm_by_table.items() if wm is not None
            ]
            if wm_rows:
                c.queue(c.pending_state, (T_RUN_STATE, wm_rows, ["table_id"], _RUN_STATE_SCHEMA))
            c.queue(c.pending_state, (
                T_CONFIG_STATE, [("match_signature", c.run_sig, run_id)], ["k"],
                "k string, v string, last_run_id string",
            ))

            # the exact store total exists only once the identifier store
            # commits (a dry run queues no commit)
            ids_committed = any(e[0] == T_IDENTIFIERS for e in c.pending_stores)
            self._flush(c, [(T_AUDIT, audit), (T_IDENTIFIER_QUALITY, quality), (T_LINEAGE, lineage)])
            if c.ids_count_from_pointer and ids_committed:
                # INCR metric backfill: exact post-merge store total from the
                # just-committed pointer (per-bucket footer counts) — replaces
                # the O(table) count scan that used to run mid-extract
                res.identifiers_extracted = (
                    cat.row_count(T_IDENTIFIERS) or res.identifiers_extracted
                )
            # store-commit observability: how much of each bucketed table this
            # run actually rewrote (≙ Iceberg snapshot summary changed-
            # partition counts) — INCR health is "fraction ≪ 1".
            res.store_commits = dict(cat.last_commit_stats)
            if res.store_commits:
                # driver-held scalars → driver-side parquet append (zero jobs)
                cat.append_rows(
                    "store_commit_metrics",
                    [
                        (run_id, t, s_["n_buckets"], s_["touched_buckets"],
                         s_["rewritten_fraction"], run_ts)
                        for t, s_ in res.store_commits.items()
                    ],
                    "run_id string, table_name string, n_buckets int, touched_buckets int, "
                    "rewritten_fraction double, run_ts timestamp",
                )
            for name, state_rows, keys, schema in c.pending_state:
                cat.merge_upsert_rows(name, state_rows, keys=keys, schema=schema)
            c.pending_state = []
            rows(0)

    def _flush(self, c: _RunContext, appends: list[tuple]) -> None:
        """Flush deferred store commits BEFORE the watermark advances: an
        interrupted flush re-derives and re-merges the same delta next run
        (idempotent delete+insert), never losing entities.

        Each pending store targets its own table dir/pointer. FULL-mode
        overwrite frames are already checkpointed; INCR delete_insert deltas
        may still hold lazy plans (recomputed here, off the hot stages) —
        submit the write jobs from a small thread pool so Spark schedules
        them concurrently (the writes are IO-heavy with idle cores between
        stages; overlapping them cuts the flush wall time at every
        parallelism level). The observability appends (``appends`` plus the
        queued ones) read only checkpointed frames and target their own
        append tables, so they join the same pool instead of running serially
        ahead of it. setJobGroup is thread-local, so each worker re-tags its
        own thread for UI attribution.

        COMMIT-ORDER BARRIER (publish-phase only): T_MEMBERSHIP's POINTER
        publishes LAST, strictly after every other store/append publish
        succeeded. The INCR retry's recluster scope is gated on membership
        co-clustering (_graph_changing_pairs): if a crash left membership
        PUBLISHED but clusters/golden UNpublished, the retry would see the
        pairs already co-clustered, find an empty impacted set, and never
        recompute the downstream tables — permanently stale. With the
        membership pointer last, any crash window that leaves a downstream
        table unpublished also leaves membership unpublished, so the retry
        re-qualifies the pairs and re-derives everything (idempotent
        delete+insert). Only the atomic pointer swap is ordered: the
        membership WRITE work overlaps the rest of the pool (defer_publish —
        sources/catalog.py)."""
        spark, cat = self.spark, self.catalog
        deferred_publish: list = []

        def _flush_one(entry):
            spark.sparkContext.setJobGroup(
                "output_write", f"idr store flush {entry[1]}", False
            )
            if entry[0] == "append":
                _, st_name, st_df = entry
                cat.append(st_name, st_df)
            else:
                _, st_name, st_op, st_df, st_keys, st_bucket, st_rows = entry
                defer = st_name == T_MEMBERSHIP
                if st_op == "overwrite":
                    pub = cat.overwrite(
                        st_name, st_df, bucket_col=st_bucket, defer_publish=defer,
                        approx_rows=st_rows,
                    )
                else:
                    pub = cat.delete_insert(
                        st_name, st_df, keys=st_keys, bucket_col=st_bucket,
                        merge_on_read=True, defer_publish=defer,
                        approx_rows=st_rows,
                    )
                if pub is not None:
                    deferred_publish.append(pub)

        flush_tasks = (
            [("append", n_, d_) for n_, d_ in appends + c.pending_appends]
            + [("store", *entry) for entry in c.pending_stores]
        )
        n_flush = max(1, int(self.cfg.flush_max_workers))
        if len(flush_tasks) > 1 and n_flush > 1:
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=min(n_flush, len(flush_tasks))) as ex:
                list(ex.map(_flush_one, flush_tasks))
        else:
            for entry in flush_tasks:
                _flush_one(entry)
        # every other table's pointer is live; now (and only now) swap
        # the membership pointer — a failure anywhere above skips this,
        # which is exactly the crash window the retry logic handles
        for pub in deferred_publish:
            pub()
        c.pending_stores = []
        c.pending_appends = []

    def _dry_run_diff(self, c: _RunContext) -> None:
        """NEW/MOVED/UNCHANGED diff of a dry run (idr_run.py:705-746)."""
        spark, cat, res = self.spark, self.catalog, c.res
        with c.stage("dry_run_diff") as rows:
            prior_membership = cat.read(T_MEMBERSHIP, schema_str(_MEMBERSHIP_SCHEMA, spark))
            prior_clusters = cat.read(T_CLUSTERS, schema_str(_CLUSTERS_SCHEMA, spark))
            diff = membership.dry_run_diff(
                c.updates, prior_membership, prior_clusters, c.csizes, c.entities_delta, c.run_id
            ).localCheckpoint(eager=True)
            cat.append(T_DRY_RESULTS, diff)
            counts = {r["change_type"]: r["n"] for r in diff.groupBy("change_type").agg(F.count(F.lit(1)).alias("n")).collect()}
            largest = c.csizes.agg(F.max("cluster_size").alias("m")).first()["m"] or 0
            summary = spark.createDataFrame(
                [(
                    c.run_id,
                    sum(counts.values()),
                    counts.get("NEW", 0),
                    counts.get("MOVED", 0),
                    counts.get("UNCHANGED", 0),
                    int(largest),
                    res.edges_created,
                    res.groups_skipped,
                    res.values_excluded,
                    float(round(time.time() - c.t0, 3)),
                )],
                "run_id string, total_entities bigint, new_entities bigint, moved_entities bigint, "
                "unchanged_entities bigint, largest_proposed_cluster bigint, edges_would_create bigint, "
                "groups_would_skip bigint, values_would_exclude bigint, execution_time_seconds double",
            )
            cat.append(T_DRY_SUMMARY, summary)
            rows(sum(counts.values()))

    def _finalize(self, c: _RunContext) -> RunResult:
        """run_history / stage_metrics / metrics_export."""
        res, run_id = c.res, c.run_id
        res.duration_seconds = round(time.time() - c.t0, 3)
        res.status = (
            "DRY_RUN_COMPLETE" if c.dry_run else ("SUCCESS_WITH_WARNINGS" if res.warnings else "SUCCESS")
        )
        self._record_history(res, c.run_ts, c.stage_rows)
        exported_at = datetime.now(timezone.utc).replace(tzinfo=None)
        metrics = [
            (run_id, "idr_run_duration_seconds", float(res.duration_seconds), "gauge", exported_at),
            (run_id, "idr_entities_processed", float(res.entities_processed), "gauge", exported_at),
            (run_id, "idr_edges_created", float(res.edges_created), "counter", exported_at),
            (run_id, "idr_clusters_impacted", float(res.clusters_impacted), "gauge", exported_at),
            (run_id, "idr_lp_iterations", float(res.lp_iterations), "gauge", exported_at),
            (run_id, "idr_groups_skipped", float(res.groups_skipped), "counter", exported_at),
        ]
        self.catalog.append_rows(
            T_METRICS,
            metrics,
            "run_id string, metric_name string, metric_value double, metric_type string, "
            "exported_at timestamp",
        )
        return res

    def _record_history(self, res: RunResult, run_ts, stage_rows: list[tuple]) -> None:
        """Append run_history + stage_metrics (shared by the success finalize
        and the non-convergence failure path). Both are a handful of rows the
        driver already holds — append_rows writes them with zero Spark jobs
        (one serial write job each, ~1 s/run of pure scheduler floor before)."""
        self.catalog.append_rows(
            T_RUN_HISTORY,
            [(
                res.run_id, res.mode, bool(res.dry_run), res.status, run_ts,
                float(res.duration_seconds),
                int(res.entities_processed), int(res.edges_created), int(res.clusters_impacted),
                int(res.lp_iterations), int(res.groups_skipped), int(res.values_excluded),
                json.dumps(res.warnings) if res.warnings else None,
            )],
            "run_id string, run_mode string, dry_run boolean, status string, started_at timestamp, "
            "duration_seconds double, entities_processed bigint, edges_created bigint, "
            "clusters_impacted bigint, lp_iterations int, groups_skipped bigint, "
            "values_excluded bigint, warnings string",
        )
        if stage_rows:
            self.catalog.append_rows(
                T_STAGE_METRICS,
                [(r[0], r[1], int(r[2]), float(r[3]), r[4]) for r in stage_rows],
                "run_id string, stage string, rows bigint, seconds double, run_ts timestamp",
            )


def schema_str(s: str, spark: SparkSession):
    from pyspark.sql.types import StructType

    return StructType.fromDDL(s)


def _graph_changing_pairs(edges_new, prior_members):
    """Endpoint pairs of ``edges_new`` whose endpoints are NOT already
    co-clustered in ``prior_members`` — the rows that actually change graph
    connectivity. A pair whose endpoints share a resolved_id contributes
    nothing to the recluster (components are unions of endpoint pairs);
    either endpoint missing or differing means the pair must recluster —
    which also makes crash recovery exact: edges merged by a failed run that
    never published membership re-qualify here on the retry."""
    pair_cols = ["left_entity_key", "right_entity_key"]
    ml = prior_members.select(
        F.col("entity_key").alias("left_entity_key"), F.col("resolved_id").alias("_rl")
    )
    mr = prior_members.select(
        F.col("entity_key").alias("right_entity_key"), F.col("resolved_id").alias("_rr")
    )
    return (
        edges_new.select(*pair_cols)
        .distinct()
        .join(ml, "left_entity_key", "left")
        .join(mr, "right_entity_key", "left")
        .where(F.col("_rl").isNull() | F.col("_rr").isNull() | (F.col("_rl") != F.col("_rr")))
        .select(*pair_cols)
    )
