"""Configuration-as-data: the engine's "query language".

The reference drives the whole pipeline from metadata tables
(``/root/reference/sql/common/00_ddl_meta.sql:4-68``): ``source_table``, ``rule``,
``identifier_mapping``, ``identifier_exclusion``, ``survivorship_rule``, ``source``
(trust ranks), ``run_state``. We keep the same shapes as plain dataclasses; the
expression fields (``entity_key_expr``, ``identifier_value_expr``, ``attribute_expr``)
are SQL expressions evaluated with ``F.expr`` against the per-source DataFrame —
the same splice-expressions-from-metadata trick, natively supported by Catalyst.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

DEFAULT_MAX_GROUP_SIZE = 10_000  # reference default: sql/common/00_ddl_meta.sql:37


@dataclass
class SourceTable:
    """≙ idr_meta.source_table (sql/common/00_ddl_meta.sql:4-12).

    ``path`` points at a parquet file/dir; alternatively pass ``reader`` for a
    custom loader (e.g. the transcripts signature source, an Iceberg table, a view).
    """

    table_id: str
    entity_key_expr: str
    watermark_column: str
    path: Optional[str] = None
    reader: Optional[Callable[[SparkSession], DataFrame]] = None
    delta_reader: Optional[Callable[[SparkSession, object], DataFrame]] = None
    watermark_lookback_minutes: int = 0
    is_active: bool = True
    # source-declared contract: this source emits AT MOST ONE match_text row
    # per entity key. entity_key is always table_id-prefixed (see
    # extract.entity_key_col), so when every active text-bearing source
    # declares this, the unioned text table is globally unique per entity and
    # the scoring paths skip their defensive one-row-per-entity dedup — a
    # corpus-wide sort-aggregate over full texts (measured: +2,000 task-s at
    # 400k conversations, the single hottest avoidable plan node). Sources
    # that derive one row per entity by construction (the transcripts
    # signature build groups by conv_id) set it; dirty/unknown sources leave
    # it False and pay the dedup.
    match_text_unique: bool = False

    def load(self, spark: SparkSession) -> DataFrame:
        if self.reader is not None:
            return self.reader(spark)
        if self.path is None:
            raise ValueError(f"source_table {self.table_id}: need path or reader")
        return spark.read.parquet(self.path)

    def load_delta(self, spark: SparkSession, since) -> DataFrame:
        """Entity rows whose watermark ≥ ``since`` — the INCR unit of work.

        Derived sources (e.g. transcripts signatures) supply ``delta_reader``
        so the expensive derivation runs ONLY over delta entities instead of
        being recomputed corpus-wide and filtered after (the filter would
        prune the UDF but not the corpus-wide aggregation feeding it). Plain
        tables get a pushed-down watermark predicate."""
        from pyspark.sql import functions as F

        if self.delta_reader is not None:
            return self.delta_reader(spark, since)
        return self.load(spark).filter(F.col(self.watermark_column) >= F.lit(since))


@dataclass
class Rule:
    """≙ idr_meta.rule (sql/common/00_ddl_meta.sql:30-40).

    ``match_strategy``:
      - ``EXACT``    — reference behavior: equal normalized value ⇒ edge.
      - ``SCORED``   — new fuzzy layer: blocks are *candidate* groups; pairs must
        pass a vectorized similarity ``scorer`` ≥ ``threshold`` to become edges
        (per BASELINE.json north_star: LSH bands + batched scoring).
    """

    rule_id: str
    identifier_type: str
    rule_name: str = ""
    is_active: bool = True
    priority: int = 1
    canonicalize: str = "NONE"  # NONE | LOWERCASE | UPPERCASE | DIGITS
    allow_hashed: bool = True
    require_non_null: bool = True
    max_group_size: int = DEFAULT_MAX_GROUP_SIZE
    match_strategy: str = "EXACT"  # EXACT | SCORED
    scorer: str = "token_jaccard"  # token_jaccard | levenshtein_ratio | jaro_winkler
    threshold: float = 0.0


@dataclass
class IdentifierMapping:
    """≙ idr_meta.identifier_mapping (sql/common/00_ddl_meta.sql:42-48).

    ``identifier_value_expr`` is a SQL expression over the source's entity-level
    DataFrame. If ``explodes=True`` the expression must produce ``array<string>``
    and each element becomes one identifier row (used for LSH band-key arrays,
    where values are pre-prefixed ``band_idx:hash`` so bands never cross-match).
    """

    table_id: str
    identifier_type: str
    identifier_value_expr: str
    is_hashed: bool = False
    explodes: bool = False


@dataclass
class Exclusion:
    """≙ idr_meta.identifier_exclusion (sql/duckdb/core/00_ddl_all.sql:181-194)."""

    identifier_type: str
    identifier_value_pattern: str
    match_type: str = "EXACT"  # EXACT | LIKE
    reason: str = ""


@dataclass
class AttributeMapping:
    """Golden-profile attribute source (≙ entity_attribute_mapping +
    the DESCRIBE-based column discovery in sql/duckdb/core/idr_run.py:584-594,
    made explicit instead of dynamic).

    ``strategy``: TRUST_RECENCY (trust_rank ASC, recency DESC —
    sql/common/50_build_golden_profile_incremental.sql:50-53) or
    MOST_RECENT (recency DESC only — :74-77).
    """

    attribute_name: str
    table_id: str
    attribute_expr: str
    strategy: str = "MOST_RECENT"  # MOST_RECENT | TRUST_RECENCY


@dataclass
class SourceTrust:
    """≙ idr_meta.source trust ranks (sql/common/50:25-30)."""

    table_id: str
    source_name: str = ""
    trust_rank: int = 9999
    is_active: bool = True


@dataclass
class EngineConfig:
    """Everything one pipeline instance needs. ``warehouse`` is the root dir of the
    versioned catalog (≙ the reference's idr_out/idr_meta persistent schemas)."""

    warehouse: str
    sources: list[SourceTable] = field(default_factory=list)
    rules: list[Rule] = field(default_factory=list)
    mappings: list[IdentifierMapping] = field(default_factory=list)
    exclusions: list[Exclusion] = field(default_factory=list)
    attributes: list[AttributeMapping] = field(default_factory=list)
    trust: list[SourceTrust] = field(default_factory=list)
    max_iters: int = 30  # reference default MAX_ITERS (idr_run.py:37)
    cc_algorithm: str = "auto"  # hash_min | star | auto (star above threshold)
    # Small-graph fast path: when the graph to cluster fits under this many
    # edges (a bounded, Arrow-batched collect — ~40 MB of keys at the
    # default, union-find ~1.4 s), run union-find on the driver instead of
    # paying the distributed loop's O(diameter) scheduler round-trips
    # (~10-15 s fixed floor). The gate is the MEASURED edge count (the same
    # size-adaptive principle as AQE's broadcast threshold), so corpus-scale
    # FULL graphs always exceed it and run distributed; INCR subgraphs are
    # delta-sized by design and usually qualify regardless of corpus size.
    # Same labels either way, limit-guarded collect with automatic
    # distributed fallback. 0 disables.
    cc_local_max_edges: int = 500_000
    salt_buckets: int = 0  # >0: salt the blocking join on hot keys
    # concurrent writers in the output_write flush pool (stores + the three
    # observability appends). Overlapping IO-heavy write jobs cuts flush wall
    # time, but each in-flight job holds executor memory for its shuffle/agg;
    # on heap-constrained single-JVM deployments (local mode shares one heap
    # across all executor threads) lower this before lowering heap headroom —
    # the flush degrades gracefully to serial at 1. 8 covers the seven store
    # sinks + observability appends now that membership's write joins the
    # pool (two-phase publish) instead of running after it.
    flush_max_workers: int = 8
    # SCORED blocks up to this size score ALL pairs (full within-block recall);
    # larger blocks fall back to anchor-star — see blocking.candidate_pairs
    scored_all_pairs_max: int = 64
    # SCORED blocks collapse identical-match_text members to one
    # representative before pair generation (blocking.dedup_scored_members);
    # this links the dropped copies with linear pre-scored (1.0) pairs. Safe
    # default. Set False when an active EXACT rule already blocks
    # on a full-text hash (e.g. transcripts' R_FULL_TEXT_EXACT): the exact
    # star edges make these pairs redundant, and skipping them keeps the edge
    # table lean on dup-heavy corpora.
    emit_duplicate_text_pairs: bool = True
    # run the SCORED pipeline on dense long ids: entity keys and band-key
    # strings are mapped to longs once (entity_side/block dims), every shuffle
    # between candidate generation and edge shaping carries fixed-width ints,
    # and strings are restored post-threshold/post-agg only. token_jaccard
    # scorers only (others fall back to the classic string path); edges are
    # identical to the classic path up to the deterministic choice of band
    # provenance for multi-band pairs (MIN over 64-bit block ids instead of
    # MIN over band-key strings). See operators/scoring.py dense section.
    # DEFAULT OFF — measured round 4 at 400k conversations/local[32] on the
    # same corpus: classic 227 s end-to-end vs dense 332-336 s. Once
    # declared-unique sources skip the defensive text dedup, the classic
    # path's text joins broadcast and its pair stream never re-exchanges, so
    # the dense rewrite saves no bytes on the specified workload while paying
    # an extra entity-side pass, id restores, and ~2x the GC. Turn it on when
    # the entity side is too big to broadcast AND entity keys are long
    # strings (the 10^9-entity shuffle-join regime it was built for).
    # ROUND-5 UPDATE — default is now ADAPTIVE (None): under a real
    # multi-process master (local-cluster / yarn / k8s / standalone), where
    # shuffle blocks are genuinely serialized between JVMs, the dense path
    # WON the interleaved A/B (best 163.5 s vs classic 182.1 s at
    # 400k conversations on local-cluster[8,4]; edge stage 60.7 vs 77.7 s,
    # identical edges — campaigns_r5/lc_dense_ab.json), while thread-mode
    # local[N] (shared heap, shuffles are page-cache memcpys) still favors
    # classic (round-4 A/B). None = dense iff the session master is not
    # thread-local; True/False force it.
    score_dense: bool | None = None
    # broadcast the tokenized entity-text side of the pair-scoring join when
    # the text store holds at most this many entities — the token arrays are
    # the pipeline's biggest shuffle byte source; broadcasting keeps the pair
    # stream map-side (dense path: dedup output never exchanges again — the
    # forced shuffle-hash alternative exchanges the whole pair stream TWICE,
    # the second time carrying a token array per row: 3.4 GB vs 0 measured at
    # 400k conversations). Beyond the cap the shuffle-hash join runs (the
    # 10^9-entity path). An earlier round-4 A/B measured broadcast LOSING at
    # 400k — that was an artifact of the defensive per-entity text dedup
    # being compiled into the broadcast build side (now skipped for sources
    # declaring match_text_unique; the build is a flat projection of the
    # checkpointed entity frame, ~150 B/entity of int tokens).
    score_broadcast_max_entities: int = 5_000_000
    # INCR: materialize the post-merge edge store once (lazy localCheckpoint)
    # when its pointer row count is at or below this — the subgraph build and
    # the confidence edge-stats both scan edges_current after the merge, and
    # each scan re-pays the parquet read plus the merge-on-read
    # reconciliation anti-join. One materialization serves all consumers;
    # blocks are freed when the frame goes unreferenced. 0 disables. The cap
    # exists because at true corpus scale (10^9+ edge rows) pinning the store
    # in the block manager is worse than the extra columnar scans — size it
    # to executor storage memory on a cluster.
    incr_edge_materialize_max_rows: int = 50_000_000
    # catalog bucket layout: default modulus for new bucketed tables + optional
    # per-table overrides (big fact tables want many buckets so a small delta's
    # MERGE rewrites a small table fraction; see sources/catalog.py sizing note)
    catalog_buckets: int = 32
    catalog_table_buckets: dict[str, int] | None = None

    def active_rules(self) -> list[Rule]:
        return [r for r in self.rules if r.is_active]

    def rule_for_type(self, identifier_type: str) -> Optional[Rule]:
        for r in self.active_rules():
            if r.identifier_type == identifier_type:
                return r
        return None

    def match_signature(self) -> str:
        """Deterministic digest of the MATCH semantics — everything that
        decides which edges exist: rules (strategy/threshold/canonicalize/
        gates), identifier mappings, exclusions, and each source's identity
        shape (table_id + entity_key_expr; NOT paths — data churn is the
        normal INCR case). The pipeline stores it per committed run and, on
        an INCR run whose signature differs from the last committed one,
        falls back to the safe subgraph edge restriction for that run: edges
        committed under different semantics may violate the no-edge-crosses-
        clusters invariant the fast 1-scan form relies on."""
        import hashlib
        import json as _json

        payload = {
            "rules": sorted(
                (r.rule_id, r.identifier_type, r.is_active, r.priority, r.canonicalize,
                 r.allow_hashed, r.require_non_null, r.max_group_size, r.match_strategy,
                 r.scorer, float(r.threshold))
                for r in self.rules
            ),
            "mappings": sorted(
                (m.table_id, m.identifier_type, m.identifier_value_expr, m.is_hashed, m.explodes)
                for m in self.mappings
            ),
            "exclusions": sorted(
                (e.identifier_type, e.identifier_value_pattern, e.match_type)
                for e in self.exclusions
            ),
            "sources": sorted(
                (s.table_id, s.entity_key_expr, s.is_active) for s in self.sources
            ),
        }
        return hashlib.sha256(_json.dumps(payload, sort_keys=True).encode()).hexdigest()
