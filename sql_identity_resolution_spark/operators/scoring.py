"""Pairwise similarity scoring gate for SCORED (LSH/fuzzy) rules.

The reference's rules are all EXACT (a shared normalized value IS the match);
this module is the additive fuzzy layer BASELINE.json mandates: LSH band keys
produce *candidate* blocks, candidate pairs are scored in batched pandas UDFs,
and only pairs ≥ rule.threshold become edges. Exact rules never pass through
here (score ≙ 1.0 by construction).

Scale shape: pairs are deduped on (left,right) BEFORE fetching texts (a pair
found by 6 bands is scored once); texts attach via two broadcast-or-shuffle
equi-joins against the entity-text table; the UDF sees Arrow batches. Score
histograms per block feed the per-partition lineage table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_identity_resolution_spark.functions.similarity import pair_scorer_udf


SCORING_TEXT_MAX_CHARS = 1500  # shuffle bound: texts attach to EVERY candidate
# pair twice; near-dup transcripts agree on their prefix, so the cap trades
# negligible score drift for an 8x smaller pair shuffle at scale.


def _int_tokens(capped_text_col):
    """Distinct whitespace tokens hashed to int32 — the token-set
    representation BOTH scoring paths share (bit-identical scores between
    them). The default scorer compares token SETS — hash tokens to int32 on
    the ENTITY side (one pass over entities) and ship compact arrays instead
    of raw text: element width IS shuffle width, so 4-byte tokens halve it vs
    int64 (31 usable bits — ANSI mode forbids the overflowing 64→32 cast, so
    mask first). A truncation collision needs two distinct tokens of the SAME
    pair to collide (~|L|·|R|/2^31 ≈ 3e-5 for transcript sizes) and then
    shifts |∩| by 1 — orders of magnitude inside the threshold margin, and
    deterministic across runs/parallelism."""
    return F.array_distinct(
        F.transform(
            F.filter(F.split(capped_text_col, " "), lambda t: F.length(t) > 0),
            lambda t: F.xxhash64(t).bitwiseAND(F.lit(0x7FFFFFFF)).cast("int"),
        )
    )


def score_candidate_pairs(
    pairs: DataFrame,
    entity_texts: DataFrame,
    text_col: str = "match_text",
    scorers: list[str] | None = None,
    rule_meta: dict[str, tuple[float, str]] | None = None,
    broadcast_texts: bool = False,
    texts_unique: bool = False,
) -> DataFrame:
    """pairs: (rule_id, threshold, scorer, identifier_type,
    identifier_value_norm, left_entity_key, right_entity_key) — possibly with
    duplicates across bands. Returns scored UNIQUE pairs with ``score``.

    Dedup keeps the lowest band's block key (deterministic MIN) so edge
    provenance is stable run-to-run.

    ``rule_meta`` ({rule_id: (threshold, scorer)}): when given, the dedup
    shuffle carries only (rule_id, keys, provenance) and threshold/scorer
    re-attach AFTER dedup via a broadcast join — the band-duplicated pair
    stream is the widest row-count shuffle in the pipeline, so dropping
    constant-per-rule payload from it is a direct shuffle-byte cut.

    ``broadcast_texts``: hint the tokenized entity side into a broadcast
    join. The token arrays attached to every pair are the pipeline's biggest
    shuffle BYTE source; when the entity-text table fits the broadcast budget
    (caller decides — see EngineConfig.score_broadcast_max_entities) the pair
    stream never reshuffles at all. At 10^9+ entities leave it off and the
    classic shuffle equi-join runs instead."""
    if rule_meta:
        uniq = pairs.groupBy("rule_id", "left_entity_key", "right_entity_key").agg(
            F.min("identifier_type").alias("identifier_type"),
            F.min("identifier_value_norm").alias("identifier_value_norm"),
        )
        spark = pairs.sparkSession
        meta_df = spark.createDataFrame(
            [(rid, float(t), s) for rid, (t, s) in rule_meta.items()],
            "rule_id string, threshold double, scorer string",
        )
        uniq = uniq.join(F.broadcast(meta_df), "rule_id", "inner")
    else:
        uniq = pairs.groupBy("rule_id", "left_entity_key", "right_entity_key").agg(
            F.min("identifier_type").alias("identifier_type"),
            F.min("identifier_value_norm").alias("identifier_value_norm"),
            F.first("threshold").alias("threshold"),
            F.first("scorer").alias("scorer"),
        )
    # one scorer invocation per scorer name; pass from rule metadata — deriving
    # it from the data (distinct().collect()) would recompute the whole join
    if scorers is None:
        if rule_meta:
            scorers = sorted({s for _, s in rule_meta.values()})
        else:
            scorers = [r["scorer"] for r in pairs.select("scorer").distinct().collect()]
    jvm_only = set(scorers) <= {"token_jaccard"}

    # explicit 1-row-per-entity contract (shared with build_entity_side):
    # duplicate entity rows would otherwise fan out one scored row per
    # duplicate; collapse deterministically to the MAX text. Skipped when the
    # caller proves uniqueness (every contributing source declares
    # SourceTable.match_text_unique): the defensive agg is a corpus-wide
    # sort-aggregate over FULL texts, built once per join side — the single
    # hottest avoidable plan node at scale (+2,000 task-s / +55 s wall at
    # 400k conversations, local[32], measured round 4).
    if not texts_unique:
        entity_texts = entity_texts.groupBy("entity_key").agg(F.max(text_col).alias(text_col))
    capped = F.substring(F.col(text_col), 1, SCORING_TEXT_MAX_CHARS)
    if jvm_only:
        rep = _int_tokens(capped)
    else:
        rep = capped
    lt = entity_texts.select(F.col("entity_key").alias("left_entity_key"), rep.alias("_lt"))
    rt = entity_texts.select(F.col("entity_key").alias("right_entity_key"), rep.alias("_rt"))
    if broadcast_texts:
        lt, rt = F.broadcast(lt), F.broadcast(rt)
    withtext = uniq.join(lt, "left_entity_key", "inner").join(rt, "right_entity_key", "inner")

    parts = []
    for name in scorers:
        subset = withtext.filter(F.col("scorer") == name)
        if name == "token_jaccard":
            if jvm_only:
                lt_arr, rt_arr = F.col("_lt"), F.col("_rt")
            else:
                lt_arr = F.array_distinct(F.filter(F.split("_lt", " "), lambda t: F.length(t) > 0))
                rt_arr = F.array_distinct(F.filter(F.split("_rt", " "), lambda t: F.length(t) > 0))
            # |∪| derived arithmetically (|L|+|R|−|∩|): allocating the union
            # array per pair just to take its size was the single hottest
            # expression in the pipeline (memory-bandwidth-bound, didn't
            # scale with cores). Subexpression elimination shares the one
            # array_intersect between the two references.
            inter = F.size(F.array_intersect(lt_arr, rt_arr))
            denom = F.size(lt_arr) + F.size(rt_arr) - inter
            score = F.when(denom == 0, F.lit(1.0)).otherwise(
                inter.cast("double") / denom.cast("double")
            )
            parts.append(subset.withColumn("score", score))
        else:
            udf = pair_scorer_udf(name)
            parts.append(subset.withColumn("score", udf(F.col("_lt"), F.col("_rt"))))
    if not parts:
        return withtext.withColumn("score", F.lit(0.0)).drop("_lt", "_rt")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.drop("_lt", "_rt")


# ---------------------------------------------------------------------------
# Dense-long-id scoring path (the CC trick applied to pair scoring): every
# shuffle between candidate generation and the final edge shaping carries only
# fixed-width integers — (rid:int, left_eid:long, right_eid:long, bkey:long) —
# instead of ~17-40 B string entity keys plus ~19 B band-key strings. Strings
# are restored ONCE, post-threshold (edges) / post-aggregation (histogram),
# via joins against the per-run entity/block dimensions. This was the one
# stage measurably below its shuffle-bandwidth scaling ceiling; shuffle byte
# width IS the ceiling, so narrowing the rows raises it directly.


def block_key_expr():
    """64-bit block id for a (identifier_type, identifier_value_norm) pair.
    A collision (P ≈ n_blocks²/2^65) MERGES two blocks: extra candidate pairs
    that scoring filters, plus min-struct provenance restore below — never a
    lost pair, so recall is unaffected."""
    return F.xxhash64("identifier_type", "identifier_value_norm")


def build_entity_side(
    entity_texts: DataFrame, text_col: str = "match_text", texts_unique: bool = False
) -> DataFrame:
    """One checkpointed pass over the entity-text table producing everything
    the dense path needs per entity: ``(entity_key, eid, fp, _toks)``.

    - ``eid``: dense long id from ``monotonically_increasing_id`` — NOT stable
      across recomputation, which is exactly why this frame is eagerly
      checkpointed once and every consumer (dedup, token joins, restore map)
      reads the materialized ids.
    - ``fp``: identical-text fingerprint (empty/NULL texts get NULL — empty
      evidence never links entities).
    - ``_toks``: the shared int32 token-set representation (``_int_tokens``),
      computed once per ENTITY instead of attached per pair.

    The groupBy makes the 1-row-per-entity contract explicit: duplicate
    entity_key rows within a dirty source collapse deterministically to the
    MAX text instead of fanning out one scored row per duplicate in the pair
    joins. ``texts_unique`` (every contributing source declares
    SourceTable.match_text_unique; cross-source collisions are impossible —
    entity_key is table_id-prefixed) skips the defensive agg: it is a
    corpus-wide sort-aggregate over full texts, measured as the hottest
    avoidable node at 400k conversations."""
    capped = F.substring(F.col(text_col), 1, SCORING_TEXT_MAX_CHARS)
    if not texts_unique:
        entity_texts = entity_texts.groupBy("entity_key").agg(F.max(text_col).alias(text_col))
    return (
        entity_texts.select(
            "entity_key",
            F.when(F.length(F.trim(F.col(text_col))) > 0, F.xxhash64(text_col)).alias("fp"),
            _int_tokens(capped).alias("_toks"),
        )
        .withColumn("eid", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )


def rid_map_df(spark: SparkSession, scored_rules) -> DataFrame:
    """Tiny broadcast dimension mapping each SCORED rule to a dense int rid
    (+ threshold). One identifier_type per rule (reference metadata contract,
    sql/common/00_ddl_meta.sql:30-40), so type restores through it too."""
    rows = [
        (i, r.rule_id, r.identifier_type, float(r.threshold), r.scorer)
        for i, r in enumerate(sorted(scored_rules, key=lambda r: r.rule_id))
    ]
    return spark.createDataFrame(
        rows, "rid int, rule_id string, identifier_type string, threshold double, scorer string"
    )


def block_dim_df(scored_groups: DataFrame) -> DataFrame:
    """(bkey, identifier_type, identifier_value_norm) — one row per scored
    block, built from the (already tiny: one row per block) group table.
    min-struct collapses hash collisions deterministically."""
    return (
        scored_groups.select(
            block_key_expr().alias("bkey"), "identifier_type", "identifier_value_norm"
        )
        .groupBy("bkey")
        .agg(F.min(F.struct("identifier_type", "identifier_value_norm")).alias("_b"))
        .select("bkey", F.col("_b.identifier_type").alias("identifier_type"),
                F.col("_b.identifier_value_norm").alias("identifier_value_norm"))
    )


def score_pairs_dense(
    pairs_dense: DataFrame,
    entity_side: DataFrame,
    rid_map: DataFrame,
    broadcast_toks: bool = False,
) -> DataFrame:
    """Dense analogue of :func:`score_candidate_pairs` for the token_jaccard
    scorer. ``pairs_dense``: (rid, bkey, left_eid, right_eid), possibly
    duplicated across bands. Returns (rid, left_eid, right_eid, bkey,
    threshold, score) for UNIQUE pairs.

    The dedup groupBy key is 20 fixed-width bytes; MIN(bkey) is the
    deterministic band provenance (the classic path's MIN over band-key
    STRINGS re-expressed on the 64-bit block id — a different but equally
    deterministic representative when a pair appears in several bands).
    Scores are bit-identical to the classic path: same ``_int_tokens``
    representation, same |∩| arithmetic."""
    uniq = pairs_dense.groupBy("rid", "left_eid", "right_eid").agg(F.min("bkey").alias("bkey"))
    uniq = uniq.join(F.broadcast(rid_map.select("rid", "threshold")), "rid", "inner")
    toks = entity_side.select("eid", "_toks")
    lt = toks.select(F.col("eid").alias("left_eid"), F.col("_toks").alias("_lt"))
    rt = toks.select(F.col("eid").alias("right_eid"), F.col("_toks").alias("_rt"))
    if broadcast_toks:
        lt, rt = F.broadcast(lt), F.broadcast(rt)
    else:
        # 8-byte equi-keys with a bounded build side: hash join beats the
        # sort-merge default (no sort of the wide token side)
        lt, rt = lt.hint("shuffle_hash"), rt.hint("shuffle_hash")
    withtok = uniq.join(lt, "left_eid", "inner").join(rt, "right_eid", "inner")
    inter = F.size(F.array_intersect("_lt", "_rt"))
    denom = F.size("_lt") + F.size("_rt") - inter
    score = F.when(denom == 0, F.lit(1.0)).otherwise(inter.cast("double") / denom.cast("double"))
    return withtok.withColumn("score", score).drop("_lt", "_rt")


def scored_edges_dense(
    scored_dense: DataFrame,
    entity_side: DataFrame,
    block_dim: DataFrame,
    rid_map: DataFrame,
    run_ts,
    broadcast_dims: bool = False,
) -> DataFrame:
    """Threshold-passing dense pairs → classic string edge rows. The three
    restore joins run on the POST-threshold set (≪ candidate count); left and
    right are re-canonicalized by STRING order so edge orientation matches
    the classic path exactly.

    ``broadcast_dims`` (same gate as the token joins): broadcast the id/block
    dimensions so the passing-pair stream is never exchanged for the
    restores; off, the 8-byte-key shuffle-hash joins are the 10^9-entity
    path."""
    id_map = entity_side.select("eid", "entity_key")
    passing = scored_dense.filter(F.col("score") >= F.col("threshold"))
    if broadcast_dims:
        lk = F.broadcast(id_map.select(F.col("eid").alias("left_eid"), F.col("entity_key").alias("_lk")))
        rk = F.broadcast(id_map.select(F.col("eid").alias("right_eid"), F.col("entity_key").alias("_rk")))
        bd = F.broadcast(block_dim)
    else:
        lk = id_map.select(F.col("eid").alias("left_eid"), F.col("entity_key").alias("_lk")).hint("shuffle_hash")
        rk = id_map.select(F.col("eid").alias("right_eid"), F.col("entity_key").alias("_rk")).hint("shuffle_hash")
        bd = block_dim.hint("shuffle_hash")
    restored = (
        passing.join(lk, "left_eid", "inner")
        .join(rk, "right_eid", "inner")
        .join(bd, "bkey", "inner")
        .join(F.broadcast(rid_map.select("rid", "rule_id")), "rid", "inner")
    )
    return restored.select(
        "rule_id",
        F.least("_lk", "_rk").alias("left_entity_key"),
        F.greatest("_lk", "_rk").alias("right_entity_key"),
        "identifier_type",
        "identifier_value_norm",
        F.lit(run_ts).cast("timestamp").alias("first_seen_ts"),
        F.lit(run_ts).cast("timestamp").alias("last_seen_ts"),
    )


def score_histogram_dense(scored_dense: DataFrame, block_dim: DataFrame, buckets: int = 10) -> DataFrame:
    """Dense analogue of :func:`score_histogram`: aggregate on the 8-byte
    block id, restore the block strings on the (one-row-per-block) result."""
    b = (
        scored_dense.withColumn(
            "bucket", F.least(F.lit(buckets - 1), F.floor(F.col("score") * buckets)).cast("int")
        )
        .groupBy("bkey", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    agg = b.groupBy("bkey").agg(
        F.sum("n").alias("pair_count"),
        F.to_json(
            F.map_from_entries(F.sort_array(F.collect_list(F.struct("bucket", "n"))))
        ).alias("score_histogram"),
    )
    return agg.join(block_dim, "bkey", "inner").select(
        "identifier_type", "identifier_value_norm", "pair_count", "score_histogram"
    )


def scored_edges(scored_pairs: DataFrame, run_ts) -> DataFrame:
    """Pairs passing their rule threshold, shaped like edges_new
    (sql/common/01_ddl_outputs.sql:5-13 edge schema + score column)."""
    return scored_pairs.filter(F.col("score") >= F.col("threshold")).select(
        "rule_id",
        "left_entity_key",
        "right_entity_key",
        "identifier_type",
        "identifier_value_norm",
        F.lit(run_ts).cast("timestamp").alias("first_seen_ts"),
        F.lit(run_ts).cast("timestamp").alias("last_seen_ts"),
    )


def score_histogram(scored_pairs: DataFrame, buckets: int = 10) -> DataFrame:
    """Per block: pair count + bucketed score histogram — the lineage rows the
    north rule requires (block id, pair count, score histogram)."""
    b = (
        scored_pairs.withColumn(
            "bucket", F.least(F.lit(buckets - 1), F.floor(F.col("score") * buckets)).cast("int")
        )
        .groupBy("identifier_type", "identifier_value_norm", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        b.groupBy("identifier_type", "identifier_value_norm")
        .agg(
            F.sum("n").alias("pair_count"),
            F.to_json(F.map_from_entries(F.sort_array(F.collect_list(F.struct("bucket", "n"))))).alias(
                "score_histogram"
            ),
        )
    )
