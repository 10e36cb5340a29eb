"""Parity: dense long-id scoring ≡ classic string scoring (score_dense flag).

The dense path (`EngineConfig.score_dense`, default None = regime-adaptive:
on for multi-JVM masters where it won the serialized-shuffle A/B, off for
thread-local masters — a measured
negative at 400k conversations once the classic path's text joins broadcast;
kept as the 10^9-entity shuffle-join regime's escape hatch) must be a pure
execution-strategy swap: same deduped pair set, bit-identical scores (shared
`_int_tokens` representation), same edge set and orientation, same clusters.
The only permitted difference is the deterministic choice of band provenance
for pairs found by several bands (MIN over 64-bit block ids vs MIN over
band-key strings), which no output row key depends on.

Also covers the ADVICE r3 NULL-text finding: a NULL match_text must not crash
either scoring path, and must produce no edge (its NULL score is dropped by
the ≥threshold filter).
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from sql_identity_resolution_spark import EngineConfig, IDRPipeline
from sql_identity_resolution_spark.datagen import generate_transcripts, write_transcripts
from sql_identity_resolution_spark.operators import blocking, scoring
from sql_identity_resolution_spark.sources.transcripts import transcripts_source

BK = ["identifier_type", "identifier_value_norm"]


@pytest.fixture(scope="module")
def corpus(spark):
    gen = generate_transcripts(n_conversations=500, seed=11)
    tmp = tempfile.mkdtemp(prefix="idr_dense_")
    paths = write_transcripts(gen, tmp)
    return paths["turns"]


def _run(spark, turns_path, dense: bool):
    tmp = tempfile.mkdtemp(prefix=f"idr_dense_wh_{dense}_")
    source, rules, mappings = transcripts_source("chat", turns_path)
    cfg = EngineConfig(
        warehouse=f"{tmp}/wh", sources=[source], rules=rules, mappings=mappings,
        score_dense=dense,
    )
    pipe = IDRPipeline(spark, cfg)
    res = pipe.run("FULL")
    edges = {
        (r["rule_id"], r["left_entity_key"], r["right_entity_key"])
        for r in pipe.catalog.read("identity_edges_current").collect()
    }
    membership = {
        r["entity_key"]: r["resolved_id"]
        for r in pipe.catalog.read("identity_resolved_membership_current").collect()
    }
    lineage = pipe.catalog.read("partition_lineage")
    scored_blocks = lineage.filter(F.col("scored_pair_count").isNotNull()).count()
    return res, edges, membership, scored_blocks


def test_dense_scoring_parity(spark, corpus):
    res_c, edges_c, mem_c, blocks_c = _run(spark, corpus, dense=False)
    res_d, edges_d, mem_d, blocks_d = _run(spark, corpus, dense=True)
    assert res_d.candidate_pairs_scored == res_c.candidate_pairs_scored
    assert edges_d == edges_c
    assert mem_d == mem_c
    assert res_d.edges_created == res_c.edges_created
    # histogram lineage exists under both paths
    assert blocks_c > 0 and blocks_d > 0


def _null_text_fixture(spark):
    members = spark.createDataFrame(
        [(e, "chat", "LSH_TEXT", "b0:cafe") for e in ("aaa", "bbb", "ccc")],
        "entity_key string, table_id string, identifier_type string, identifier_value_norm string",
    ).select("table_id", "entity_key", *BK)
    groups = spark.createDataFrame(
        [("R_LSH", "LSH_TEXT", "b0:cafe", 3, "aaa", "SCORED", 0.5, "token_jaccard")],
        "rule_id string, identifier_type string, identifier_value_norm string, "
        "group_size long, anchor_entity_key string, match_strategy string, "
        "threshold double, scorer string",
    )
    texts = spark.createDataFrame(
        [("aaa", None), ("bbb", "shared words here indeed"), ("ccc", "shared words here too")],
        "entity_key string, match_text string",
    )
    return groups, members, texts


def test_classic_null_text_no_edge(spark):
    """ADVICE r3 (medium): pairs touching a NULL match_text score NULL and
    fail the threshold — no crash, no edge."""
    groups, members, texts = _null_text_fixture(spark)
    pairs = blocking.candidate_pairs(groups, members)
    rule_meta = {"R_LSH": (0.5, "token_jaccard")}
    scored_c = scoring.score_candidate_pairs(pairs, texts, rule_meta=rule_meta)
    edges_c = {
        (r["left_entity_key"], r["right_entity_key"])
        for r in scoring.scored_edges(scored_c, "2026-01-01 00:00:00").collect()
    }
    assert edges_c == {("bbb", "ccc")}

    # left-, right- and both-NULL pairs next to a scoreable one: only the
    # scoreable pair passes, with its exact Jaccard score
    pairs = spark.createDataFrame(
        [
            ("r1", "a", "b", "minhash_band", "k1"),
            ("r1", "a", "n", "minhash_band", "k1"),  # right side NULL text
            ("r1", "n", "b", "minhash_band", "k1"),  # left side NULL text
            ("r1", "m", "n", "minhash_band", "k1"),  # both NULL
        ],
        "rule_id string, left_entity_key string, right_entity_key string, "
        "identifier_type string, identifier_value_norm string",
    )
    texts = spark.createDataFrame(
        [("a", "hello world foo"), ("b", "hello world bar"), ("n", None), ("m", None)],
        "entity_key string, match_text string",
    )
    scored = scoring.score_candidate_pairs(pairs, texts, rule_meta={"r1": (0.3, "token_jaccard")})
    passing = {
        (r["left_entity_key"], r["right_entity_key"], r["score"])
        for r in scored.filter(F.col("score") >= F.col("threshold")).collect()
    }
    assert passing == {("a", "b", 0.5)}


def test_dense_null_text_no_edge(spark):
    groups, members, texts = _null_text_fixture(spark)
    entity_side = scoring.build_entity_side(texts)

    class _R:
        rule_id, identifier_type, threshold, scorer = "R_LSH", "LSH_TEXT", 0.5, "token_jaccard"

    rid_map = scoring.rid_map_df(spark, [_R()])
    members_e = blocking.dedup_scored_members_dense(members, entity_side, ["LSH_TEXT"])
    pairs = blocking.candidate_pairs_dense(groups, members_e, rid_map, entity_side)
    scored = scoring.score_pairs_dense(pairs, entity_side, rid_map)
    block_dim = scoring.block_dim_df(groups)
    edges = scoring.scored_edges_dense(scored, entity_side, block_dim, rid_map, "2026-01-01 00:00:00")
    got = {(r["left_entity_key"], r["right_entity_key"]) for r in edges.collect()}
    assert got == {("bbb", "ccc")}  # NULL-text pairs scored NULL → dropped
    # orientation + provenance shape match the classic edge schema
    row = edges.collect()[0]
    assert row["identifier_type"] == "LSH_TEXT"
    assert row["identifier_value_norm"] == "b0:cafe"


def test_duplicate_entity_text_rows_collapse(spark):
    """ADVICE r3: duplicate entity_texts rows must not fan out scored rows —
    scoring collapses to one deterministic (MAX) text per entity."""
    groups, members, texts = _null_text_fixture(spark)
    dup_texts = texts.unionByName(
        spark.createDataFrame([("bbb", "shared words here indeed")],
                              "entity_key string, match_text string")
    )
    pairs = blocking.candidate_pairs(groups, members)
    rule_meta = {"R_LSH": (0.5, "token_jaccard")}
    n_classic = scoring.score_candidate_pairs(pairs, dup_texts, rule_meta=rule_meta).count()
    assert n_classic == 3  # one row per unique pair, not per duplicate text row


def test_dense_default_master_gate():
    """VERDICT r5 #5: a bare `local` master (no brackets) is thread-local and
    must NOT pick the dense path; multi-JVM masters must."""
    from sql_identity_resolution_spark.plans.pipeline import _dense_default_for_master

    for m in ("local", "local[4]", "local[*]", "local[4,2]"):
        assert _dense_default_for_master(m) is False, m
    for m in ("local-cluster[2,4,8192]", "yarn", "k8s://https://host", "spark://host:7077"):
        assert _dense_default_for_master(m) is True, m
    assert _dense_default_for_master("") is True  # unset master: cluster-side default
