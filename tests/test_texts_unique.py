"""The match_text_unique contract: sources that guarantee one text row per
entity let the scoring paths skip their defensive per-entity dedup agg (a
corpus-wide sort-aggregate over full texts — the hottest avoidable plan node
measured at 400k conversations). Parity requirements:

- on genuinely unique inputs, texts_unique=True is a pure plan change —
  bit-identical scores/pairs vs the default defensive path;
- undeclared (texts_unique=False) inputs with duplicate entity rows still
  collapse deterministically to MAX(text), one scored row per pair;
- the pipeline derives the flag from SourceTable.match_text_unique across
  contributing sources (transcripts signature source declares it).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from sql_identity_resolution_spark.operators import scoring


PAIRS_SCHEMA = (
    "rule_id string, left_entity_key string, right_entity_key string, "
    "identifier_type string, identifier_value_norm string"
)
RULE_META = {"r1": (0.2, "token_jaccard")}


def _pairs(spark):
    return spark.createDataFrame(
        [
            ("r1", "a", "b", "minhash_band", "k1"),
            ("r1", "a", "c", "minhash_band", "k1"),
            ("r1", "b", "c", "minhash_band", "k2"),
        ],
        PAIRS_SCHEMA,
    )


def _scores(df):
    return {
        (r["left_entity_key"], r["right_entity_key"]): r["score"]
        for r in df.collect()
    }


def test_classic_texts_unique_parity(spark):
    texts = spark.createDataFrame(
        [("a", "x y z w"), ("b", "x y z q"), ("c", "x q r s")],
        "entity_key string, match_text string",
    )
    base = scoring.score_candidate_pairs(
        _pairs(spark), texts, rule_meta=RULE_META, texts_unique=False
    )
    fast = scoring.score_candidate_pairs(
        _pairs(spark), texts, rule_meta=RULE_META, texts_unique=True
    )
    assert _scores(fast) == _scores(base)


def test_classic_duplicate_texts_still_dedup_by_default(spark):
    texts = spark.createDataFrame(
        [("a", "x y z w"), ("a", "a a a a"), ("b", "x y z q"), ("c", "x q r s")],
        "entity_key string, match_text string",
    )
    scored = scoring.score_candidate_pairs(
        _pairs(spark), texts, rule_meta=RULE_META, texts_unique=False
    )
    rows = scored.collect()
    # one scored row per deduped pair — the duplicate 'a' row collapsed
    assert len(rows) == 3
    # deterministic representative: MAX(text) = "x y z w" for entity a
    expected = scoring.score_candidate_pairs(
        _pairs(spark),
        spark.createDataFrame(
            [("a", "x y z w"), ("b", "x y z q"), ("c", "x q r s")],
            "entity_key string, match_text string",
        ),
        rule_meta=RULE_META,
        texts_unique=True,
    )
    assert _scores(scored) == _scores(expected)


def test_build_entity_side_texts_unique_parity(spark):
    texts = spark.createDataFrame(
        [("a", "x y z w"), ("b", ""), ("c", None)],
        "entity_key string, match_text string",
    )
    def snap(df):
        return {
            r["entity_key"]: (r["fp"], tuple(r["_toks"]) if r["_toks"] is not None else None)
            for r in df.collect()
        }
    assert snap(scoring.build_entity_side(texts, texts_unique=True)) == snap(
        scoring.build_entity_side(texts, texts_unique=False)
    )


def test_pipeline_derives_flag_from_sources(spark):
    from sql_identity_resolution_spark import EngineConfig, IDRPipeline
    from sql_identity_resolution_spark.datagen import generate_transcripts, write_transcripts
    from sql_identity_resolution_spark.sources.transcripts import transcripts_source

    tmp = tempfile.mkdtemp(prefix="idr_uniqflag_")
    paths = write_transcripts(generate_transcripts(n_conversations=40, seed=3), tmp)
    source, rules, mappings = transcripts_source("chat", paths["turns"])
    assert source.match_text_unique  # signature build: one row per conv_id
    cfg = EngineConfig(
        warehouse=f"{tmp}/wh", sources=[source], rules=rules, mappings=mappings
    )
    pipe = IDRPipeline(spark, cfg)
    _, unique = pipe._entity_texts()  # lazy — no source execution
    assert unique is True

    # an undeclared second text source flips the union back to defensive
    from dataclasses import replace

    dirty = replace(source, table_id="chat2", match_text_unique=False)
    cfg2 = EngineConfig(
        warehouse=f"{tmp}/wh2", sources=[source, dirty], rules=rules, mappings=mappings
    )
    pipe2 = IDRPipeline(spark, cfg2)
    _, unique2 = pipe2._entity_texts()
    assert unique2 is False
