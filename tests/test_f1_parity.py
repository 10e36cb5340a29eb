"""The BASELINE.json correctness gate: pairwise F1 ≥ 0.99 on labeled transcript
pairs — computed EXACTLY over all pairs via the contingency method, on both
the pandas fixture generator and the distributed Spark generator (the latter
exercises large chained clusters that force the hybrid CC escalation)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sql_identity_resolution_spark import EngineConfig, IDRPipeline
from sql_identity_resolution_spark.datagen import generate_transcripts, write_transcripts
from sql_identity_resolution_spark.plans.evaluate import pairwise_f1
from sql_identity_resolution_spark.sources.datagen_spark import generate_transcripts_spark
from sql_identity_resolution_spark.sources.transcripts import transcripts_source


def _run_pipeline(spark, tmp_path, turns_path):
    source, rules, mappings = transcripts_source("chat", turns_path)
    cfg = EngineConfig(
        warehouse=str(tmp_path / "wh"), sources=[source], rules=rules, mappings=mappings
    )
    pipe = IDRPipeline(spark, cfg)
    res = pipe.run("FULL")
    assert res.lp_converged, f"CC did not converge ({res.lp_iterations} iters)"
    membership = pipe.catalog.read("identity_resolved_membership_current")
    return res, membership.select(
        F.regexp_replace("entity_key", "^chat:", "").alias("conv_id"), "resolved_id"
    )


def test_f1_pandas_generator(spark, tmp_path):
    gen = generate_transcripts(n_conversations=1200, seed=42)
    paths = write_transcripts(gen, str(tmp_path))
    res, membership = _run_pipeline(spark, tmp_path, paths["turns"])
    truth = spark.createDataFrame(gen.truth)
    scores = pairwise_f1(membership, truth, key="conv_id")
    assert scores.f1 >= 0.99, scores
    assert scores.precision >= 0.99 and scores.recall >= 0.99, scores


def test_f1_spark_generator_with_chains(spark, tmp_path):
    """5k conversations with 201-1000-member chained clusters: hash-min alone
    cannot converge in 30 rounds here; the auto CC must escalate to
    large-star/small-star and still hit F1 ≥ 0.99."""
    all_turns = generate_transcripts_spark(spark, n_conversations=5000, seed=7)
    turns_path = str(tmp_path / "turns")
    all_turns.drop("truth_cluster_id").write.parquet(turns_path)
    truth = all_turns.select("conv_id", "truth_cluster_id").distinct()

    res, membership = _run_pipeline(spark, tmp_path, turns_path)
    scores = pairwise_f1(membership, truth, key="conv_id")
    assert scores.f1 >= 0.99, scores


def test_generate_transcripts_single_truth_cluster_terminates():
    """A corpus drawn as ONE truth cluster has no cross-cluster pair: the
    negative-pair sampler must stop instead of looping forever."""
    gen = generate_transcripts(n_conversations=50, seed=103)
    assert gen.truth["truth_cluster_id"].nunique() == 1
    assert gen.labeled_pairs["is_match"].all() and len(gen.labeled_pairs) > 0
