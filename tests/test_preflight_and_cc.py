"""Preflight data-level validation (≙ reference idr_run.py:126-171 /
IDR_ValidateMetadata.py) + the connected-components loops."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sql_identity_resolution_spark import EngineConfig, IDRPipeline
from sql_identity_resolution_spark.config import AttributeMapping, IdentifierMapping, Rule, SourceTable
from sql_identity_resolution_spark.datagen import write_parquet


def _write_src(tmp_path, name="src.parquet"):
    p = tmp_path / name
    write_parquet(
        pd.DataFrame(
            {
                "cust_id": [1, 2],
                "email": ["a@x.com", "b@x.com"],
                "updated_at": pd.to_datetime(["2026-01-01", "2026-01-02"]),
            }
        ),
        str(p),
    )
    return str(p)


def _cfg(tmp_path, **src_kw):
    defaults = dict(
        table_id="crm",
        entity_key_expr="CAST(cust_id AS STRING)",
        watermark_column="updated_at",
        path=_write_src(tmp_path),
    )
    defaults.update(src_kw)
    return EngineConfig(
        warehouse=str(tmp_path / "wh"),
        sources=[SourceTable(**defaults)],
        rules=[Rule(rule_id="r1", identifier_type="EMAIL")],
        mappings=[IdentifierMapping(table_id="crm", identifier_type="EMAIL", identifier_value_expr="email")],
    )


def test_preflight_passes_on_valid_config(spark, tmp_path):
    assert IDRPipeline(spark, _cfg(tmp_path)).preflight() == []


def test_preflight_names_broken_path(spark, tmp_path):
    cfg = _cfg(tmp_path, path=str(tmp_path / "nope.parquet"))
    with pytest.raises(ValueError, match=r"source crm: failed to load"):
        IDRPipeline(spark, cfg).preflight()


def test_preflight_names_missing_watermark_column(spark, tmp_path):
    cfg = _cfg(tmp_path, watermark_column="no_such_col")
    with pytest.raises(ValueError, match=r"watermark column 'no_such_col'"):
        IDRPipeline(spark, cfg).preflight()


def test_preflight_names_unresolvable_entity_key_expr(spark, tmp_path):
    cfg = _cfg(tmp_path, entity_key_expr="CAST(bogus_col AS STRING)")
    with pytest.raises(ValueError, match=r"entity_key_expr"):
        IDRPipeline(spark, cfg).preflight()


def test_preflight_names_unresolvable_mapping_expr(spark, tmp_path):
    cfg = _cfg(tmp_path)
    cfg.mappings[0].identifier_value_expr = "LOWER(missing_col)"
    with pytest.raises(ValueError, match=r"mapping crm/EMAIL"):
        IDRPipeline(spark, cfg).preflight()


def test_preflight_names_unresolvable_attribute_expr(spark, tmp_path):
    cfg = _cfg(tmp_path)
    cfg.attributes.append(
        AttributeMapping(attribute_name="email", table_id="crm", attribute_expr="typo_col")
    )
    with pytest.raises(ValueError, match=r"attribute email"):
        IDRPipeline(spark, cfg).preflight()


def test_preflight_warns_on_empty_source(spark, tmp_path):
    p = tmp_path / "empty.parquet"
    write_parquet(
        pd.DataFrame(
            {"cust_id": pd.array([], dtype="int64"), "email": pd.array([], dtype="string"),
             "updated_at": pd.to_datetime(pd.Series([], dtype="object"))}
        ),
        str(p),
    )
    cfg = _cfg(tmp_path, path=str(p))
    warnings = IDRPipeline(spark, cfg).preflight()
    assert any("is empty" in w for w in warnings)


def test_preflight_check_data_false_skips_loads(spark, tmp_path):
    cfg = _cfg(tmp_path, path=str(tmp_path / "nope.parquet"))
    assert IDRPipeline(spark, cfg).preflight(check_data=False) == []


# --------------------------------------------------------------- CC loops


def _chain(spark, n=12):
    """Path graph e0–e1–…–e(n-1): diameter n−1, worst case for hash-min."""
    nodes = spark.createDataFrame([(f"e{i:03d}",) for i in range(n)], "entity_key string")
    edges = spark.createDataFrame(
        [(f"e{i:03d}", f"e{i+1:03d}") for i in range(n - 1)],
        "left_entity_key string, right_entity_key string",
    )
    return nodes, edges


@pytest.mark.parametrize("algo", ["hash_min", "star"])
def test_chain_labels_one_component(spark, algo):
    from sql_identity_resolution_spark.operators.graph import alternating_star, hash_min_lp

    fn = hash_min_lp if algo == "hash_min" else alternating_star
    nodes, edges = _chain(spark, 12)
    res = fn(nodes, edges, max_iters=40)
    assert res.converged
    got = {(r["entity_key"], r["label"]) for r in res.labels.collect()}
    # one component, labeled by its min
    assert got == {(f"e{i:03d}", "e000") for i in range(12)}


# ----------------------------------------------------- INCR local fast path


def test_local_union_find_matches_distributed(spark):
    """Bounded driver union-find must reproduce the distributed labels exactly
    (label = MIN entity_key per component), including isolated nodes."""
    from sql_identity_resolution_spark.operators.graph import (
        connected_components,
        hash_min_lp,
    )

    nodes, edges = _chain(spark, 12)
    # add a disjoint triangle and an isolated singleton
    nodes = nodes.union(spark.createDataFrame([("t1",), ("t2",), ("t3",), ("zzz_alone",)], "entity_key string"))
    edges = edges.union(
        spark.createDataFrame(
            [("t1", "t2"), ("t2", "t3"), ("t3", "t1")],
            "left_entity_key string, right_entity_key string",
        )
    )
    dist = hash_min_lp(nodes, edges, max_iters=40)
    local = connected_components(nodes, edges, local_max_edges=1000)
    assert local.converged and local.iterations == 1
    want = {(r["entity_key"], r["label"]) for r in dist.labels.collect()}
    got = {(r["entity_key"], r["label"]) for r in local.labels.collect()}
    assert got == want
    assert ("zzz_alone", "zzz_alone") in got


def test_local_union_find_cap_falls_back_to_distributed(spark):
    """A subgraph over the cap must take the distributed path (limit guard),
    with identical labels."""
    from sql_identity_resolution_spark.operators.graph import connected_components

    nodes, edges = _chain(spark, 12)
    res = connected_components(nodes, edges, local_max_edges=3)  # 11 edges > 3
    assert res.converged
    assert res.iterations > 1  # distributed rounds ran, not the 1-shot local path
    got = {(r["entity_key"], r["label"]) for r in res.labels.collect()}
    assert got == {(f"e{i:03d}", "e000") for i in range(12)}


# ------------------------------------------------------------- frontier LP


def test_frontier_hash_min_matches_union_find(spark):
    """Frontier (vertex-activation) hash-min must produce IDENTICAL labels to
    a plain union-find over the same adversarial mix (long chain + star +
    singletons)."""
    import random

    from sql_identity_resolution_spark.operators.graph import _local_union_find, hash_min_lp

    rng = random.Random(7)
    rows = [(f"c{i:03d}", f"c{i+1:03d}") for i in range(14)]           # chain
    rows += [("hub", f"s{i:02d}") for i in range(20)]                  # star
    rows += [(f"a{rng.randrange(30):02d}", f"a{rng.randrange(30):02d}") for _ in range(40)]
    rows = [(a, b) for a, b in rows if a != b]
    keys = sorted({k for r in rows for k in r} | {"iso1", "iso2"})
    nodes = spark.createDataFrame([(k,) for k in keys], "entity_key string")
    edges = spark.createDataFrame(rows, "left_entity_key string, right_entity_key string")
    front = hash_min_lp(nodes, edges, max_iters=40)
    ref = _local_union_find(nodes, edges, max_edges=1000)
    assert front.converged
    got_f = {(r["entity_key"], r["label"]) for r in front.labels.collect()}
    got_u = {(r["entity_key"], r["label"]) for r in ref.labels.collect()}
    assert got_f == got_u
    assert ("iso1", "iso1") in got_f and ("c014", "c000") in got_f
    # per-round decomposition is recorded and the delta hits 0 at convergence
    assert front.rounds and front.rounds[-1]["delta"] == 0
    assert all(set(r) == {"sec", "delta"} for r in front.rounds)
