"""Transcripts source: turn-level table → conversation-level signature table.

Input (BASELINE.json input_hint): ``transcripts(conv_id string, turn_idx int,
role string, text string, tool string, ts timestamp)``. Entity = conversation;
``ts`` is the watermark column.

The signature is built under STRICT turn_idx ordering — ``array_sort`` over
``collect_list(struct(turn_idx, …))`` sorts lexicographically by the leading
turn_idx, so the per-turn text sequence is deterministic regardless of Spark's
row order (the per-turn-text-equality invariant vs the reference). Everything
except the MinHash signature is JVM-side; MinHash is one Arrow-batched pandas
UDF over the conversation text.

Blocking keys produced (≙ reference identifier types, SURVEY §7.1):
- ``SIG_ROLE_TOOL``  — sha2 of the role:tool sequence (exact composite key)
- ``SIG_FIRST_TEXT`` — sha2 of the normalized first-turn text (exact)
- ``SIG_FULL_TEXT``  — sha2 of the full normalized text (exact dup key)
- ``LSH_TEXT``       — MinHash band-key array (``explodes=True`` mapping; SCORED rule)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sql_identity_resolution_spark.config import (
    AttributeMapping,
    EngineConfig,
    IdentifierMapping,
    Rule,
    SourceTable,
)
from sql_identity_resolution_spark.functions.minhash import minhash_band_keys_udf

# cap the text fed to minhash/scoring: near-dup transcripts agree on their
# prefix window; the cap bounds per-conversation UDF cost at 10^12-turn scale.
MATCH_TEXT_MAX_CHARS = 4000


def conversation_signatures(
    turns: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """One row per conversation with signature + blocking-key columns.

    Input-parallelism guard: the groupBy's PARTIAL aggregation (normalization
    + per-turn struct collect — most of this operator's CPU) runs map-side,
    i.e. at the INPUT's split count. A small/single-file turns table (one
    unsplittable row group) serializes it on one core regardless of cluster
    size (measured: a 5 s single-task stage at 4k conversations on local[32]).
    When the scan parallelism is well below the cores, pre-partition on
    conv_id — the groupBy then reuses that exchange (same key, same partition
    count), so the plan still has exactly ONE shuffle of turn text; wide
    multi-file inputs (the corpus-scale case) are left untouched."""
    spark = turns.sparkSession
    try:
        nparts = turns.rdd.getNumPartitions()  # driver-side planning, no job
    except Exception:
        nparts = None
    cores = spark.sparkContext.defaultParallelism
    if nparts is not None and nparts < max(2, cores // 2):
        turns = turns.repartition("conv_id")
    norm = F.trim(F.regexp_replace(F.lower(F.coalesce(F.col("t.text"), F.lit(""))), r"[^a-z0-9]+", " "))
    ordered = (
        turns.alias("t")
        .groupBy(F.col("t.conv_id").alias("conv_id"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("t.turn_idx").alias("turn_idx"),
                        F.col("t.role").alias("role"),
                        norm.alias("text_norm"),
                        F.coalesce(F.col("t.tool"), F.lit("")).alias("tool"),
                    )
                )
            ).alias("turns"),
            F.max("t.ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n_turns"),
        )
    )
    sig = ordered.select(
        "conv_id",
        "last_ts",
        "n_turns",
        # composite key: role:tool sequence ⊕ first-turn text — the role/tool
        # sequence alone is low-cardinality (most chats look user/assistant/…),
        # compositing keeps blocks discriminative (≙ reference's namespaced
        # composite keys, sql/common/10:21)
        F.sha2(
            F.concat_ws(
                "§",
                F.concat_ws(
                    "|",
                    F.transform("turns", lambda s: F.concat_ws(":", s["role"], s["tool"])),
                ),
                F.element_at("turns", 1)["text_norm"],
            ),
            256,
        ).alias("sig_role_tool"),
        F.sha2(F.element_at("turns", 1)["text_norm"], 256).alias("sig_first_text"),
        F.substring(
            F.concat_ws(" ", F.transform("turns", lambda s: s["text_norm"])),
            1,
            MATCH_TEXT_MAX_CHARS,
        ).alias("match_text"),
    )
    sig = sig.withColumn("sig_full_text", F.sha2("match_text", 256))
    band_udf = minhash_band_keys_udf(num_perm=num_perm, bands=bands, shingle_k=shingle_k)
    return sig.withColumn("lsh_bands", band_udf(F.col("match_text")))


_SIG_SCHEMA = (
    "conv_id string, last_ts timestamp, n_turns bigint, sig_role_tool string, "
    "sig_first_text string, match_text string, sig_full_text string, "
    "lsh_bands array<string>"
)

def _finalize_conversations(convs, num_perm, bands, shingle_k):
    """List of (conv_id, rows) → pandas DataFrame of signature rows; ``rows``
    is a list of (turn_idx, role, text_norm, tool, ts) tuples. Bit-identical
    to the JVM path: tuple sort ≙ array_sort's lexicographic struct compare
    (None sorts first ≙ Spark's NULLS FIRST), sha256 hex ≙ sha2(...,256)."""
    import hashlib

    import pandas as pd

    from sql_identity_resolution_spark.functions.minhash import minhash_band_keys

    out = {k: [] for k in (
        "conv_id", "last_ts", "n_turns", "sig_role_tool", "sig_first_text",
        "match_text", "sig_full_text",
    )}
    for conv_id, rows in convs:
        rows.sort(
            key=lambda r: (r[0] is not None, r[0] or 0, r[1] is not None, r[1] or "", r[2], r[3])
        )
        role_tool = "|".join(
            (f"{r[1]}:{r[3]}" if r[1] is not None else r[3]) for r in rows
        )
        first_text = rows[0][2]
        match_text = " ".join(r[2] for r in rows)[:MATCH_TEXT_MAX_CHARS]
        out["conv_id"].append(conv_id)
        out["last_ts"].append(max(r[4] for r in rows))
        out["n_turns"].append(len(rows))
        out["sig_role_tool"].append(
            hashlib.sha256(f"{role_tool}§{first_text}".encode()).hexdigest()
        )
        out["sig_first_text"].append(hashlib.sha256(first_text.encode()).hexdigest())
        out["match_text"].append(match_text)
        out["sig_full_text"].append(hashlib.sha256(match_text.encode()).hexdigest())
    pdf = pd.DataFrame(out)
    pdf["lsh_bands"] = minhash_band_keys(
        pdf["match_text"], num_perm=num_perm, bands=bands, shingle_k=shingle_k
    )
    return pdf


def conversation_signatures_clustered(
    turns: DataFrame,
    num_perm: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    out_chunk: int = 1024,
) -> DataFrame:
    """Shuffle-FREE signature build for conv_id-clustered input — the 100-TB
    layout: an Iceberg/parquet table bucketed + sorted by ``conv_id`` (each
    conversation's turns contiguous within one file, no conversation spanning
    files). A streaming group-by inside ``mapInPandas`` then aggregates each
    partition with zero exchange — the pipeline's single biggest shuffle (all
    turn text moving to its conversation's reducer) disappears, which on a
    shared-memory-bus box converts the stage from bandwidth-bound to
    compute-bound (and on a real cluster saves the network pass entirely).

    Output is bit-identical to :func:`conversation_signatures` (asserted in
    tests/test_transcripts_clustered.py). REQUIRES the layout contract; run
    :func:`validate_clustered_layout` once per layout change to verify it —
    violations silently emit duplicate per-conversation rows. Plain
    row-at-a-time Python never touches turn text: per-batch normalization is
    vectorized pandas ``str`` ops; MinHash runs on the same batched numpy path
    as the UDF."""
    import re

    import pandas as pd

    def build(it):
        norm_re = re.compile(r"[^a-z0-9]+")
        carry_id, carry_rows = None, []
        pending: list = []

        def flush_pending():
            return _finalize_conversations(pending, num_perm, bands, shingle_k)

        for pdf in it:
            if pdf.empty:
                continue
            text_norm = (
                pdf["text"].fillna("").str.lower().str.replace(norm_re, " ", regex=True).str.strip()
            )
            tool = pdf["tool"].fillna("")
            cid = pdf["conv_id"]
            rows = list(zip(pdf["turn_idx"], pdf["role"], text_norm, tool, pdf["ts"]))
            # split the batch at conversation boundaries (input is clustered:
            # each conversation is one contiguous run)
            start = 0
            for i in range(1, len(rows) + 1):
                if i == len(rows) or cid.iat[i] != cid.iat[i - 1]:
                    chunk = rows[start:i]
                    this_id = cid.iat[start]
                    if carry_id is not None and this_id == carry_id:
                        carry_rows.extend(chunk)
                    else:
                        if carry_id is not None:
                            pending.append((carry_id, carry_rows))
                        carry_id, carry_rows = this_id, chunk
                    start = i
            # everything except the still-open last group is complete
            if len(pending) >= out_chunk:
                yield flush_pending()
                pending = []
        if carry_id is not None:
            pending.append((carry_id, carry_rows))
        if pending:
            yield flush_pending()

    return turns.select("conv_id", "turn_idx", "role", "text", "tool", "ts").mapInPandas(
        build, _SIG_SCHEMA
    )


def validate_clustered_layout(turns: DataFrame) -> bool:
    """True iff no conv_id spans a read partition: Σ per-partition distinct
    conv_id == global distinct conv_id. One cheap aggregate pass; run it when
    adopting ``clustered=True`` on a new table layout (bucketed+sorted writes
    keep the invariant by construction)."""

    def count_groups(it):
        import pandas as pd

        n, last = 0, None
        for pdf in it:
            if pdf.empty:
                continue
            cid = pdf["conv_id"]
            n += int((cid != cid.shift()).sum())
            if last is not None and len(cid) and cid.iat[0] == last:
                n -= 1
            if len(cid):
                last = cid.iat[-1]
        yield pd.DataFrame({"n": [n]})

    per_part = turns.select("conv_id").mapInPandas(count_groups, "n long")
    total = per_part.agg(F.sum("n").alias("s")).collect()[0]["s"] or 0
    return int(total) == turns.select("conv_id").distinct().count()


def transcripts_source(
    table_id: str,
    turns_path: str,
    num_perm: int = 64,
    bands: int = 16,
    lsh_threshold: float = 0.6,
    max_group_size: int = 10_000,
    clustered: bool = False,
) -> tuple[SourceTable, list[Rule], list[IdentifierMapping]]:
    """Wire a transcripts table into the generic pipeline: the SourceTable
    reads turn-level parquet and lifts it to conversation signatures; rules
    and mappings follow the reference's metadata pattern
    (metadata_samples/rule.csv shapes). ``clustered=True`` opts into the
    shuffle-free signature build (input bucketed+sorted by conv_id — see
    :func:`conversation_signatures_clustered`)."""

    def reader(spark):
        build = conversation_signatures_clustered if clustered else conversation_signatures
        return build(spark.read.parquet(turns_path), num_perm=num_perm, bands=bands)

    def delta_reader(spark, since):
        """Signatures for DELTA conversations only: a pushed-down ts predicate
        finds conv_ids with any new turn, a semi-join pulls those
        conversations' FULL turn history (a changed conversation re-signs from
        scratch), and the groupBy + MinHash UDF run over just that slice —
        INCR cost ∝ delta, not corpus (the catalog identifier store supplies
        everyone else's signatures)."""
        turns = spark.read.parquet(turns_path)
        delta_ids = turns.filter(F.col("ts") >= F.lit(since)).select("conv_id").distinct()
        return conversation_signatures(
            turns.join(delta_ids, "conv_id", "left_semi"), num_perm=num_perm, bands=bands
        )

    source = SourceTable(
        table_id=table_id,
        entity_key_expr="conv_id",
        watermark_column="last_ts",
        reader=reader,
        delta_reader=delta_reader,
        # one signature row per conv_id by construction (the signature build
        # aggregates turns per conversation) ⇒ scoring may skip its defensive
        # per-entity text dedup
        match_text_unique=True,
    )
    rules = [
        Rule("R_ROLE_TOOL_EXACT", "SIG_ROLE_TOOL", "role:tool sequence exact", priority=1,
             max_group_size=max_group_size),
        Rule("R_FULL_TEXT_EXACT", "SIG_FULL_TEXT", "full normalized text exact", priority=2,
             max_group_size=max_group_size),
        Rule("R_LSH_TEXT", "LSH_TEXT", "minhash band + jaccard score", priority=3,
             match_strategy="SCORED", scorer="token_jaccard", threshold=lsh_threshold,
             max_group_size=max_group_size),
    ]
    mappings = [
        IdentifierMapping(table_id, "SIG_ROLE_TOOL", "sig_role_tool"),
        IdentifierMapping(table_id, "SIG_FULL_TEXT", "sig_full_text"),
        IdentifierMapping(table_id, "LSH_TEXT", "lsh_bands", explodes=True),
    ]
    return source, rules, mappings


def transcripts_attributes(table_id: str) -> list[AttributeMapping]:
    """Golden-profile survivorship attributes for a transcripts source — the
    per-cluster canonical signature (≙ reference golden profile, SURVEY §7.2
    M2): most recent conversation's signature/text snippet + size features."""
    return [
        AttributeMapping("canonical_signature", table_id, "sig_full_text", "MOST_RECENT"),
        AttributeMapping("canonical_snippet", table_id, "substring(match_text, 1, 200)", "MOST_RECENT"),
        AttributeMapping("canonical_n_turns", table_id, "cast(n_turns as string)", "MOST_RECENT"),
    ]
