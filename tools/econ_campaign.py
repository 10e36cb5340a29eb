"""INCR-economics campaign at a scale where FULL is minutes (default 400k
conversations): FULL build, then a chained-dup INCR delta (worst case —
links into existing clusters, forcing impacted reclustering) and a
new-entity INCR delta (the common streaming shape — disjoint vocabulary,
insert-only store commits). Reproduces `campaigns_r4/econ_400k.json` on
demand so code changes (e.g. the merge-on-read edge MERGE) can be A/B'd.

Usage:
  python tools/econ_campaign.py [--convs 400000] [--delta 400] \
      [--corpus-dir DIR] [--out campaigns_r4/econ_400k_mor.json]

The corpus dir is reused across invocations when given (generation excluded
from the measured window). Prints one JSON document; writes it to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=400_000)
    ap.add_argument("--delta", type=int, default=400)
    ap.add_argument("--corpus-dir", default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--cpus", type=int, default=os.cpu_count() or 8)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sql_identity_resolution_spark import EngineConfig, IDRPipeline
    from sql_identity_resolution_spark.session import build_session
    from sql_identity_resolution_spark.sources.datagen_spark import generate_transcripts_spark
    from sql_identity_resolution_spark.sources.transcripts import (
        transcripts_attributes,
        transcripts_source,
    )

    spark = build_session(app_name="idr-econ", master=f"local[{args.cpus}]")
    spark.conf.set("spark.sql.shuffle.partitions", str(max(args.cpus * 2, 64)))

    corpus_dir = args.corpus_dir or tempfile.mkdtemp(prefix="idr_econ400k_")
    base_path = os.path.join(corpus_dir, "base")
    if not os.path.exists(os.path.join(base_path, "_SUCCESS")):
        turns = generate_transcripts_spark(spark, n_conversations=args.convs, seed=42).drop(
            "truth_cluster_id"
        )
        # production layout: bucketed + sorted by conv_id (shuffle-free signatures)
        turns.repartition(64, "conv_id").sortWithinPartitions("conv_id", "turn_idx").write.mode(
            "overwrite"
        ).parquet(base_path)

    # fresh working dir per campaign (deltas append into it); base files are
    # hardlinked, not copied — the reused corpus bytes are read in place
    work = tempfile.mkdtemp(prefix="idr_econ_work_")
    turns_path = os.path.join(work, "turns")
    os.makedirs(turns_path)
    for f in os.listdir(base_path):
        os.link(os.path.join(base_path, f), os.path.join(turns_path, f))
    n_turns = spark.read.parquet(turns_path).count()

    wh = os.path.join(work, "wh")
    out: dict = {"n_conversations": args.convs, "n_turns": n_turns}
    try:
        source, rules, mappings = transcripts_source("chat", turns_path, clustered=False)
        cfg = EngineConfig(
            warehouse=wh, sources=[source], rules=rules, mappings=mappings,
            emit_duplicate_text_pairs=False,
            attributes=transcripts_attributes("chat"),
        )
        pipe = IDRPipeline(spark, cfg)
        t0 = time.time()
        res_f = pipe.run("FULL")
        out["full_seconds"] = round(time.time() - t0, 3)
        out["full_stage_seconds"] = res_f.stage_seconds
        out["edges"] = res_f.edges_created

        def incr(tag: str, seed: int, token_tag: str, days: int) -> dict:
            delta = (
                generate_transcripts_spark(
                    spark, n_conversations=args.delta, seed=seed, token_tag=token_tag
                )
                .drop("truth_cluster_id")
                .withColumn("conv_id", F.concat(F.lit(f"{tag}_"), F.col("conv_id")))
                .withColumn("ts", F.col("ts") + F.expr(f"INTERVAL {days} DAYS"))
            )
            delta.coalesce(4).write.mode("append").parquet(turns_path)
            t0 = time.time()
            res_i = pipe.run("INCR")
            sec = round(time.time() - t0, 3)
            return {
                "delta_conversations": args.delta,
                "incr_seconds": sec,
                "incr_over_full": round(sec / out["full_seconds"], 3),
                "edges_created": res_i.edges_created,
                "entities_processed": res_i.entities_processed,
                "stage_seconds": res_i.stage_seconds,
                "store_commits": res_i.store_commits,
            }

        out["chained"] = incr("incr", 43, "", 370)
        out["new_entity"] = incr("incr2", 44, "zz", 380)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not args.corpus_dir:
            shutil.rmtree(corpus_dir, ignore_errors=True)

    doc = json.dumps(out)
    print(doc)
    if args.out:
        with open(os.path.join(REPO, args.out), "w") as f:
            f.write(doc + "\n")


if __name__ == "__main__":
    main()
