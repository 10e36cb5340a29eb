"""spark-submit entry point.

    spark-submit --py-files dist/idr.zip dist/idr_main.py \
        --config pipeline.json --mode INCR [--dry-run] [--cc star]

≙ the reference's orchestrator invocations (``python sql/duckdb/core/idr_run.py
--db=… --run-mode=FULL|INCR [--dry-run]``, idr_run.py:34-47). The config file
is the metadata-as-data bundle (sources/rules/mappings/exclusions/trust —
same shapes as metadata_samples/*.csv in the reference, one JSON/YAML doc here).

Packaging: ``make zip`` (build_pyfiles.py) produces ``dist/idr.zip`` plus the
``dist/idr_main.py`` application file (spark-submit has no ``python -m``
option, so a real file must be the application); in local mode plain
``python -m sql_identity_resolution_spark.plans.cli`` works.
"""

from __future__ import annotations

import argparse
import json
import sys

from sql_identity_resolution_spark.config import (
    AttributeMapping,
    EngineConfig,
    Exclusion,
    IdentifierMapping,
    Rule,
    SourceTable,
    SourceTrust,
)

# every top-level key load_config reads
_CONFIG_KEYS = {
    "warehouse", "sources", "rules", "mappings", "exclusions", "attributes", "trust",
    "max_iters", "cc_algorithm", "emit_duplicate_text_pairs", "transcript_sources",
}


def load_config(path: str) -> EngineConfig:
    """JSON (or YAML when pyyaml is available) → EngineConfig.
    ≙ tools/load_metadata.py:9-13 loading metadata_samples/*.csv."""
    with open(path) as f:
        text = f.read()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        try:
            import yaml  # type: ignore

            doc = yaml.safe_load(text)
        except ImportError as e:
            raise ValueError(f"{path} is not JSON and pyyaml is unavailable") from e
        except Exception as e:
            raise ValueError(f"{path}: neither valid JSON nor YAML: {e}") from e
    if not isinstance(doc, dict) or "warehouse" not in doc:
        raise ValueError(f"{path}: config must be a mapping with a 'warehouse' key")
    unknown = sorted(set(doc) - _CONFIG_KEYS)
    if unknown:
        # a typo or a removed option must not run silently on defaults
        raise ValueError(f"{path}: unknown config keys {unknown}; known keys: {sorted(_CONFIG_KEYS)}")

    def build(cls, rows):
        return [cls(**r) for r in rows or []]

    transcripts = doc.pop("transcript_sources", [])
    cfg = EngineConfig(
        warehouse=doc["warehouse"],
        sources=build(SourceTable, doc.get("sources")),
        rules=build(Rule, doc.get("rules")),
        mappings=build(IdentifierMapping, doc.get("mappings")),
        exclusions=build(Exclusion, doc.get("exclusions")),
        attributes=build(AttributeMapping, doc.get("attributes")),
        trust=build(SourceTrust, doc.get("trust")),
        max_iters=doc.get("max_iters", 30),
        cc_algorithm=doc.get("cc_algorithm", "auto"),
    )
    # transcripts sources: {"table_id": ..., "path": ..., "lsh_threshold": ...}
    from sql_identity_resolution_spark.sources.transcripts import (
        transcripts_attributes,
        transcripts_source,
    )

    if "emit_duplicate_text_pairs" in doc:
        cfg.emit_duplicate_text_pairs = bool(doc["emit_duplicate_text_pairs"])
    elif transcripts:
        # transcripts wiring always ships R_FULL_TEXT_EXACT, which already
        # links identical texts — the linear dup pairs would be redundant
        cfg.emit_duplicate_text_pairs = False
    for t in transcripts:
        with_attrs = t.pop("golden_attributes", True)
        src, rules, mappings = transcripts_source(**t)
        cfg.sources.append(src)
        cfg.rules.extend(rules)
        cfg.mappings.extend(mappings)
        if with_attrs:
            cfg.attributes.extend(transcripts_attributes(t["table_id"]))
    return cfg


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="idr-run", description=__doc__)
    ap.add_argument("--config", required=True, help="pipeline config JSON/YAML")
    ap.add_argument("--mode", default="FULL", choices=["FULL", "INCR"], help="run mode")
    ap.add_argument("--dry-run", action="store_true", help="compute diff, commit nothing")
    ap.add_argument("--cc", default=None, choices=["auto", "hash_min", "star"], help="CC algorithm override")
    ap.add_argument("--master", default=None, help="spark master override (default: env/local)")
    args = ap.parse_args(argv)

    from sql_identity_resolution_spark.plans.pipeline import IDRPipeline
    from sql_identity_resolution_spark.session import build_session

    cfg = load_config(args.config)
    if args.cc:
        cfg.cc_algorithm = args.cc
    spark = build_session(app_name="idr-run", master=args.master)
    res = IDRPipeline(spark, cfg).run(mode=args.mode, dry_run=args.dry_run)
    print(
        json.dumps(
            {
                "run_id": res.run_id,
                "status": res.status,
                "mode": res.mode,
                "dry_run": res.dry_run,
                "entities_processed": res.entities_processed,
                "edges_created": res.edges_created,
                "clusters_impacted": res.clusters_impacted,
                "lp_iterations": res.lp_iterations,
                "duration_seconds": res.duration_seconds,
                "stage_seconds": res.stage_seconds,
                "warnings": res.warnings,
            }
        )
    )
    return 0 if res.status.startswith(("SUCCESS", "DRY_RUN")) else 1


if __name__ == "__main__":
    sys.exit(main())
