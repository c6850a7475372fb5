"""spark-submit entry point: validate a work-list of relations against
OSM-shaped parquet tables and write verdict/error tables.

    spark-submit --py-files .osm_pt_validator_spark.zip \
        -m osm_pt_validator_spark.jobs  (or python -m ... locally)
        --tables /data/osm --routes routes/ --out /data/verdicts

Mirrors the reference's CLI/Lambda lifecycle (scripts/validate/main.go,
cmd/trigger + cmd/validate-rm + cmd/validate-route) as one batch plan:
work-list -> semi-join relations -> validate_all -> grouped sink.
Exit code 1 when any verdicts exist (O4, main.go:122-125).
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tables", required=True, help="dir with nodes/ways/relations parquet")
    ap.add_argument("--routes", help="RoutesFile JSON path/glob (default: all relations)")
    ap.add_argument("--out", required=True, help="output dir (checkpointed stages)")
    ap.add_argument("--relation-id", type=int, help="validate a single relation (-r)")
    ap.add_argument(
        "--naptan",
        action="store_true",
        help="with --relation-id: enable naptan platform checks "
        "(reference -n flag, default false — scripts/validate/main.go:25-26,117)",
    )
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    from osm_pt_validator_spark.config import DEFAULT_CONFIG, ValidationConfig
    from osm_pt_validator_spark.operators.pipeline import (
        collect_invalid,
        missing_relation_verdicts,
        validate_all,
    )
    from osm_pt_validator_spark.plans.checkpoint import read_manifest, run_stage
    from osm_pt_validator_spark.session import ensure_py_files, get_spark
    from osm_pt_validator_spark.sources.routes_file import read_routes_files

    spark = get_spark("osm-pt-validate", cores=args.cpus)
    ensure_py_files(spark)

    nodes = spark.read.parquet(f"{args.tables}/nodes.parquet")
    ways = spark.read.parquet(f"{args.tables}/ways.parquet")
    relations = spark.read.parquet(f"{args.tables}/relations.parquet")

    from pyspark.storagelevel import StorageLevel

    # (config, relation-subset) work sets. The reference builds one
    # validator per routes file from that file's config block
    # (scripts/validate/main.go:70-74); we group files by *config value*
    # (ValidationConfig is a frozen dataclass) so a homogeneous routes
    # dir still runs as a single plan.
    work_sets: list[tuple[ValidationConfig, "object"]] = []
    gone = None
    gone_handled = None
    if args.relation_id:
        # reference -r path: Config{NaptanPlatformTags: npt}, npt
        # defaulting FALSE (scripts/validate/main.go:25-26,117)
        cfg = ValidationConfig(naptan_platform_tags=args.naptan)
        work_sets.append(
            (cfg, relations.filter(F.col("relation_id") == args.relation_id))
        )
    elif args.routes:
        worklist, configs = read_routes_files(spark, args.routes)
        # a work-list id with no relations row must NOT be silently
        # dropped: the reference's HTTP-410 path emits
        # "relation no longer exists" (cmd/validate-rm/main.go:59-63)
        gone = missing_relation_verdicts(worklist, relations)
        gone_handled = worklist.select("relation_id").distinct()
        by_cfg: dict[ValidationConfig, list[str]] = {}
        for path, cfg in configs.items():
            by_cfg.setdefault(cfg, []).append(path)
        for cfg, files in sorted(by_cfg.items(), key=lambda kv: kv[1]):
            ids = worklist.filter(F.col("source_file").isin(files)).select(
                "relation_id"
            ).distinct()
            work_sets.append(
                (cfg, relations.join(F.broadcast(ids), "relation_id", "left_semi"))
            )
    else:
        work_sets.append((DEFAULT_CONFIG, relations))

    # validate_all fans each work set into several branches (routes /
    # masters / unknown / master-member join) — persist the FILTERED
    # subset so it is computed once, not once per branch. Persisting
    # the raw relations table instead would cache the whole table on
    # a --relation-id run AND put a cache barrier in front of the
    # parquet scan, blocking predicate pushdown of the work filter.
    work_sets = [
        (cfg, rels.persist(StorageLevel.MEMORY_AND_DISK)) for cfg, rels in work_sets
    ]

    def _validate():
        # gone_handled: a work-list id that is missing AND a member of a
        # present route master would otherwise get "relation no longer
        # exists" twice — once from the jobs-level gone set above and
        # once from validate_all's master-member gone path. Routes mode
        # supplies its own gone verdicts, so validate_all excludes the
        # work-list ids from its master-member gone.
        parts = [
            validate_all(rels, nodes, ways, cfg, gone_handled=gone_handled)[0]
            for cfg, rels in work_sets
        ]
        if gone is not None:
            parts.append(gone)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    try:
        verdicts = run_stage(spark, args.out, "verdicts", _validate)
    finally:
        # verdicts is the checkpoint's parquet re-read: nothing reads the
        # work-set cache from here on
        for _, rels in work_sets:
            rels.unpersist()
    run_stage(spark, args.out, "invalid_relations", lambda: collect_invalid(verdicts))

    # both numbers were observed during the stage writes: invalid_relations
    # has one row per relation with a verdict
    n = read_manifest(args.out, "verdicts")["rows"]
    rels = read_manifest(args.out, "invalid_relations")["rows"]
    print(f"relations with verdicts: {rels}; verdicts: {n}")
    return 1 if n > 0 else 0


if __name__ == "__main__":
    sys.exit(main())
