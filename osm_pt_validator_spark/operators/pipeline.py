"""Full route-relation validation pipeline — the reference's hard-coded
stage order (pkg/validation/route_relation.go:10-48) as one declarative
plan.

Stage order and gating (all load-bearing for verdict parity):
  0. PTv2 gate — non-PTv2 relations get exactly ONE verdict and skip
     everything else (route_relation.go:18-21).
  1. RE tag checks (route_relation.go:23-24).
  2. member order (route_relation.go:26-27).
  3. platform/stop node tag checks (route_relation.go:29-33); a node
     that fails to load aborts stages 3-7 for that relation and emits
     an engine error.
  4/5. way order + oneway, 6. stop order (gated on zero way-order
     verdicts), inside one Arrow-batched per-relation pass.
  7. node-member count (route_relation.go:43-46).

Scale notes: stages 0-2 and 7 are one projection over the relations
table (operators/set_stages.py, no shuffle). Stage 3 is one hash join
against the nodes dim. Stages 4-6 are one shuffle on relation_id + one
Arrow hop. Verdict order inside a relation is reconstructed by sorting
on (stage_no, seq) — deterministic across any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.config import DEFAULT_CONFIG, ValidationConfig
from osm_pt_validator_spark.functions.elements import element_url, is_ptv2
from osm_pt_validator_spark.operators.node_checks import (
    missing_node_errors,
    validate_relation_nodes,
)
from osm_pt_validator_spark.operators.route_master import (
    split_route_master_members,
    validate_route_masters,
)
from osm_pt_validator_spark.operators.way_order import (
    STAGE_ENGINE_ERROR,
    validate_way_and_stop_order,
)
from osm_pt_validator_spark.schemas import STAGE_NODE_COUNT


def explode_members(relations: DataFrame) -> DataFrame:
    """(relation_id, member_idx, type, ref, role) — posexplode keeps the
    semantic member order as an explicit column."""
    return relations.select(
        "relation_id", F.posexplode("members").alias("member_idx", "m")
    ).select(
        "relation_id",
        "member_idx",
        F.col("m.type").alias("type"),
        F.col("m.ref").alias("ref"),
        F.col("m.role").alias("role"),
    )


def validate_route_relations(
    relations: DataFrame,
    nodes: DataFrame,
    ways: DataFrame,
    config: ValidationConfig = DEFAULT_CONFIG,
) -> tuple[DataFrame, DataFrame]:
    """Validate route relations; returns (verdicts, engine_errors).

    verdicts: (relation_id, stage_no, seq, url, message) — sort by
    (relation_id, stage_no, seq) to reproduce the reference's
    within-relation emission order.
    engine_errors: (relation_id, message) — the reference's Go-error
    channel (load failures), distinct from verdicts.
    """
    from osm_pt_validator_spark.operators.set_stages import set_based_verdicts

    # stages 0 + 1 + 2 + 7 fused: ONE projection pass over relations
    # (separate per-stage branches would re-scan the table per stage)
    vset = set_based_verdicts(relations, config)

    ptv2_ok = relations.filter(is_ptv2(F.col("tags")))
    members = explode_members(ptv2_ok)

    # abort set: relations with unresolvable node members skip stages
    # 3-7 (route_relation.go:29-33) — stages 0-2 survive, so only the
    # fused pass's stage-7 rows need the exclusion. The abort set is an
    # ERROR set — tiny by nature at any scale — so broadcast it
    # explicitly: without the hint its size is statically unknowable
    # (derived data) and the anti-joins degrade to sort-merge, sorting
    # the full members stream twice for a near-empty exclusion list.
    node_errors = missing_node_errors(members, nodes)
    aborted = F.broadcast(node_errors.select("relation_id").distinct())
    live_members = members.join(aborted, "relation_id", "left_anti")

    vset = (
        vset.join(aborted.withColumn("__ab", F.lit(True)), "relation_id", "left")
        .filter((F.col("stage_no") != STAGE_NODE_COUNT) | F.col("__ab").isNull())
        .drop("__ab")
    )

    v3 = validate_relation_nodes(live_members, nodes, config.naptan_platform_tags)

    # stages 4-6 (+ way-load engine errors on stage_no = -1)
    v456 = validate_way_and_stop_order(
        live_members, ways, config.ignore_traversal_direction_ways
    )
    way_errors = v456.filter(F.col("stage_no") == STAGE_ENGINE_ERROR).select(
        "relation_id", "message"
    )
    v456 = v456.filter(F.col("stage_no") != STAGE_ENGINE_ERROR)

    verdicts = vset.unionByName(v3).unionByName(v456)
    engine_errors = node_errors.unionByName(way_errors)
    return verdicts, engine_errors


def missing_relation_verdicts(work: DataFrame, relations: DataFrame) -> DataFrame:
    """HTTP-410 parity: any CheckRelationEvent whose relation is gone
    gets a 'relation no longer exists' verdict — for route-master
    members AND top-level work-list ids alike
    (cmd/validate-rm/main.go:59-63,77-96).

    Plan shape for scale: the work list is a job manifest (small), so
    probe the big relations table with a broadcast SEMI join (no
    shuffle, relation_id column-pruned scan), then anti-join the two
    now-small id sets.
    """
    work_ids = work.select("relation_id").distinct()
    present = relations.select("relation_id").join(
        F.broadcast(work_ids), "relation_id", "left_semi"
    )
    return gone_verdicts(work_ids.join(present, "relation_id", "left_anti"))


def gone_verdicts(ids: DataFrame) -> DataFrame:
    """One 'relation no longer exists' verdict per relation_id of `ids`
    (the reference's HTTP-410 path, cmd/validate-rm/main.go:59-63)."""
    return ids.select(
        "relation_id",
        F.lit(0).alias("stage_no"),
        F.lit(0).cast("long").alias("seq"),
        F.lit("").alias("url"),
        F.lit("relation no longer exists").alias("message"),
    )


def validate_all(
    relations: DataFrame,
    nodes: DataFrame,
    ways: DataFrame,
    config: ValidationConfig = DEFAULT_CONFIG,
    gone_handled: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """O1 type dispatch (scripts/validate/main.go:128-138) +
    O2 route_master split (cmd/validate-rm/main.go:118-168).

    route_master members are validated as route relations one level
    deep; unknown relation types go to the engine-error channel
    (reference: Go error "unknown relation type").

    gone_handled: relation_ids whose "relation no longer exists"
    verdicts the CALLER already emits (jobs.py routes mode) — excluded
    from the master-member gone path so a missing id that is both on
    the work list and a master member gets ONE verdict, not two.
    """
    rel_type = F.col("tags").getItem("type")
    routes = relations.filter(rel_type == "route")
    masters = relations.filter(rel_type == "route_master")
    unknown = relations.filter(rel_type.isNull() | ~rel_type.isin("route", "route_master"))

    master_verdicts = validate_route_masters(masters, config.minimum_route_variants)

    # split: master members become route work items; referenced
    # relations join back against the relations table. A member id with
    # no relation row mirrors the HTTP-410 path -> "relation no longer
    # exists" verdict (cmd/validate-rm/main.go:59-63,77-96).
    work = split_route_master_members(masters)
    gone = missing_relation_verdicts(work, relations)
    if gone_handled is not None:
        gone = gone.join(F.broadcast(gone_handled), "relation_id", "left_anti")
    member_routes = relations.join(
        F.broadcast(work.select("relation_id").distinct()), "relation_id", "left_semi"
    )
    # a master member may also appear in the top-level work list; the
    # reference would validate it twice (two SQS events) — dedup here.
    all_routes = routes.unionByName(member_routes).dropDuplicates(["relation_id"])

    route_verdicts, engine_errors = validate_route_relations(
        all_routes, nodes, ways, config
    )
    unknown_errors = unknown.select(
        "relation_id", F.lit("unknown relation type").alias("message")
    )
    verdicts = route_verdicts.unionByName(master_verdicts).unionByName(gone)
    return verdicts, engine_errors.unionByName(unknown_errors)


def collect_invalid(verdicts: DataFrame) -> DataFrame:
    """Sink shape parity with InvalidRelationEvent
    (pkg/snsEvents/types.go:5-10): verdicts grouped per relation, in
    emission order, plus the reference's printed form per verdict
    ("{message} - {url}", validator.go:31-33) as `rendered`."""
    from osm_pt_validator_spark.functions.elements import render_verdict

    sorted_vs = F.sort_array(
        F.collect_list(F.struct("stage_no", "seq", "url", "message"))
    )
    return (
        verdicts.groupBy("relation_id")
        .agg(
            F.transform(
                sorted_vs,
                lambda v: F.struct(v["url"].alias("url"), v["message"].alias("message")),
            ).alias("validation_errors"),
            F.count(F.lit(1)).alias("error_count"),
        )
        .withColumn(
            "rendered",
            F.transform(
                F.col("validation_errors"),
                lambda v: render_verdict(v["message"], v["url"]),
            ),
        )
        .withColumn(
            "relation_url",
            element_url(F.lit("relation"), "relation_id"),
        )
    )
