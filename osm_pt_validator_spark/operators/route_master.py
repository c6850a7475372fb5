"""Route-master validator (A2 + T6) — RouteMaster
(pkg/validation/route_master.go:7-27), set-based single pass.

Emission order (mirrored via seq): per-member "member is not a
relation" in member order, then "not enough route variants", then
missing name/ref/operator tags.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.operators.set_stages import (
    FLAG_SEQ_BASE,
    RM_REQUIRED_TAGS,
    explode_verdicts,
    fired_verdicts,
    member_verdicts,
    no_verdicts,
    relation_url,
    tag_messages,
)

#: route-master verdicts use their own single stage (the reference has
#: no multi-stage pipeline for masters)
STAGE_MASTER = 0

MSG_NOT_RELATION = "member is not a relation"
MSG_NOT_ENOUGH_VARIANTS = "not enough route variants"


def validate_route_masters(
    relations: DataFrame, minimum_route_variants: int
) -> DataFrame:
    not_relation = member_verdicts(
        STAGE_MASTER,
        lambda m: F.when(m["type"] != "relation", F.lit(MSG_NOT_RELATION)),
    )
    tail = []
    if minimum_route_variants > 0:
        rel_count = F.size(
            F.filter(F.col("members"), lambda m: m["type"] == "relation")
        )
        tail.append(
            F.when(rel_count < minimum_route_variants, F.lit(MSG_NOT_ENOUGH_VARIANTS))
        )
    tail.extend(tag_messages(F.col("tags"), RM_REQUIRED_TAGS))
    return explode_verdicts(
        relations,
        F.concat(
            # a NULL members array still gets the relation-level checks
            F.coalesce(not_relation, no_verdicts()),
            fired_verdicts(STAGE_MASTER, relation_url(), tail, seq_base=FLAG_SEQ_BASE),
        ),
    )


def split_route_master_members(route_masters: DataFrame) -> DataFrame:
    """O2 — every relation-type member of a route_master becomes a new
    work-list row (cmd/validate-rm/main.go:118-168; one level deep, no
    fixpoint needed). Returns (master_id, relation_id)."""
    return (
        route_masters.select(
            F.col("relation_id").alias("master_id"),
            F.explode("members").alias("m"),
        )
        .filter(F.col("m.type") == "relation")
        .select("master_id", F.col("m.ref").alias("relation_id"))
    )
