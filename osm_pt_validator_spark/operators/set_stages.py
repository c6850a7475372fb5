"""Set-based validator stages — one verdict-array builder per stage.

Stages 0/1/2/7 of validateRouteRelation (PTv2 gate, RE tags, member
order, node count; route_relation.go:10-48) and the route-master checks
are pure column algebra over a relation row (relation_id, members,
tags). Each stage is ONE Column builder returning
ARRAY<STRUCT<stage_no,seq,url,message>> of its fired checks, in the
reference's append order; `explode_verdicts` turns any such array into
verdict rows. `set_based_verdicts` concatenates the three route-relation
builders behind the PTv2 gate, so the whole of stages 0/1/2/7 is one
projection + explode over the relations table: one scan, zero
shuffles, whole-stage codegen.

Member order (route_relation.go:50-106) needs no sequential scan. The
Go loop sets its flags as it walks the members; each flag reduces
exactly to min/max index comparisons over the members array:
  * routeBeforeStops — set when a non-stoplike member is seen while no
    stoplike member has been seen yet (route_relation.go:73-78)
    <=> exists(non-stoplike) AND (no stoplike OR
        min_idx(non-stoplike) < min_idx(stoplike))
  * stopAfterRoute — set when a stoplike member is seen after any
    non-stoplike member (route_relation.go:67-72)
    <=> exists(both) AND max_idx(stoplike) > min_idx(non-stoplike)
  * !startedStops  <=> no stoplike member   => "route does not contain
    a stop/platform"
  * !startedRoute  <=> no non-stoplike member => "route does not
    contain any route ways"
Per-member verdicts come first, in member order (seq = member index);
the flags follow at seq FLAG_SEQ_BASE + position.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osm_pt_validator_spark.config import ValidationConfig
from osm_pt_validator_spark.functions.elements import (
    element_url,
    is_ptv2,
    is_stoplike_role,
)
from osm_pt_validator_spark.schemas import (
    STAGE_MEMBER_ORDER,
    STAGE_NODE_COUNT,
    STAGE_PTV2,
    STAGE_TAGS,
)

MSG_PTV2 = "tag 'public_transport:version' should have value '2'"
MSG_EMPTY_ROLE = "stop/platform with empty role"
MSG_ROUTE_BEFORE_STOPS = "route way appears before stop/platform"
MSG_STOP_AFTER_ROUTE = "stop/platform appears after route ways"
MSG_NO_STOPS = "route does not contain a stop/platform"
MSG_NO_WAYS = "route does not contain any route ways"
MSG_NOT_ENOUGH = "relation does not have enough node members"

RE_REQUIRED_TAGS = ("from", "to", "name", "operator", "ref")
RM_REQUIRED_TAGS = ("name", "ref", "operator")

#: seq base of a stage's relation-level verdicts (member-order flags, the
#: route-master tail), so they sort after its per-member verdicts
FLAG_SEQ_BASE = 1_000_000_000


def _v(stage: int, seq: Column, url: Column, message: Column) -> Column:
    return F.struct(
        F.lit(stage).cast("int").alias("stage_no"),
        seq.cast("long").alias("seq"),
        url.alias("url"),
        message.alias("message"),
    )


def no_verdicts() -> Column:
    return F.array().cast(
        "array<struct<stage_no:int,seq:bigint,url:string,message:string>>"
    )


def relation_url() -> Column:
    return element_url(F.lit("relation"), "relation_id")


def fired_verdicts(
    stage: int, url: Column, messages: Sequence[Column], seq_base: int = 0
) -> Column:
    """Row-level checks in emission order; each message is NULL when its
    check passes. seq = position among the fired checks (+ seq_base),
    matching the reference's append-order emission."""
    fired = F.filter(F.array(*messages), lambda m: m.isNotNull())
    return F.transform(fired, lambda m, i: _v(stage, i + F.lit(seq_base), url, m))


def member_verdicts(stage: int, message: Callable[[Column], Column]) -> Column:
    """One verdict per member whose message(m) is not NULL, in member
    order: seq = member index, url = the member's element URL."""
    return F.filter(
        F.transform(
            F.col("members"),
            lambda m, i: F.when(
                message(m).isNotNull(),
                _v(stage, i, element_url(m["type"], m["ref"]), message(m)),
            ),
        ),
        lambda v: v.isNotNull(),
    )


def tag_messages(
    tags: Column, required: Sequence[str], values: Sequence[tuple[str, str]] = ()
) -> list[Column]:
    """checkTagsPresent then checkTagValue (tags.go:5-29): one message
    per absent required key, in key order; then per (key, expected) a
    missing-tag or should-have-value message."""
    out = [
        F.when(~F.map_contains_key(tags, F.lit(k)), F.lit(f"missing tag '{k}'"))
        for k in required
    ]
    for key, expected in values:
        val = tags.getItem(key)
        out.append(
            F.when(val.isNull(), F.lit(f"missing tag '{key}'")).when(
                val != F.lit(expected),
                F.lit(f"tag '{key}' should have value '{expected}'"),
            )
        )
    return out


def re_tag_verdicts() -> Column:
    """Stage 1 — validateRETags (route_relation.go:108-125). The
    reference iterates a Go map for the two value checks (random
    order), so any fixed order is conformant."""
    return fired_verdicts(
        STAGE_TAGS,
        relation_url(),
        tag_messages(
            F.col("tags"),
            RE_REQUIRED_TAGS,
            (("type", "route"), ("public_transport:version", "2")),
        ),
    )


def member_order_verdicts() -> Column:
    """Stage 2 — validateREMemberOrder as array algebra (proof in the
    module docstring)."""
    members = F.col("members")
    per_member = member_verdicts(
        STAGE_MEMBER_ORDER,
        lambda m: F.when(
            (m["type"] == "node") & (m["role"] == ""), F.lit(MSG_EMPTY_ROLE)
        ).when(
            (m["role"] != "") & ~is_stoplike_role(m["role"]),
            F.format_string("element has unexpected role '%s'", m["role"]),
        ),
    )

    def index_of(pred: Callable[[Column], Column]) -> Column:
        # member index where pred holds, else NULL (array_min/max skip NULLs)
        return F.transform(members, lambda m, i: F.when(pred(m["role"]), i))

    stop_idx = index_of(is_stoplike_role)
    nonstop_idx = index_of(lambda r: ~is_stoplike_role(r))
    min_stop, max_stop = F.array_min(stop_idx), F.array_max(stop_idx)
    min_nonstop = F.array_min(nonstop_idx)
    has_stop, has_nonstop = min_stop.isNotNull(), min_nonstop.isNotNull()
    flags = fired_verdicts(
        STAGE_MEMBER_ORDER,
        F.lit(""),
        [
            F.when(
                has_nonstop & (~has_stop | (min_nonstop < min_stop)),
                F.lit(MSG_ROUTE_BEFORE_STOPS),
            ),
            # NULL (not fired) unless both kinds exist
            F.when(max_stop > min_nonstop, F.lit(MSG_STOP_AFTER_ROUTE)),
            F.when(~has_stop, F.lit(MSG_NO_STOPS)),
            F.when(~has_nonstop, F.lit(MSG_NO_WAYS)),
        ],
        seq_base=FLAG_SEQ_BASE,
    )
    return F.concat(per_member, flags)


def node_count_verdicts(minimum_node_members: int) -> Column:
    """Stage 7 — validateNodeMembersCount (node_count.go:7-21); a
    minimum below 1 disables the check (node_count.go:9-11)."""
    if minimum_node_members < 1:
        return no_verdicts()
    node_count = F.size(F.filter(F.col("members"), lambda m: m["type"] == "node"))
    return fired_verdicts(
        STAGE_NODE_COUNT,
        relation_url(),
        [F.when(node_count < minimum_node_members, F.lit(MSG_NOT_ENOUGH))],
    )


def explode_verdicts(df: DataFrame, verdicts: Column) -> DataFrame:
    """One (relation_id, stage_no, seq, url, message) row per element of
    a verdict array built over df's rows."""
    return df.select("relation_id", F.explode(verdicts).alias("v")).select(
        "relation_id", "v.*"
    )


def set_based_verdicts(
    relations: DataFrame, config: ValidationConfig
) -> DataFrame:
    """Stages 0 + 1 + 2 + 7 in one pass over the relations table:
    non-PTv2 relations emit ONLY the gate verdict
    (route_relation.go:18-21)."""
    checks = F.when(
        ~is_ptv2(F.col("tags")),
        F.array(_v(STAGE_PTV2, F.lit(0), relation_url(), F.lit(MSG_PTV2))),
    ).otherwise(
        F.concat(
            re_tag_verdicts(),
            member_order_verdicts(),
            node_count_verdicts(config.minimum_node_members),
        )
    )
    return explode_verdicts(relations, checks)
