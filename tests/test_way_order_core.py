"""Pure-core parity with way_order_test.go (16 cases) and
stop_order_test.go (8 cases) — no Spark needed."""

from __future__ import annotations

import pytest

from osm_pt_validator_spark.fixtures import (
    NETWORK_WAYS,
    STOP_ORDER_CASES,
    WAY_ORDER_CASES,
)
from osm_pt_validator_spark.operators.way_order import (
    run_stop_order,
    run_way_order,
)


def _resolved_oneway(tags: dict[str, str]) -> str | None:
    # python mirror of the F7 precedence for core-level tests
    for k in ("oneway:psv", "oneway:bus", "oneway"):
        if k in tags:
            return tags[k]
    if tags.get("junction") == "roundabout":
        return "yes"
    return None


@pytest.mark.parametrize(
    "name,way_ids,ignore,expected",
    WAY_ORDER_CASES,
    ids=[c[0] for c in WAY_ORDER_CASES],
)
def test_way_order_case(name, way_ids, ignore, expected):
    ways = [
        (wid, NETWORK_WAYS[wid][0], _resolved_oneway(NETWORK_WAYS[wid][1]))
        for wid in way_ids
    ]
    verdicts, directs, has_gap = run_way_order(ways, frozenset(ignore))
    assert verdicts == expected
    if not expected:
        assert not has_gap
        assert len(directs) == len(way_ids)
        assert all(d[1] in ("forward", "reverse", "any") for d in directs)


@pytest.mark.parametrize(
    "name,way_directs,stops,expected",
    STOP_ORDER_CASES,
    ids=[c[0] for c in STOP_ORDER_CASES],
)
def test_stop_order_case(name, way_directs, stops, expected):
    directs = [(i + 1, d, nodes) for i, (d, nodes) in enumerate(way_directs)]
    assert run_stop_order(directs, stops) == expected


def test_stop_order_skips_below_two_stops():
    directs = [(1, "forward", [1, 2, 3])]
    assert run_stop_order(directs, [999]) == []  # stop_order.go:18-21


def test_large_relation_single_arrow_row(spark):
    """Batch-bound guard: a 10^5-member relation (one Arrow row of
    ~10^5 structs with node arrays) must flow through the grouped
    mapInPandas automaton without Arrow failure, and validate clean."""
    from pyspark.sql import functions as F

    from osm_pt_validator_spark.operators.way_order import (
        validate_way_and_stop_order,
    )

    n = 100_000
    ways = spark.range(n).select(
        F.col("id").alias("way_id"),
        F.lit(1).alias("version"),
        F.array(F.col("id"), F.col("id") + 1).alias("nodes"),
        F.create_map().cast("map<string,string>").alias("tags"),
    )
    members = spark.range(n).select(
        F.lit(1).alias("relation_id"),
        F.col("id").cast("int").alias("member_idx"),
        F.lit("way").alias("type"),
        F.col("id").alias("ref"),
        F.lit("").alias("role"),
    )
    out = validate_way_and_stop_order(members, ways)
    assert out.count() == 0  # contiguous chain: no gaps, no oneway, no stops
