"""Property-based tests (hypothesis) for the geometry-heavy operators
whose correctness is an invariant, not an example: compaction's exact
roundtrip and the radius join's candidate recall.

Spark round-trips are slow per example, so the Spark-backed properties
run few, highly-randomized examples; the pure parsers run many.
"""

from __future__ import annotations

import math

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

# -- pure parser: WARC scanner never loses a well-formed record --------------

_body = st.binary(min_size=0, max_size=200)
_url = st.from_regex(r"http://[a-z]{1,10}\.example/[a-z0-9]{0,8}", fullmatch=True)


@given(st.lists(st.tuples(_url, _body), min_size=0, max_size=8))
@settings(max_examples=60, deadline=None)
def test_warc_parser_roundtrip(records):
    from osm_pt_validator_spark.sources.warc import parse_warc_records

    buf = b"".join(
        (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Date: 2026-08-17T00:00:00Z\r\n"
            f"WARC-Target-URI: {u}\r\nContent-Length: {len(b)}\r\n\r\n"
        ).encode()
        + b
        + b"\r\n\r\n"
        for u, b in records
    )
    got = parse_warc_records(buf)
    # every record comes back, in order, with its exact block — even
    # when bodies contain CRLFs or the WARC/ magic itself
    assert [(f["warc-target-uri"], blk) for f, blk in got] == records


# -- compact/uncompact exact roundtrip ---------------------------------------

_cells = st.sets(
    st.tuples(st.integers(0, 31), st.integers(0, 31)).map(
        lambda ij: (ij[0] << 32) | ij[1]
    ),
    min_size=1,
    max_size=40,
)


@given(_cells)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_compact_roundtrip_property(spark, cells):
    from osm_pt_validator_spark.spatial.compact import (
        compact_cells,
        uncompact_cells,
    )

    df = spark.createDataFrame([(c,) for c in cells], "cell long")
    compacted = compact_cells(df, res=5, min_res=2)
    rows = compacted.collect()
    # no complete sibling quad survives above min_res
    by_res: dict[int, set[int]] = {}
    for r in rows:
        by_res.setdefault(r.res, set()).add(r.cell)
    for res, cs in by_res.items():
        if res <= 2:
            continue
        parents: dict[int, int] = {}
        for c in cs:
            p = (((c >> 33)) << 32) | ((c & 0xFFFFFFFF) >> 1)
            parents[p] = parents.get(p, 0) + 1
        assert all(n < 4 for n in parents.values()), (res, parents)
    # exact preimage
    back = {r.cell for r in uncompact_cells(compacted, res=5).collect()}
    assert back == cells


# -- radius join recall == brute force ---------------------------------------

_pts = st.lists(
    st.tuples(
        st.floats(-60.0, 84.5, allow_nan=False, allow_infinity=False),
        st.floats(-179.0, 179.0, allow_nan=False, allow_infinity=False),
    ),
    min_size=1,
    max_size=12,
)


def _hav(lat1, lon1, lat2, lon2):
    r = math.radians
    a = (
        math.sin(r(lat2 - lat1) / 2) ** 2
        + math.cos(r(lat1)) * math.cos(r(lat2)) * math.sin(r(lon2 - lon1) / 2) ** 2
    )
    return 2.0 * 6371000.0 * math.asin(math.sqrt(a))


@given(_pts, _pts, st.sampled_from([500.0, 5000.0, 50000.0]))
@example(left=[(82.0, 178.0)], right=[(82.0, -179.0)], d=50000.0)  # antimeridian
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_distance_join_recall_property(spark, left, right, d):
    from osm_pt_validator_spark.spatial.joins import distance_join

    ldf = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(left)],
        "lid long, lat double, lon double",
    )
    rdf = spark.createDataFrame(
        [(i, la, lo) for i, (la, lo) in enumerate(right)],
        "rid long, lat double, lon double",
    )
    got = {(r.lid, r.rid) for r in distance_join(ldf, rdf, d).collect()}
    want = {
        (i, j)
        for i, (la1, lo1) in enumerate(left)
        for j, (la2, lo2) in enumerate(right)
        if _hav(la1, lo1, la2, lo2) <= d
    }
    assert got == want


# -- pure geometry: monotone-chain hull invariants ---------------------------

_ipt = st.tuples(
    st.integers(min_value=-(10**6), max_value=10**6),
    st.integers(min_value=-(10**6), max_value=10**6),
)


@given(st.lists(_ipt, min_size=1, max_size=60))
@settings(max_examples=200, deadline=None)
def test_monotone_chain_hull_invariants(pts):
    from osm_pt_validator_spark.spatial.hull import monotone_chain

    hull = monotone_chain(pts)

    def cross(o, a, b):
        return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

    uniq = set(pts)
    assert set(hull) <= uniq
    assert hull[0] == min(uniq)
    n = len(hull)
    if n >= 3:
        for k in range(n):
            # strictly convex CCW: every turn a strict left turn
            assert cross(hull[k], hull[(k + 1) % n], hull[(k + 2) % n]) > 0
        # containment: every input point left-of-or-on every edge
        for p in uniq:
            for k in range(n):
                assert cross(hull[k], hull[(k + 1) % n], p) >= 0
    else:
        # all points collinear (or <3 distinct): hull is the 2 extremes
        assert hull == sorted({min(uniq), max(uniq)})
        if len(uniq) >= 3:
            a, b = hull[0], hull[-1]
            assert all(cross(a, b, p) == 0 for p in uniq)
    # idempotence: the hull of the hull is the hull
    assert monotone_chain(hull) == hull


# -- pure geometry: segment intersection vs float reference ------------------

_seg = st.tuples(
    st.integers(min_value=-100, max_value=100),
    st.integers(min_value=-100, max_value=100),
    st.integers(min_value=-100, max_value=100),
    st.integers(min_value=-100, max_value=100),
)


@given(_seg, _seg)
@settings(max_examples=300, deadline=None)
def test_segment_cross_predicate_matches_shapely_free_reference(s, t):
    """The integer orientation predicate agrees with an independent
    parametric (float) intersection solver on a dense small grid —
    small coords so the float reference is itself exact. (The PRODUCT
    Column expression is driven exhaustively in
    tests/test_spatial.py::test_segments_cross_column_expr_exhaustive_mini_grid;
    this suite stresses the ALGORITHM on a wider random coordinate
    range where the rational reference stays exact.)"""

    def int_predicate(p1, p2, q1, q2):
        def cross(o, a, b):
            return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])

        def on_seg(a, b, p):
            return (
                min(a[0], b[0]) <= p[0] <= max(a[0], b[0])
                and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])
            )

        d1, d2 = cross(q1, q2, p1), cross(q1, q2, p2)
        d3, d4 = cross(p1, p2, q1), cross(p1, p2, q2)
        if ((d1 > 0 and d2 < 0) or (d1 < 0 and d2 > 0)) and (
            (d3 > 0 and d4 < 0) or (d3 < 0 and d4 > 0)
        ):
            return True
        return (
            (d1 == 0 and on_seg(q1, q2, p1))
            or (d2 == 0 and on_seg(q1, q2, p2))
            or (d3 == 0 and on_seg(p1, p2, q1))
            or (d4 == 0 and on_seg(p1, p2, q2))
        )

    def sample_reference(p1, p2, q1, q2):
        # shared-point reference by exhaustive rational sampling: the
        # segments share a point iff the parametric equations admit a
        # common solution; check via fine fractional sweep + exact
        # endpoint/collinear handling using Fraction arithmetic
        from fractions import Fraction

        def at(a, b, t):
            return (
                Fraction(a[0]) + t * (b[0] - a[0]),
                Fraction(a[1]) + t * (b[1] - a[1]),
            )

        # solve with exact rationals: cross-based solve of p1+u*(p2-p1)
        # = q1+v*(q2-q1)
        rx, ry = p2[0] - p1[0], p2[1] - p1[1]
        sx, sy = q2[0] - q1[0], q2[1] - q1[1]
        denom = rx * sy - ry * sx
        qpx, qpy = q1[0] - p1[0], q1[1] - p1[1]
        if denom != 0:
            u = Fraction(qpx * sy - qpy * sx, denom)
            v = Fraction(qpx * ry - qpy * rx, denom)
            return 0 <= u <= 1 and 0 <= v <= 1
        # parallel: intersect iff collinear AND parameter ranges overlap
        if qpx * ry - qpy * rx != 0:
            return False
        # collinear: project q endpoints on p's parameter line
        if rx == 0 and ry == 0:  # p degenerate point
            if sx == 0 and sy == 0:
                return (p1 == q1)
            # is p1 on segment q?
            t_num = (p1[0] - q1[0]) * sx + (p1[1] - q1[1]) * sy
            t_den = sx * sx + sy * sy
            t = Fraction(t_num, t_den)
            return 0 <= t <= 1 and at(q1, q2, t) == (
                Fraction(p1[0]),
                Fraction(p1[1]),
            )
        den = rx * rx + ry * ry
        t0 = Fraction((q1[0] - p1[0]) * rx + (q1[1] - p1[1]) * ry, den)
        t1 = Fraction((q2[0] - p1[0]) * rx + (q2[1] - p1[1]) * ry, den)
        lo, hi = min(t0, t1), max(t0, t1)
        return hi >= 0 and lo <= 1

    p1, p2 = (s[0], s[1]), (s[2], s[3])
    q1, q2 = (t[0], t[1]), (t[2], t[3])
    assert int_predicate(p1, p2, q1, q2) == sample_reference(p1, p2, q1, q2)


# -- session_window ≡ pure-python gap sessionizer ----------------------------

_session_events = st.lists(
    st.tuples(
        st.integers(1, 3),  # user
        st.integers(0, 7_200_000_000),  # epoch micros within 2h
    ),
    min_size=1,
    max_size=30,
)


@given(_session_events)
@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
def test_session_stats_matches_python_replay(spark, events):
    """streaming/sessions.py:session_stats_frame against an
    independent pure-python sessionizer with the engine's inclusive
    rule (break only when gap > 30 min) — micros drawn near the
    boundary catch any >=/> drift the example tests might miss."""
    import datetime as dt

    from osm_pt_validator_spark.streaming.sessions import (
        session_stats_frame,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (u, base + dt.timedelta(microseconds=us)) for u, us in events
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = sorted(
        (r["user_id"], r["n_events"], r["start_epoch"], r["end_epoch"])
        for r in session_stats_frame(df, gap="30 minutes").collect()
    )

    gap_us = 30 * 60 * 1_000_000
    base_epoch = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    want = []
    by_user: dict[int, list[int]] = {}
    for u, us in events:
        by_user.setdefault(u, []).append(us)
    for u, uss in by_user.items():
        uss.sort()
        sess: list[int] = []
        for us in uss:
            if sess and us - sess[-1] > gap_us:
                want.append(
                    (
                        u,
                        len(sess),
                        base_epoch + sess[0] // 1_000_000,
                        base_epoch + sess[-1] // 1_000_000,
                    )
                )
                sess = []
            sess.append(us)
        want.append(
            (
                u,
                len(sess),
                base_epoch + sess[0] // 1_000_000,
                base_epoch + sess[-1] // 1_000_000,
            )
        )
    assert got == sorted(want)


# -- stages 0/1/2/7 against a replay of the reference's sequential checks ----

_STOPLIKE = {
    "stop", "stop_entry_only", "stop_exit_only",
    "platform", "platform_entry_only", "platform_exit_only",
}
_member = st.tuples(
    st.sampled_from(["node", "way", "relation"]),
    st.integers(1, 99),
    st.sampled_from(sorted(_STOPLIKE) + ["", "forward", "backward", "bogus"]),
)
# per key: absent (None), the required value, or a wrong value
_tag_choice = {
    "from": st.sampled_from([None, "A"]),
    "to": st.sampled_from([None, "B"]),
    "name": st.sampled_from([None, "N"]),
    "operator": st.sampled_from([None, "Op"]),
    "ref": st.sampled_from([None, "7"]),
    "type": st.sampled_from([None, "route", "route_master"]),
    "public_transport:version": st.sampled_from(["2", "2", "2", None, "1"]),
}
_relation = st.tuples(
    st.lists(_member, max_size=7),
    st.fixed_dictionaries(_tag_choice).map(
        lambda d: {k: v for k, v in d.items() if v is not None}
    ),
)


def _replay_route_relation(rid, members, tags, minimum_node_members):
    """validateRouteRelation stages 0/1/2/7 (route_relation.go:10-48,
    tags.go:5-29, node_count.go:7-21) as the reference runs them: one
    sequential pass per stage, verdicts appended in emission order."""
    rel_url = f"https://www.openstreetmap.org/relation/{rid}"
    if tags.get("public_transport:version") != "2":
        return [(rid, 0, 0, rel_url,
                 "tag 'public_transport:version' should have value '2'")]
    out = []
    s1 = [f"missing tag '{k}'" for k in ("from", "to", "name", "operator", "ref")
          if k not in tags]
    for k, want in (("type", "route"), ("public_transport:version", "2")):
        if k not in tags:
            s1.append(f"missing tag '{k}'")
        elif tags[k] != want:
            s1.append(f"tag '{k}' should have value '{want}'")
    out += [(rid, 1, i, rel_url, m) for i, m in enumerate(s1)]

    started_stops = started_route = route_before = stop_after = False
    for i, (typ, ref, role) in enumerate(members):
        url = f"https://www.openstreetmap.org/{typ}/{ref}"
        if role in _STOPLIKE:
            stop_after |= started_route
            started_stops = True
        else:
            route_before |= not started_stops
            started_route = True
        if typ == "node" and role == "":
            out.append((rid, 2, i, url, "stop/platform with empty role"))
        elif role != "" and role not in _STOPLIKE:
            out.append((rid, 2, i, url, f"element has unexpected role '{role}'"))
    flags = [
        msg for fired, msg in (
            (route_before, "route way appears before stop/platform"),
            (stop_after, "stop/platform appears after route ways"),
            (not started_stops, "route does not contain a stop/platform"),
            (not started_route, "route does not contain any route ways"),
        ) if fired
    ]
    out += [(rid, 2, 1_000_000_000 + i, "", m) for i, m in enumerate(flags)]

    n_nodes = sum(1 for typ, _, _ in members if typ == "node")
    if minimum_node_members >= 1 and n_nodes < minimum_node_members:
        out.append((rid, 7, 0, rel_url, "relation does not have enough node members"))
    return out


@given(st.lists(_relation, min_size=1, max_size=12), st.sampled_from([0, 1, 3]))
@settings(max_examples=12, deadline=None, suppress_health_check=list(HealthCheck))
def test_set_based_verdicts_match_sequential_replay(spark, rels, minimum_node_members):
    """The fused stage 0/1/2/7 pass agrees with the reference's
    sequential scans on every verdict column, stage_no and seq
    included — the member-order flags in particular come from min/max
    index algebra, not the scan."""
    from osm_pt_validator_spark.config import ValidationConfig
    from osm_pt_validator_spark.fixtures import relations_df
    from osm_pt_validator_spark.operators.set_stages import set_based_verdicts

    df = relations_df(
        spark,
        [(rid, 1, members, tags) for rid, (members, tags) in enumerate(rels, 1)],
    )
    cfg = ValidationConfig(minimum_node_members=minimum_node_members)
    got = sorted(tuple(r) for r in set_based_verdicts(df, cfg).collect())
    want = sorted(
        v
        for rid, (members, tags) in enumerate(rels, 1)
        for v in _replay_route_relation(rid, members, tags, minimum_node_members)
    )
    assert got == want
