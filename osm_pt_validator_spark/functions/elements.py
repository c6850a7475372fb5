"""Scalar column expressions over OSM-shaped columns.

Everything here is a pure ``pyspark.sql.functions`` composition —
JVM-side, whole-stage-codegen friendly, no Python on the hot path.

Reference semantics:
  * element URL: ``https://www.openstreetmap.org/{type}/{id}``
    (pkg/osm/node.go:18-20, way.go:17-19, relation.go:19-21,41-43)
  * role enums (pkg/osm/role.go:3-10; relation.go:45-53)
  * oneway tag precedence (pkg/validation/way_order.go:192-206)
  * PTv2 gate (pkg/osm/relation.go:23-29)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ROLE_STOPS = ("stop", "stop_entry_only", "stop_exit_only")
ROLE_PLATFORMS = ("platform", "platform_entry_only", "platform_exit_only")
ROLES_STOPLIKE = ROLE_STOPS + ROLE_PLATFORMS

#: printf-style, so ``ELEMENT_URL % (type, id)`` renders the same URL
#: in plain Python as ``element_url`` does in a plan
ELEMENT_URL = "https://www.openstreetmap.org/%s/%d"


def element_url(elem_type: Column | str, ref: Column | str) -> Column:
    """Canonical OSM element URL; must be byte-identical to the
    reference's ``fmt.Sprintf`` so verdicts compare byte-equal."""
    t = F.col(elem_type) if isinstance(elem_type, str) else elem_type
    r = F.col(ref) if isinstance(ref, str) else ref
    return F.format_string(ELEMENT_URL, t, r)


def render_verdict(message: Column | str, url: Column | str) -> Column:
    """ValidationError.String() parity (pkg/validation/validator.go:31-33):
    ``fmt.Sprintf("%s - %s", Message, URL)`` — note the trailing
    ``" - "`` survives when URL is empty, exactly like the Go."""
    m = F.col(message) if isinstance(message, str) else message
    u = F.col(url) if isinstance(url, str) else url
    return F.format_string("%s - %s", m, F.coalesce(u, F.lit("")))


def is_stop_role(role: Column) -> Column:
    """Member.RoleIsStop (relation.go:45-48)."""
    return role.isin(*ROLE_STOPS)


def is_platform_role(role: Column) -> Column:
    """Member.RoleIsPlatform (relation.go:50-53)."""
    return role.isin(*ROLE_PLATFORMS)


def is_stoplike_role(role: Column) -> Column:
    """The 6-role set used by validateREMemberOrder
    (route_relation.go:57-64)."""
    return role.isin(*ROLES_STOPLIKE)


def is_ptv2(tags: Column) -> Column:
    """Relation.IsPTv2 (relation.go:23-29): tag present AND == '2'."""
    return F.coalesce(tags.getItem("public_transport:version") == F.lit("2"), F.lit(False))


def oneway_tag(tags: Column) -> Column:
    """getOnewayTag precedence (way_order.go:192-206):
    oneway:psv > oneway:bus > oneway > (junction=roundabout -> 'yes');
    NULL means no oneway restriction (Go returns "")."""
    return F.coalesce(
        tags.getItem("oneway:psv"),
        tags.getItem("oneway:bus"),
        tags.getItem("oneway"),
        F.when(tags.getItem("junction") == "roundabout", F.lit("yes")),
    )
