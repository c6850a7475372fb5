"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same seed
writes byte-identical parquet. Each returns a *ledger* of the properties
the inputs actually have (hot-cell share, injected defects, snapshot
churn), and the correctness expectation that follows from them, computed
here without the engine under test.

Tables are written as several part files so that a scan yields more
tasks than there are cores.
"""

from __future__ import annotations

import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 8

# --------------------------------------------------------------------------
# pages -> heatmap
# --------------------------------------------------------------------------

#: cells holding at least this share of all stop mentions are "hot"
HOT_SHARE_THRESHOLD = 0.02
ZIPF_S = 1.1
N_STOPS = 2000


def _write(table: pa.Table, path: str, n_files: int = N_FILES) -> None:
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k:03d}.parquet"))


def _cell16(lat: np.ndarray, lon: np.ndarray) -> np.ndarray:
    n = 1 << 16
    i = np.clip(np.floor((lat + 90.0) / 180.0 * n), 0, n - 1).astype(np.int64)
    j = np.clip(np.floor((lon + 180.0) / 360.0 * n), 0, n - 1).astype(np.int64)
    return (i << 32) | j


def make_pages(root: str, seed: int, n_pages: int) -> dict:
    """lineitem-shaped HTML pages, each with 1-3 STOP mentions and one
    ROUTE mention. Mentioned stops follow a Zipf law over N_STOPS stops,
    so a few cells receive a large share of the mentions."""
    rng = np.random.default_rng(seed)
    stop_ids = np.arange(100, 100 + N_STOPS, dtype=np.int64)
    s_lat = np.round(55.85 + rng.random(N_STOPS) * 0.15, 4)
    s_lon = np.round(-3.35 + rng.random(N_STOPS) * 0.25, 4)
    _write(pa.table({"stop_id": stop_ids, "s_lat": s_lat, "s_lon": s_lon}),
           os.path.join(root, "stops"), 2)

    weights = 1.0 / np.arange(1, N_STOPS + 1) ** ZIPF_S
    rank_to_stop = rng.permutation(N_STOPS)
    k = rng.integers(1, 4, n_pages)
    picks = rank_to_stop[rng.choice(N_STOPS, int(k.sum()), p=weights / weights.sum())]
    orderkey = np.arange(n_pages) // 4 + 1
    qty = rng.integers(1, 51, n_pages)
    price = np.round(rng.random(n_pages) * 1e5, 2)
    flags = rng.integers(0, 3, n_pages)
    routes = rng.integers(1, 1000, n_pages)

    urls, html = [], []
    pos = 0
    for p in range(n_pages):
        stops = " ".join(
            f"STOP:{stop_ids[s]}@{s_lat[s]:.4f},{s_lon[s]:.4f}"
            for s in picks[pos:pos + k[p]]
        )
        pos += k[p]
        urls.append(f"https://pages.example.org/l/{p}")
        html.append(
            f"<html><head><title>item {p}</title></head><body>"
            f"<p>order {orderkey[p]} flag {'ANR'[flags[p]]} qty {qty[p]}.00 "
            f"price {price[p]:.2f}</p><p>{stops} ROUTE:{routes[p]}</p></body></html>"
            .encode()
        )
    _write(pa.table({"url": urls, "html": pa.array(html, pa.binary())}),
           os.path.join(root, "pages"))

    cells = Counter(_cell16(s_lat[picks], s_lon[picks]).tolist())
    n_mentions = len(picks)
    hot = [c for c, n in cells.items() if n >= HOT_SHARE_THRESHOLD * n_mentions]
    return {
        "pages": n_pages,
        "stop_mentions": n_mentions,
        "hot_threshold": int(HOT_SHARE_THRESHOLD * n_mentions),
        "hot_cells_true": len(hot),
        "hot_share": sum(cells[c] for c in hot) / n_mentions,
    }


# --------------------------------------------------------------------------
# OSM route network with a defect ledger
# --------------------------------------------------------------------------

WAYS_PER_ROUTE = 6
NODE_STRIDE = 32  # node ids per route: chain 0..12, platforms 13/14
WAY_STRIDE = 8
MASTER_BASE = 900_000_000
GONE_MEMBER_BASE = 950_000_000

#: defect kind -> the stage_no of the single verdict it produces (None:
#: the relation aborts with an engine error and emits no verdict)
ROUTE_DEFECTS = {
    "non_ptv2": 0,
    "missing_tag": 1,
    "bad_role": 2,
    "bad_platform": 3,
    "gap": 4,
    "reversed_oneway": 5,
    "stop_order": 6,
    "missing_node": None,
}
MASTER_DEFECTS = {"master_missing_tag": 0, "master_gone_member": 0}
#: defects expressed in the relation alone; the only kinds a snapshot
#: change may add or remove (nodes and ways are shared by both snapshots)
RELATION_LEVEL = ("non_ptv2", "missing_tag", "bad_role", "gap", "stop_order", "missing_node")
DEFECT_RATE = 0.02  # per kind

_MEMBER = pa.struct([("type", pa.string()), ("ref", pa.int64()), ("role", pa.string())])
_TAGS = pa.map_(pa.string(), pa.string())


def _route_dims(r: int, defect: str | None):
    """Nodes and ways of route r: a chain of WAYS_PER_ROUTE 3-node ways,
    stop positions at both ends, two platforms off the route."""
    base = r * NODE_STRIDE
    chain = [base + i for i in range(2 * WAYS_PER_ROUTE + 1)]
    nodes = []
    for i, nid in enumerate(chain):
        tags = {}
        if i in (0, 2 * WAYS_PER_ROUTE):
            tags = {"public_transport": "stop_position", "bus": "yes", "name": f"S{nid}"}
        nodes.append((nid, tags))
    for p in (1, 2):
        tags = {"public_transport": "platform", "highway": "bus_stop",
                "name": f"P{base}", "naptan:AtcoCode": f"A{base + p}"}
        if defect == "bad_platform" and p == 1:
            del tags["name"]
        nodes.append((base + 2 * WAYS_PER_ROUTE + p, tags))
    ways = []
    for w in range(WAYS_PER_ROUTE):
        seg = chain[2 * w:2 * w + 3]
        tags = {"highway": "primary"}
        if w % 2 == 1:
            tags["oneway"] = "yes"
        if defect == "reversed_oneway" and w == 2:
            seg = seg[::-1]
            tags["oneway"] = "yes"
        ways.append((r * WAY_STRIDE + w, seg, tags))
    return nodes, ways


def _route_relation(r: int, defect: str | None, rename: bool = False):
    base = r * NODE_STRIDE
    s1, s2 = base, base + 2 * WAYS_PER_ROUTE
    p1, p2 = base + 2 * WAYS_PER_ROUTE + 1, base + 2 * WAYS_PER_ROUTE + 2
    if defect == "missing_node":
        s2 = base + NODE_STRIDE - 1  # never written to the nodes table
    stops = [("node", s1, "stop"), ("node", p1, "platform"),
             ("node", s2, "stop"), ("node", p2, "platform")]
    if defect == "stop_order":
        stops[0], stops[2] = stops[2], stops[0]
    ways = [("way", r * WAY_STRIDE + w, "") for w in range(WAYS_PER_ROUTE)]
    if defect == "gap":
        del ways[2]
    members = stops + ways
    if defect == "bad_role":
        members.append(("node", p1, "platfrom"))
    tags = {"type": "route", "route": "bus", "public_transport:version": "2",
            "from": "A", "to": "B", "name": f"Route {r}{'b' if rename else ''}",
            "operator": "Op", "ref": str(r)}
    if defect == "non_ptv2":
        tags["public_transport:version"] = "1"
    if defect == "missing_tag":
        del tags["operator"]
    return (r, members, tags)


def _master_relation(m: int, routes: list[int], defect: str | None):
    members = [("relation", r, "") for r in routes]
    if defect == "master_gone_member":
        members.append(("relation", GONE_MEMBER_BASE + m, ""))
    tags = {"type": "route_master", "route": "bus", "name": f"M{m}", "ref": str(m),
            "operator": "Op"}
    if defect == "master_missing_tag":
        del tags["operator"]
    return (MASTER_BASE + m, members, tags)


def _relations_table(rows) -> pa.Table:
    return pa.table({
        "relation_id": pa.array([r[0] for r in rows], pa.int64()),
        "version": pa.array([1] * len(rows), pa.int32()),
        "members": pa.array([[{"type": t, "ref": ref, "role": ro} for t, ref, ro in r[1]]
                             for r in rows], pa.list_(_MEMBER)),
        "tags": pa.array([list(r[2].items()) for r in rows], _TAGS),
    })


def _write_dims(root: str, route_defects: dict[int, str | None]) -> None:
    nodes, ways = [], []
    for r, d in route_defects.items():
        n, w = _route_dims(r, d)
        nodes += n
        ways += w
    _write(pa.table({
        "node_id": pa.array([n[0] for n in nodes], pa.int64()),
        "lat": pa.array([55.9 + (n[0] % 100_000) * 1e-6 for n in nodes], pa.float64()),
        "lon": pa.array([-3.3 + (n[0] % 100_000) * 1e-6 for n in nodes], pa.float64()),
        "version": pa.array([1] * len(nodes), pa.int32()),
        "tags": pa.array([list(n[1].items()) for n in nodes], _TAGS),
    }), os.path.join(root, "nodes.parquet"))
    _write(pa.table({
        "way_id": pa.array([w[0] for w in ways], pa.int64()),
        "version": pa.array([1] * len(ways), pa.int32()),
        "nodes": pa.array([w[1] for w in ways], pa.list_(pa.int64())),
        "tags": pa.array([list(w[2].items()) for w in ways], _TAGS),
    }), os.path.join(root, "ways.parquet"))


def _draw(rng, n: int, kinds) -> list[str | None]:
    """One defect kind or None per item, each kind at DEFECT_RATE."""
    kinds = list(kinds)
    u = rng.random(n)
    pick = rng.integers(0, len(kinds), n)
    return [kinds[p] if x < DEFECT_RATE * len(kinds) else None for x, p in zip(u, pick)]


def expected_stage_counts(defects) -> dict[int, int]:
    """Verdict rows per stage_no that a correct validator emits for
    relations with these defects: one verdict per defect, none for a
    clean relation or an aborted one."""
    table = {**ROUTE_DEFECTS, **MASTER_DEFECTS}
    out = Counter(table[d] for d in defects if d is not None and table[d] is not None)
    return dict(sorted(out.items()))


def _network(rng, n_routes: int):
    route_def = dict(enumerate(_draw(rng, n_routes, ROUTE_DEFECTS), start=1))
    # every route_master groups two consecutive routes of the first fifth
    n_masters = n_routes // 10
    master_def = _draw(rng, n_masters, MASTER_DEFECTS)
    masters = [_master_relation(m, [2 * m + 1, 2 * m + 2], d) for m, d in enumerate(master_def)]
    return route_def, master_def, masters


def make_snapshots(root: str, seed: int, n_routes: int, churn: float = 0.01) -> dict:
    """Two relations snapshots over shared nodes/ways dims:
    `relations.parquet` (the old one, the table a full job reads) and
    `relations_new.parquet`. A `churn` share of routes differs: a third
    is changed in content, a third is gone, and as many new routes
    appear. Routes that belong to a route_master never change."""
    rng = np.random.default_rng(seed)
    route_def, master_def, masters = _network(rng, n_routes)
    n_each = max(1, int(n_routes * churn / 3))
    first_free = 2 * len(masters) + 1
    # only relations whose defect (if any) lives in the relation can change
    candidates = [r for r in range(first_free, n_routes + 1)
                  if route_def[r] is None or route_def[r] in RELATION_LEVEL]
    chosen = rng.choice(candidates, 2 * n_each, replace=False).tolist()
    changed, gone = chosen[:n_each], set(chosen[n_each:])
    new_ids = list(range(n_routes + 1, n_routes + 1 + n_each))
    new_def = dict(route_def)
    for r, d in zip(changed, _draw(rng, n_each, RELATION_LEVEL)):
        new_def[r] = d
    for r in gone:
        del new_def[r]
    for r, d in zip(new_ids, _draw(rng, n_each, ROUTE_DEFECTS)):
        new_def[r] = d

    _write_dims(root, {**route_def, **{r: new_def[r] for r in new_ids}})
    old_rows = [_route_relation(r, d) for r, d in route_def.items()] + masters
    new_rows = [_route_relation(r, d, rename=r in changed) for r, d in new_def.items()] + masters
    _write(_relations_table(old_rows), os.path.join(root, "relations.parquet"))
    _write(_relations_table(new_rows), os.path.join(root, "relations_new.parquet"))

    expected_new = Counter(expected_stage_counts(list(new_def.values()) + master_def))
    expected_new[0] += len(gone)  # 'relation no longer exists'
    old_defects = list(route_def.values()) + master_def
    return {
        "relations_old": len(old_rows),
        "relations_new": len(new_rows),
        "changed_share": n_each / len(new_rows),
        "new_share": n_each / len(new_rows),
        "gone_share": len(gone) / len(old_rows),
        "defects": dict(Counter(d for d in old_defects if d)),
        "expected_old": expected_stage_counts(old_defects),
        "expected_new": dict(sorted(expected_new.items())),
    }
