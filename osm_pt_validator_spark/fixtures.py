"""Deterministic fixtures ported from the reference's Go test data.

Sources (studied, not copied — these are data tables, re-keyed for
Spark):
  * the 10-way synthetic road network
    (reference pkg/validation/testdata/way_{1..10}.json, network.md)
  * way-order cases (pkg/validation/way_order_test.go:34-137)
  * stop-order cases (pkg/validation/stop_order_test.go:10-130)
  * member-order / tags / master / count cases
    (route_relation_test.go, route_master_test.go, node_count_test.go)

Coordinates are synthetic (FIXTURES.md §7): each node gets
``lat = 55.90 + node_id*1e-4``, ``lon = -3.30 + node_id*1e-4`` inside
the reference's Edinburgh search bbox, so the spatial layer has exact,
independently computable expected outputs.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, SparkSession

from osm_pt_validator_spark.schemas import (
    NODE_SCHEMA,
    PAGES_SCHEMA,
    RELATION_SCHEMA,
    WAY_SCHEMA,
)

# ---------------------------------------------------------------------------
# the 10-way network (testdata/way_{1..10}.json)
# ---------------------------------------------------------------------------

NETWORK_WAYS: dict[int, tuple[list[int], dict[str, str]]] = {
    1: ([100, 101], {}),
    2: ([102, 101], {}),
    3: ([102, 103, 105, 104], {}),
    4: ([106, 107, 108, 104, 106], {"junction": "roundabout"}),  # circular
    5: ([107, 109, 110], {}),
    6: ([110, 111], {"oneway": "yes"}),
    7: ([111, 110], {"oneway": "yes"}),
    8: ([112, 110], {"oneway": "yes", "oneway:psv": "no"}),
    9: ([100, 113, 101], {}),
    10: ([114, 101], {"junction": "roundabout"}),
}

ALL_NODE_IDS = sorted({n for nodes, _ in NETWORK_WAYS.values() for n in nodes})


def node_coords(node_id: int) -> tuple[float, float]:
    return (55.90 + node_id * 1e-4, -3.30 + node_id * 1e-4)


def stop_node_tags(node_id: int) -> dict[str, str]:
    """Tags making a node a fully valid stop_position (nodes.go:78-100)."""
    return {"public_transport": "stop_position", "bus": "yes", "name": f"Stop {node_id}"}


def node_rows(extra: list[tuple[int, dict[str, str]]] | None = None) -> list[tuple]:
    """nodes table rows: all network nodes as valid stops, plus extras
    (node_id, tags) appended/overriding."""
    tags_by_id: dict[int, dict[str, str]] = {n: stop_node_tags(n) for n in ALL_NODE_IDS}
    for nid, tags in extra or []:
        tags_by_id[nid] = tags
    rows = []
    for nid in sorted(tags_by_id):
        lat, lon = node_coords(nid)
        rows.append((nid, lat, lon, 1, tags_by_id[nid]))
    return rows


def way_rows() -> list[tuple]:
    return [(wid, 1, nodes, tags) for wid, (nodes, tags) in sorted(NETWORK_WAYS.items())]


def route_tags(**over: str) -> dict[str, str]:
    """A fully tagged PTv2 bus route (validateRETags requirements)."""
    tags = {
        "type": "route",
        "route": "bus",
        "public_transport:version": "2",
        "from": "Alpha",
        "to": "Omega",
        "name": "Bus X: Alpha => Omega",
        "operator": "Example Buses",
        "ref": "X",
    }
    tags.update(over)
    return tags


def member(m_type: str, ref: int, role: str = "") -> dict:
    return {"type": m_type, "ref": ref, "role": role}


def way_members(*way_ids: int) -> list[dict]:
    """setupWays equivalent (way_order_test.go:160-166)."""
    return [member("way", wid) for wid in way_ids]


def relation_row(relation_id: int, members: list[dict], tags: dict[str, str]) -> tuple:
    return (relation_id, 1, [(m["type"], m["ref"], m["role"]) for m in members], tags)


# ---------------------------------------------------------------------------
# way-order test cases (way_order_test.go:34-137) — (name, way_ids,
# ignore_ways, expected [(url, message), ...])
# ---------------------------------------------------------------------------

_OW = "way with oneway tag is traversed in wrong direction"
_ORD = "ways are incorrectly ordered"


def _wurl(wid: int) -> str:
    return f"https://www.openstreetmap.org/way/{wid}"


def _nurl(nid: int) -> str:
    return f"https://www.openstreetmap.org/node/{nid}"


WAY_ORDER_CASES: list[tuple[str, list[int], list[int], list[tuple[str, str]]]] = [
    ("valid route", [1, 2, 3], [], []),
    ("invalid route", [1, 3, 2], [], [(_wurl(3), _ORD)]),
    ("circular way in middle", [3, 4, 5], [], []),
    ("valid route starting with circular way", [4, 5], [], []),
    ("invalid route starting with circular way", [4, 1], [], [(_wurl(1), _ORD)]),
    ("enter and leave circular way at same node", [3, 4, 3], [], []),
    ("oneway traversed in correct direction", [5, 6], [], []),
    ("oneway traversed in wrong direction", [5, 7], [], [(_wurl(7), _OW)]),
    ("starts with oneway in correct direction", [8, 5], [], []),
    ("starts with oneway in wrong direction", [6, 5], [], [(_wurl(6), _OW)]),
    ("oneway:psv=no override", [5, 8], [], []),
    ("same end nodes permutation 1", [9, 1, 2], [], []),
    ("same end nodes permutation 2", [1, 9, 2], [], []),
    ("roundabout wrong direction", [2, 10], [], [(_wurl(10), _OW)]),
    ("roundabout correct direction", [10, 2], [], []),
    ("ignore-list override", [5, 7], [7], []),
]

# ---------------------------------------------------------------------------
# stop-order test cases (stop_order_test.go:10-130).
# wayDirects given directly as (direction, nodes); directions are the
# test's inputs ("backward" is intentionally an unknown direction string
# — getNodesInOrder treats anything not forward/any as reversed).
# ---------------------------------------------------------------------------

_NOTON = "stop is not on route"
_BADORD = "stop is incorrectly ordered"

STOP_ORDER_CASES: list[
    tuple[str, list[tuple[str, list[int]]], list[int], list[tuple[str, str]]]
] = [
    (
        "stops in correct order",
        [("forward", [101, 102, 103]), ("forward", [103, 104, 105])],
        [102, 104],
        [],
    ),
    (
        "stops in incorrect order",
        [("forward", [101, 102, 103]), ("forward", [103, 104, 105])],
        [104, 102],
        [(_nurl(102), _BADORD)],
    ),
    (
        "multiple stops in incorrect order",
        [
            ("forward", [101, 102, 103]),
            ("forward", [103, 104, 105]),
            ("forward", [105, 106, 107]),
        ],
        [104, 102, 105, 103],
        [(_nurl(102), _BADORD), (_nurl(103), _BADORD)],
    ),
    (
        "multiple stops in correct order on same way",
        [("forward", [101, 102, 103, 104, 105])],
        [102, 104],
        [],
    ),
    (
        "multiple stops in correct order on reversed way",
        [("backward", [101, 102, 103, 104, 105])],
        [104, 102],
        [],
    ),
    (
        "stop not on route",
        [("forward", [101, 102, 103, 104, 105])],
        [102, 109],
        [(_nurl(109), _NOTON)],
    ),
    (
        "stop on repeated way",
        [
            ("forward", [100, 101, 102]),
            ("forward", [102, 109, 103, 104]),
            ("forward", [104, 105, 106, 104]),
            ("reverse", [102, 109, 103, 104]),
            ("forward", [102, 107, 108]),
        ],
        [101, 103, 109, 107],
        [],
    ),
    (
        "stop at start and end of loop",
        [
            ("forward", [101, 102, 103]),
            ("forward", [103, 104, 105]),
            ("forward", [106, 107, 101]),
        ],
        [101, 104, 101],
        [],
    ),
]

_STOP_ROLE_CYCLE = ("stop", "stop_entry_only", "stop_exit_only")


def stop_members(*node_ids: int) -> list[dict]:
    """makeRelation equivalent (stop_order_test.go:132-142): roles cycle
    stop / stop_entry_only / stop_exit_only."""
    return [
        member("node", nid, _STOP_ROLE_CYCLE[i % 3]) for i, nid in enumerate(node_ids)
    ]


# ---------------------------------------------------------------------------
# Spark DataFrame builders
# ---------------------------------------------------------------------------


def nodes_df(spark: SparkSession, extra=None) -> DataFrame:
    return spark.createDataFrame(node_rows(extra), NODE_SCHEMA)


def ways_df(spark: SparkSession, extra_rows: list[tuple] | None = None) -> DataFrame:
    return spark.createDataFrame(way_rows() + (extra_rows or []), WAY_SCHEMA)


def relations_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    return spark.createDataFrame(rows, RELATION_SCHEMA)


# ---------------------------------------------------------------------------
# synthetic pages (graft input_hint shape) embedding mentions of the
# fixture network, so G1/G2 extraction reproduces it deterministically
# ---------------------------------------------------------------------------

_EPOCH = _dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc)


def render_html(title: str, paragraphs: list[str]) -> bytes:
    body = "".join(f"<p>{p}</p>" for p in paragraphs)
    return (
        f"<html><head><title>{title}</title></head><body>{body}</body></html>"
    ).encode("utf-8")


def page_text(paragraphs: list[str]) -> str:
    """The canonical extracted text: paragraphs joined by newline. The
    G1 extractor must reproduce this byte-identically from the html."""
    return "\n".join(paragraphs)


def pages_rows(relation_specs: list[tuple[int, list[int]]]) -> list[tuple]:
    """One page per relation mentioning its stop nodes.

    relation_specs: [(relation_id, [stop node ids in order])]
    Mention grammar parsed by G2: ``STOP:<id>@<lat>,<lon>`` and
    ``ROUTE:<id>``.
    """
    rows = []
    for i, (rel_id, stop_ids) in enumerate(relation_specs):
        paras = [f"Route ROUTE:{rel_id} serves {len(stop_ids)} stops."]
        for nid in stop_ids:
            lat, lon = node_coords(nid)
            paras.append(f"Stop {nid} STOP:{nid}@{lat:.4f},{lon:.4f} on route {rel_id}.")
        url = f"https://transit.example.org/route/{rel_id}"
        ts = _EPOCH + _dt.timedelta(minutes=i)
        rows.append((url, ts, render_html(f"Route {rel_id}", paras), page_text(paras), "en"))
    return rows


def pages_df(spark: SparkSession, relation_specs: list[tuple[int, list[int]]]) -> DataFrame:
    return spark.createDataFrame(pages_rows(relation_specs), PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# real-format media payloads (for operators/multimodal.py header parsing)
# ---------------------------------------------------------------------------


def png_payload(width: int, height: int) -> bytes:
    """A minimal REAL PNG header: signature + IHDR chunk carrying the
    given dimensions (PNG spec 11.2.2; CRC left zero — header parsers
    don't verify it)."""
    import struct as _s

    ihdr = _s.pack(">II", width, height) + b"\x08\x02\x00\x00\x00"
    return (
        b"\x89PNG\r\n\x1a\n" + _s.pack(">I", 13) + b"IHDR" + ihdr + b"\x00\x00\x00\x00"
    )


def png_full_payload(
    width: int, height: int, seed: int = 0, color_type: int = 2
) -> bytes:
    """A COMPLETE real PNG (signature, IHDR, IDAT, IEND, valid CRCs):
    8-bit, non-interlaced, gray (color_type 0) or RGB (2), pixels
    deterministic from ``seed``, per-row filter types cycling 0..4 so
    any decoder must implement the full PNG filter set. The filtering
    here is an independent forward implementation (spec 9) — not the
    decoder's inverse — so an encode/decode round trip is a real
    cross-check, not a tautology.
    """
    import struct as _s
    import zlib as _z

    ch = {0: 1, 2: 3}[color_type]
    stride = width * ch

    def _px(y: int, x: int, c: int) -> int:
        return (seed * 31 + y * 151 + x * 17 + c * 83) % 256

    raw_rows = [
        bytes(_px(y, x, c) for x in range(width) for c in range(ch))
        for y in range(height)
    ]

    def _pth(a: int, b: int, c: int) -> int:
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    body = bytearray()
    for y, row in enumerate(raw_rows):
        f = y % 5
        body.append(f)
        prev = raw_rows[y - 1] if y > 0 else bytes(stride)
        for x in range(stride):
            a = row[x - ch] if x >= ch else 0
            up = prev[x]
            cdiag = prev[x - ch] if x >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = up
            elif f == 3:
                pred = (a + up) // 2
            else:
                pred = _pth(a, up, cdiag)
            body.append((row[x] - pred) & 0xFF)

    def _chunk(cid: bytes, data: bytes) -> bytes:
        return (
            _s.pack(">I", len(data))
            + cid
            + data
            + _s.pack(">I", _z.crc32(cid + data) & 0xFFFFFFFF)
        )

    ihdr = _s.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", _z.compress(bytes(body)))
        + _chunk(b"IEND", b"")
    )


def jpeg_payload(width: int, height: int) -> bytes:
    """A minimal REAL JPEG marker stream: SOI, an APP0 segment (so the
    parser must actually walk markers), an SOF0 frame header with the
    given dimensions, EOI. 23 bytes total."""
    import struct as _s

    app0 = b"\xff\xe0" + _s.pack(">H", 4) + b"JF"
    sof = (
        b"\xff\xc0"
        + _s.pack(">H", 11)
        + b"\x08"
        + _s.pack(">HH", height, width)
        + b"\x01"
        + b"\x01\x11\x00"
    )
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def wav_payload(duration_ms: int, byte_rate: int = 8000) -> bytes:
    """A REAL RIFF/WAVE header whose fmt byte_rate and data-chunk size
    encode the given duration exactly (data bytes truncated to 64 —
    header parsers use the declared size). 108 bytes total."""
    import struct as _s

    data_size = duration_ms * byte_rate // 1000
    fmt = _s.pack("<HHIIHH", 1, 1, byte_rate, byte_rate, 1, 8)
    body = (
        b"WAVE"
        + b"fmt "
        + _s.pack("<I", 16)
        + fmt
        + b"data"
        + _s.pack("<I", data_size)
        + b"\x00" * min(data_size, 64)
    )
    return b"RIFF" + _s.pack("<I", len(body)) + body


def media_payload(doc_id: int, text: str) -> tuple[str, bytes]:
    """(kind, payload) for the contract media fixture — deterministic
    per doc_id so a SQL oracle can replay the expected header fields
    from the SAME arithmetic rules:
      doc_id %4 == 0: PNG   w=16+id%240, h=16+(id//7)%240 (33 bytes)
      doc_id %4 == 1: JPEG  w=16+id%200, h=16+(id//3)%200 (23 bytes)
      doc_id %4 == 2: WAV   duration=100+(id%120)*50 ms  (108 bytes)
      doc_id %4 == 3: unknown format (utf-8 text) -> md5 fake tier
    """
    m = doc_id % 4
    if m == 0:
        return "image", png_payload(16 + doc_id % 240, 16 + (doc_id // 7) % 240)
    if m == 1:
        return "image", jpeg_payload(16 + doc_id % 200, 16 + (doc_id // 3) % 200)
    if m == 2:
        return "audio", wav_payload(100 + (doc_id % 120) * 50)
    return "video", text.encode("utf-8")
