"""G1/G2: byte-identical text extraction + mention parsing."""

from __future__ import annotations

import math
import os
import re
import subprocess
import sys
import textwrap

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from osm_pt_validator_spark.fixtures import node_coords, pages_df
from osm_pt_validator_spark.sources.pages import (
    extract_mentions,
    with_extracted_text,
)

SPECS = [(9001, [102, 104]), (9002, [100, 102, 105]), (9003, [])]


def test_text_extraction_byte_identical(spark):
    pages = pages_df(spark, SPECS)
    df = with_extracted_text(pages)
    rows = df.select("url", "text", "extracted_text").collect()
    assert len(rows) == 3
    for r in rows:
        assert r.extracted_text == r.text, r.url
        # byte-level, not just str equality
        assert r.extracted_text.encode("utf-8") == r.text.encode("utf-8")


def test_text_extraction_deterministic_across_runs(spark):
    pages = pages_df(spark, SPECS)
    a = {r.url: r.t for r in with_extracted_text(pages).select("url", F.col("extracted_text").alias("t")).collect()}
    b = {r.url: r.t for r in with_extracted_text(pages.repartition(7)).select("url", F.col("extracted_text").alias("t")).collect()}
    assert a == b


def test_mention_extraction(spark):
    pages = pages_df(spark, SPECS)
    m = extract_mentions(pages).orderBy("url", "mention_idx").collect()
    by_url: dict[str, list] = {}
    for r in m:
        by_url.setdefault(r.url, []).append(r)

    u1 = "https://transit.example.org/route/9001"
    got = by_url[u1]
    assert [(r.kind, r.entity_id) for r in got] == [
        ("route", 9001),
        ("stop", 102),
        ("stop", 104),
    ]
    # route mentions carry no coords; stop mentions carry rounded coords
    assert got[0].lat is None
    lat, lon = node_coords(102)
    assert abs(got[1].lat - round(lat, 4)) < 1e-9
    assert abs(got[1].lon - round(lon, 4)) < 1e-9
    # mention_idx is document order
    assert [r.mention_idx for r in got] == [0, 1, 2]
    # page with no stops: only the route mention
    assert len(by_url["https://transit.example.org/route/9003"]) == 1


def test_mentions_from_html_matches_stored_text(spark):
    pages = pages_df(spark, SPECS)
    a = sorted(
        (r.url, r.mention_idx, r.kind, r.entity_id)
        for r in extract_mentions(pages, from_html=False).collect()
    )
    b = sorted(
        (r.url, r.mention_idx, r.kind, r.entity_id)
        for r in extract_mentions(pages, from_html=True).collect()
    )
    assert a == b


# -- differential: extract_mentions vs a plain-Python replay and the
#    pandas extractall formulation the operator used to run -------------------

_P = r"<p>(.*?)</p>"
_MENTION = r"(STOP|ROUTE):(\d+)(?:@(-?\d+\.\d+),(-?\d+\.\d+))?"
_PAGE_SCHEMA = "url string, html binary, text string"


def _replay_text(html: bytes | None) -> str | None:
    if html is None:
        return None
    return "\n".join(m.group(1) for m in re.finditer(_P, html.decode("utf-8")))


def _replay(pages, from_html: bool) -> list[tuple]:
    out = []
    for url, html, text in pages:
        if from_html:
            text = _replay_text(html)
        for i, m in enumerate(re.finditer(_MENTION, text or "")):
            kind, eid, lat, lon = m.groups()
            out.append((url, i, kind.lower(), int(eid),
                        None if lat is None else float(lat),
                        None if lon is None else float(lon)))
    return sorted(out, key=repr)


def _pandas_extractall(pages, from_html: bool) -> list[tuple]:
    pdf = pd.DataFrame(pages, columns=["url", "html", "text"])
    if from_html:
        text = pdf["html"].str.decode("utf-8").str.findall(_P).str.join("\n")
    else:
        text = pdf["text"].fillna("")
    named = (r"(?P<kind>STOP|ROUTE):(?P<entity_id>\d+)"
             r"(?:@(?P<lat>-?\d+\.\d+),(?P<lon>-?\d+\.\d+))?")
    m = text.str.extractall(named).reset_index()
    num = lambda c: [None if math.isnan(v) else v  # noqa: E731
                     for v in pd.to_numeric(m[c], errors="coerce").astype(float)]
    return sorted(zip(
        pdf["url"].to_numpy()[m["level_0"].to_numpy()].tolist(),
        m["match"].astype(int).tolist(),
        m["kind"].str.lower().tolist(),
        m["entity_id"].astype("int64").tolist(),
        num("lat"),
        num("lon"),
    ), key=repr) if len(m) else []


def _spark_mentions(spark, pages, from_html: bool) -> list[tuple]:
    df = spark.createDataFrame(pages, _PAGE_SCHEMA)
    return sorted((tuple(r) for r in extract_mentions(df, from_html).collect()), key=repr)


def _page(url: str, paragraphs: list[str] | None) -> tuple:
    if paragraphs is None:
        return (url, None, None)
    html = "<html><body>" + "".join(f"<p>{p}</p>" for p in paragraphs) + "</body></html>"
    return (url, html.encode("utf-8"), "\n".join(paragraphs))


PINNED = [
    _page("u/null", None),
    ("u/empty", b"", ""),
    _page("u/no-mention", ["nothing here", "STOP without id", "ROUTE:"]),
    ("u/no-p", b"<html><body>STOP:1@1.0,2.0</body></html>", ""),
    _page("u/route", ["ROUTE:7 then STOP:8@1.5,2.5"]),
    _page("u/negative", ["STOP:9@-33.8688,-151.2093", "STOP:10@-0.0001,0.0001"]),
    _page("u/order", ["ROUTE:3", "STOP:2@1.0,1.0 STOP:1@2.0,2.0", "ROUTE:0"]),
    _page("u/partial", ["STOP:4@1.0 STOP:5@1.0,x STOP:6@.5,1.5 STOP:11@é"]),
]


@pytest.mark.parametrize("from_html", [False, True])
def test_mentions_differential_pinned(spark, from_html):
    got = _spark_mentions(spark, PINNED, from_html)
    assert got == _replay(PINNED, from_html) == _pandas_extractall(PINNED, from_html)
    by_url: dict[str, list] = {}
    for r in sorted(got, key=lambda r: (r[0], r[1])):
        by_url.setdefault(r[0], []).append(r)
    assert {"u/null", "u/empty", "u/no-mention", "u/no-p"}.isdisjoint(by_url)
    # ROUTE mentions carry NULL coordinates, not NaN
    assert by_url["u/route"][0][2:] == ("route", 7, None, None)
    assert by_url["u/route"][1][2:] == ("stop", 8, 1.5, 2.5)
    assert [r[4:] for r in by_url["u/negative"]] == [(-33.8688, -151.2093), (-0.0001, 0.0001)]
    assert [(r[1], r[3]) for r in by_url["u/order"]] == [(0, 3), (1, 2), (2, 1), (3, 0)]
    # "STOP:4@1.0" has no lon, so the optional coordinate group does not match
    assert [r[2:] for r in by_url["u/partial"]] == [
        ("stop", 4, None, None), ("stop", 5, None, None),
        ("stop", 6, None, None), ("stop", 11, None, None)]


def test_mentions_batch_without_mentions(spark):
    """Arrow batches with no mention (one page per batch here) yield no
    output batch; the other batches are unaffected."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        for from_html in (False, True):
            assert _spark_mentions(spark, PINNED, from_html) == _replay(PINNED, from_html)
            assert _spark_mentions(spark, PINNED[:4], from_html) == []
    finally:
        spark.conf.set(key, old)


def test_text_null_and_no_paragraph(spark):
    df = spark.createDataFrame(PINNED, _PAGE_SCHEMA)
    got = {r.url: r.extracted_text for r in with_extracted_text(df).collect()}
    assert got["u/null"] is None
    assert got["u/empty"] == "" and got["u/no-p"] == ""
    assert got == {url: _replay_text(html) for url, html, _ in PINNED}


_token = st.sampled_from(
    ["STOP:", "ROUTE:", "STOP", "@", ",", ".", "-", "0", "1", "42", "7.25",
     " ", "\n", "x", "é", "<p>", "</p>", "<p>STOP:5@-1.5,2.25</p>"]
)
_body = st.lists(_token, max_size=24).map("".join).filter(
    lambda s: not re.search(r"\d{19}", s)  # entity_id is a long
)
_pages = st.lists(
    st.tuples(st.one_of(st.none(), _body), st.one_of(st.none(), _body)),
    max_size=6,
).map(lambda ps: [(f"u/{i}", None if h is None else h.encode("utf-8"), t)
                  for i, (h, t) in enumerate(ps)])


@given(_pages)
@settings(max_examples=25, deadline=None, suppress_health_check=list(HealthCheck))
def test_mentions_differential_property(spark, pages):
    for from_html in (False, True):
        got = _spark_mentions(spark, pages, from_html)
        assert got == _replay(pages, from_html)
        assert got == _pandas_extractall(pages, from_html)


# -- a new session in the same process ---------------------------------------

_RESTART = textwrap.dedent("""
    from pyspark.sql import functions as F
    from osm_pt_validator_spark.session import ensure_py_files, get_spark
    from osm_pt_validator_spark.sources.pages import extract_text_udf

    for k in range(2):
        spark = get_spark("restart", cores=2, shuffle_partitions=2,
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
        ensure_py_files(spark)
        df = spark.createDataFrame([(b"<p>a</p><p>b</p>",), (None,)], "html binary")
        got = [r.t for r in df.select(extract_text_udf(F.col("html")).alias("t")).collect()]
        print("RUN", k, repr(got), flush=True)
        spark.stop()
""")


def test_text_udf_survives_session_restart():
    """extract_text_udf after spark.stop() and a new session: the UDF
    must bind to the new context, or every task's accumulator update is
    lost ('EOF reached before Python server acknowledged')."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)}
    proc = subprocess.run([sys.executable, "-c", _RESTART], cwd=root, env=env,
                          capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    runs = [ln for ln in proc.stdout.splitlines() if ln.startswith("RUN")]
    assert runs == ["RUN 0 ['a\\nb', None]", "RUN 1 ['a\\nb', None]"], proc.stdout
    assert "EOF reached before Python server acknowledged" not in proc.stderr + proc.stdout
