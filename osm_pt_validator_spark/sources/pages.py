"""Pages source + extraction operators (graft G1/G2).

The `pages` table is the engine's 100 TB-scale fact input
(url, warc_ts, html, text, lang — BASELINE input_hint). Two Arrow
operators derive everything else, each one precompiled-regex pass per
row over the Arrow batch:

  * G1 `extract_text_udf` — BINARY html -> STRING text via an
    `arrow_udf`. Deterministic and **byte-identical per url** (the
    north-rule invariant): no locale/time dependence.
  * G2 `extract_mentions` — text -> exploded geocoded mention rows via
    one `mapInArrow`.

Mention grammar (produced by our deterministic synthetic pages and any
conformant upstream extractor):
    STOP:<id>@<lat>,<lon>      a stop mention with coordinates
    ROUTE:<id>                 a route mention

Scale notes: both operators are per-row-independent map work — no
shuffle, pipelined with the parquet/Iceberg scan; column pruning means
the (huge) html column is only read when G1 actually runs.

Why Python at all: the JVM alternative for G2
(``regexp_extract_all`` × 4 groups + ``arrays_zip`` + ``posexplode``)
evaluates the regex once per group and regex exec does not codegen.
Byte-identity with JVM/DuckDB ``regexp_extract_all`` is what lets the
DuckDB oracle replay extraction in SQL.
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import arrow_udf

_P_RX = re.compile(r"<p>(.*?)</p>")

_MENTION_RX = re.compile(r"(STOP|ROUTE):(\d+)(?:@(-?\d+\.\d+),(-?\d+\.\d+))?")

_KIND = {"STOP": "stop", "ROUTE": "route"}


def _paragraphs(html: bytes | None) -> str | None:
    """G1 kernel: '\\n'.join of the <p>…</p> bodies in document order;
    NULL html gives NULL text."""
    if html is None:
        return None
    return "\n".join(_P_RX.findall(html.decode("utf-8")))


def _text_batch(html: pa.Array) -> pa.Array:
    return pa.array([_paragraphs(h) for h in html.to_pylist()], pa.string())


def extract_text_udf(html: Column) -> Column:
    """G1: paragraph text extraction, byte-identical per url.

    The UDF is built on each call, against the active SparkContext: a
    UDF object caches its JVM function, which holds the context it was
    first used with, so a module-level one breaks after a session
    restart (tasks lose their accumulator update).
    """
    return arrow_udf(_text_batch, T.StringType())(html)


def with_extracted_text(pages: DataFrame) -> DataFrame:
    """pages + `extracted_text` column (must equal `text` byte-for-byte
    for conformant inputs — tested invariant)."""
    return pages.withColumn("extracted_text", extract_text_udf(F.col("html")))


_MENTION_OUT_SCHEMA = (
    "url string, mention_idx int, kind string, entity_id long, "
    "lat double, lon double"
)


def _mention_batches(
    batches: Iterator[pa.RecordBatch], from_html: bool
) -> Iterator[pa.RecordBatch]:
    for batch in batches:
        texts = batch.column(1).to_pylist()
        if from_html:
            texts = map(_paragraphs, texts)
        url, idx, kind, eid, lat, lon = [], [], [], [], [], []
        for u, text in zip(batch.column(0).to_pylist(), texts):
            if not text:
                continue
            for i, (k, e, la, lo) in enumerate(_MENTION_RX.findall(text)):
                url.append(u)
                idx.append(i)
                kind.append(_KIND[k])
                eid.append(int(e))
                # an unmatched coordinate group is "": NULL, never NaN
                lat.append(float(la) if la else None)
                lon.append(float(lo) if lo else None)
        if not url:
            continue
        yield pa.RecordBatch.from_pydict(
            {
                "url": pa.array(url, pa.string()),
                "mention_idx": pa.array(idx, pa.int32()),
                "kind": pa.array(kind, pa.string()),
                "entity_id": pa.array(eid, pa.int64()),
                "lat": pa.array(lat, pa.float64()),
                "lon": pa.array(lon, pa.float64()),
            }
        )


def extract_mentions(pages: DataFrame, from_html: bool = False) -> DataFrame:
    """G2: one row per geocoded mention, in document order.

    from_html=True re-extracts text inline with the G1 kernel (pipeline
    purity); default uses the stored text column (cheaper scan — html
    pruned).

    G1+G2 fusion: with from_html the text extraction runs INSIDE this
    mapInArrow with the same `_paragraphs` kernel as G1 (byte-identical
    output — tested vs extract_text_udf), instead of a separate UDF
    stage. One Python hop instead of two: the big html column crosses
    the Arrow boundary once and the intermediate text never round-trips
    JVM->Python->JVM->Python.
    """
    src = pages.select("url", "html" if from_html else "text")
    return src.mapInArrow(
        lambda batches: _mention_batches(batches, from_html),
        schema=_MENTION_OUT_SCHEMA,
    )


def read_pages(spark, path: str) -> DataFrame:
    """Scan a pages table (parquet/Iceberg directory). Column pruning +
    predicate pushdown come free from the declarative scan."""
    return spark.read.parquet(path)
