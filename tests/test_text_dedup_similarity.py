"""Text analysis, dedup family, similarity search, multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


DOCS = [
    (1, "The quick brown fox jumps over the lazy dog and the cat", "en", "a", 0),
    (2, "The quick brown fox jumps over the lazy dog and the cat", "en", "b", 0),  # exact dup of 1
    (3, "The quick brown fox jumps over the lazy dog and the hen", "en", "c", 0),  # near dup of 1
    (4, "Der Hund ist nicht auf der Couch und die Katze ist da", "de", "d", 0),
    (5, "completely different words entirely about spaceships galaxies", "en", "e", 0),
    (6, "the  QUICK   brown fox jumps over the lazy dog and the cat ", "en", "f", 0),  # ws/case dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        DOCS, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_token_count_and_lang(spark, docs):
    from osm_pt_validator_spark.operators.text import analyze_documents

    rows = {r.doc_id: r for r in analyze_documents(docs).collect()}
    assert rows[1].n_tokens == 12
    assert rows[1].lang_guess == "en"
    assert rows[4].lang_guess == "de"
    assert 0 <= rows[1].quality <= 100
    # whitespace/case-normalised fingerprint: 6 != 1 (case differs)...
    # fingerprint lowercases, so 6 == 1
    assert rows[6].fp == rows[1].fp
    assert rows[5].fp != rows[1].fp


def test_exact_dedup(spark, docs):
    from osm_pt_validator_spark.operators.dedup import exact_dedup, exact_dedup_groups

    groups = exact_dedup_groups(docs).collect()
    assert len(groups) == 1
    assert groups[0].keep_doc_id == 1
    assert groups[0].dup_count == 3  # docs 1, 2, 6
    kept = sorted(r.doc_id for r in exact_dedup(docs).collect())
    assert kept == [1, 3, 4, 5]


def test_minhash_near_duplicates(spark, docs):
    from osm_pt_validator_spark.operators.dedup import (
        minhash_near_duplicates,
        ngram_jaccard,
    )

    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_near_duplicates(docs, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 6) in pairs and pairs[(1, 6)] == 1.0
    assert (1, 3) in pairs and 0.5 <= pairs[(1, 3)] < 1.0
    assert all(a != 5 and b != 5 for a, b in pairs)  # 5 is unrelated

    # jaccard expression sanity against python oracle
    def py_shingles(t):
        import re

        toks = [w for w in re.split(r"[^a-zA-Z0-9']+", t.lower()) if w]
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sa, sb = py_shingles(DOCS[0][1]), py_shingles(DOCS[2][1])
    exp = round(len(sa & sb) / len(sa | sb), 6)
    got = (
        spark.createDataFrame([(DOCS[0][1], DOCS[2][1])], "a string, b string")
        .select(ngram_jaccard(F.col("a"), F.col("b")).alias("j"))
        .collect()[0]
        .j
    )
    assert abs(got - exp) < 1e-9


def test_simhash_near_duplicates(spark, docs):
    from osm_pt_validator_spark.operators.dedup import simhash_near_duplicates

    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_duplicates(docs, max_hamming=6).collect()}
    assert pairs.get((1, 2)) == 0
    assert pairs.get((1, 6)) == 0
    assert (1, 5) not in pairs


def test_degenerate_bucket_cap_no_oom(spark):
    """10^5 identical documents: every LSH band bucket / SimHash chunk
    bucket is one 100k-member mega-bucket; without the max_bucket
    guard the pair expansion builds ~5e9 structs inside ONE row and
    OOMs. With the guard the degenerate mass is dropped (that's
    exact_duplicates' job) while genuine near-dups in the same corpus
    are still found."""
    from osm_pt_validator_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_near_duplicates,
        simhash_near_duplicates,
    )

    n = 100_000
    mass = spark.range(n).select(
        (F.col("id") + 1000).alias("doc_id"),
        F.lit(
            "all rights reserved copyright notice please enable javascript "
            "to view this site terms of service apply"
        ).alias("text"),
    )
    distinct = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog and the cat"),
            (2, "The quick brown fox jumps over the lazy dog and the hen"),
            (3, "completely different words entirely about spaceships galaxies"),
        ],
        "doc_id long, text string",
    )
    corpus = mass.unionByName(distinct)

    lsh = minhash_lsh_pairs(corpus).collect()
    assert (1, 2) in {(r.doc_a, r.doc_b) for r in lsh}
    # no pair touches the degenerate mass (ids >= 1000)
    assert all(r.doc_a < 1000 and r.doc_b < 1000 for r in lsh)

    sim = simhash_near_duplicates(corpus, max_hamming=10).collect()
    assert all(r.doc_a < 1000 and r.doc_b < 1000 for r in sim)

    # cap disabled on a small corpus reproduces the uncapped semantics
    few = mass.filter(F.col("doc_id") < 1005).unionByName(distinct)
    capped = {(r.doc_a, r.doc_b) for r in minhash_near_duplicates(few, threshold=0.5).collect()}
    uncapped = {
        (r.doc_a, r.doc_b)
        for r in minhash_near_duplicates(few, threshold=0.5, max_bucket=None).collect()
    }
    assert capped == uncapped and (1000, 1001) in capped


@pytest.fixture(scope="module")
def vectors(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    for i in range(40):
        v = rng.randn(8).astype("float32")
        rows.append((i, [float(x) for x in v]))
    # 100,101: near-dups of vec 0
    base = np.array(rows[0][1])
    rows.append((100, [float(x) for x in base * 2.0]))
    rows.append((101, [float(x) for x in base + 0.001]))
    return rows, spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _py_cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb) if na * nb else 0.0


def test_brute_force_topk_vs_oracle(spark, vectors):
    from osm_pt_validator_spark.operators.similarity import brute_force_topk

    rows, emb = vectors
    queries = spark.createDataFrame(
        [(0, rows[0][1])], "query_id long, query_vec array<float>"
    )
    got = [
        (r.vec_id, r.sim)
        for r in brute_force_topk(emb, queries, k=3).orderBy("rank").collect()
    ]
    sims = sorted(
        ((round(_py_cos(rows_v, rows[0][1]), 6), vid) for vid, rows_v in rows),
        key=lambda t: (-t[0], t[1]),
    )
    exp = [(vid, s) for s, vid in sims[:3]]
    assert [g[0] for g in got] == [e[0] for e in exp]
    for g, e in zip(got, exp):
        assert abs(g[1] - e[1]) < 2e-6


def test_lsh_ann_finds_near_dups(spark, vectors):
    from osm_pt_validator_spark.operators.similarity import lsh_ann_topk

    rows, emb = vectors
    queries = spark.createDataFrame(
        [(0, rows[0][1])], "query_id long, query_vec array<float>"
    )
    got = [r.vec_id for r in lsh_ann_topk(emb, queries, dim=8, k=3).orderBy("rank").collect()]
    # scaled copy (100) has identical hyperplane signs => same bucket
    assert got[0] == 0
    assert 100 in got


def test_cosine_all_pairs_vs_python_oracle(spark, vectors):
    from osm_pt_validator_spark.operators.similarity import cosine_all_pairs

    rows, emb = vectors
    got = {
        (r.vec_a, r.vec_b): r.sim
        for r in cosine_all_pairs(emb, threshold=0.5).collect()
    }
    exp = {}
    for ia, va in rows:
        for ib, vb in rows:
            if ia < ib:
                s = round(_py_cos(va, vb), 6)
                if s >= 0.5:
                    exp[(ia, ib)] = s
    assert set(got) == set(exp)
    for k, s in exp.items():
        assert abs(got[k] - s) < 2e-6
    assert got[(0, 100)] == 1.0  # scaled copy: exactly cosine 1


def test_cosine_all_pairs_empty_corpus(spark):
    from osm_pt_validator_spark.operators.similarity import cosine_all_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = cosine_all_pairs(empty, threshold=0.5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_a", "vec_b", "sim"]


def test_cosine_all_pairs_guards_driver_collect(spark, vectors):
    import pytest

    from osm_pt_validator_spark.operators.similarity import cosine_all_pairs

    _, emb = vectors
    with pytest.raises(ValueError, match="cosine_near_dup_pairs"):
        cosine_all_pairs(emb, threshold=0.5, max_corpus_rows=2)


def test_cosine_near_dup_pairs(spark, vectors):
    from osm_pt_validator_spark.operators.similarity import cosine_near_dup_pairs

    _, emb = vectors
    pairs = {(r.vec_a, r.vec_b) for r in cosine_near_dup_pairs(emb, threshold=0.999, dim=8).collect()}
    assert (0, 100) in pairs
    assert (0, 101) in pairs


def test_png_pixel_decode_hand_computed_paeth():
    """Real PNG decode against a BY-HAND worked example (not a round
    trip): 2x2 gray, row0 filter None raw [10,20], row1 filter Paeth
    filtered [5,7] — spec arithmetic gives pixels [[10,20],[15,27]]."""
    import struct
    import zlib

    import numpy as np

    from osm_pt_validator_spark.operators.multimodal import _decode_png_pixels

    ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0)
    idat = zlib.compress(b"\x00\x0a\x14\x04\x05\x07")
    b = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + b"\x00" * 4
        + struct.pack(">I", len(idat)) + b"IDAT" + idat + b"\x00" * 4
        + struct.pack(">I", 0) + b"IEND" + b"\x00" * 4
    )
    px = _decode_png_pixels(b)
    assert px is not None and px.shape == (2, 2, 1)
    assert np.array_equal(px[:, :, 0], np.array([[10, 20], [15, 27]]))


def test_png_pixel_decode_roundtrip_all_filters():
    """png_full_payload (independent forward filtering, rows cycle
    filters 0..4) must decode to the exact generator-formula pixels for
    gray AND RGB."""
    import numpy as np

    from osm_pt_validator_spark.fixtures import png_full_payload
    from osm_pt_validator_spark.operators.multimodal import _decode_png_pixels

    for ct, ch in ((0, 1), (2, 3)):
        px = _decode_png_pixels(png_full_payload(5, 7, seed=3, color_type=ct))
        assert px is not None and px.shape == (7, 5, ch)
        want = np.array(
            [
                [[(3 * 31 + y * 151 + x * 17 + c * 83) % 256 for c in range(ch)]
                 for x in range(5)]
                for y in range(7)
            ],
            dtype=np.uint8,
        )
        assert np.array_equal(px, want), ct


def test_resample_images_real_pixels_and_require_real(spark):
    import hashlib

    import numpy as np
    import pytest

    from osm_pt_validator_spark.fixtures import jpeg_payload, png_full_payload
    from osm_pt_validator_spark.operators.multimodal import (
        _decode_png_pixels,
        resample_images,
    )

    png = png_full_payload(4, 4, seed=1)
    media = spark.createDataFrame(
        [
            (1, "image", bytearray(png), {}),
            (2, "image", bytearray(jpeg_payload(10, 8)), {}),
        ],
        "media_id long, kind string, payload binary, meta map<string,string>",
    )
    out = {r.media_id: r for r in resample_images(media, 2, 2).collect()}
    r1 = out[1]
    assert (r1.src_w, r1.src_h, r1.dst_w, r1.dst_h, r1.channels) == (4, 4, 2, 2, 3)
    assert r1.real_decode
    px = _decode_png_pixels(png)
    want = hashlib.md5(px[np.ix_([1, 3], [1, 3])].tobytes()).hexdigest()
    assert r1.resampled_md5 == want
    r2 = out[2]
    assert (r2.src_w, r2.src_h, r2.dst_w, r2.dst_h) == (10, 8, 2, 1)
    assert not r2.real_decode

    # require_real: full PNG passes (REAL pixel decode), JPEG raises
    ok = resample_images(media.filter(F.col("media_id") == 1), 2, 2,
                         require_real=True).collect()
    assert len(ok) == 1 and ok[0].real_decode
    with pytest.raises(Exception, match="DCT decoder|require_real"):
        resample_images(media.filter(F.col("media_id") == 2), 2, 2,
                        require_real=True).collect()


def test_multimodal_stub_plumbing(spark):
    from osm_pt_validator_spark.operators.multimodal import (
        decode_media,
        frame_sample,
        media_metadata,
    )

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(b"\x89PNG....imagebytes"), {}),
            (2, "video", bytearray(b"\x00\x00\x00 ftypmp42" + b"x" * 500), {}),
            (3, "audio", bytearray(b"ID3audio"), {}),
        ],
        "media_id long, kind string, payload binary, meta map<string,string>",
    )
    meta = {r.media_id: r for r in media_metadata(media).collect()}
    assert meta[1].magic_hex == "89504E47"
    d = {r.media_id: r for r in decode_media(media).collect()}
    assert d[1].width > 0 and d[1].height > 0 and d[1].duration_ms == 0
    assert d[2].duration_ms > 0 and d[2].width == 0
    assert len(d[1].features) == 8
    # determinism
    d2 = {r.media_id: r for r in decode_media(media).collect()}
    assert d[1].features == d2[1].features
    frames = frame_sample(media).collect()
    assert {r.media_id for r in frames} == {2}
    assert len(frames) == 8

    import pytest as _pt

    with _pt.raises(Exception) as ei:
        decode_media(media, require_real=True).collect()
    assert "NotImplementedError" in str(ei.value) or "real media decoding" in str(ei.value)


def test_ivf_ann_topk_vs_brute_force(spark, sf001):
    """IVF with nprobe=all centroids must EQUAL brute force (every cell
    probed => exact); with nprobe<C it returns a subset ranked the same
    way."""
    from osm_pt_validator_spark.operators.similarity import (
        brute_force_topk,
        ivf_ann_topk,
    )
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf001}/embeddings.parquet")
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r.query_id, r.rank): r.vec_id
        for r in brute_force_topk(e, queries, k=3).collect()
    }
    full = {
        (r.query_id, r.rank): r.vec_id
        for r in ivf_ann_topk(
            e, queries, k=3, num_centroids=4, nprobe=4
        ).collect()
    }
    assert full == exact

    # nprobe < C: approximate — each query still yields exactly k rows,
    # deterministically, with sims monotone in rank
    approx = ivf_ann_topk(e, queries, k=3, num_centroids=4, nprobe=1).collect()
    per_q = {}
    for r in approx:
        per_q.setdefault(r.query_id, []).append((r.rank, r.sim, r.vec_id))
    for q, rows in per_q.items():
        rows.sort()
        assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
        sims = [r[1] for r in rows]
        assert sims == sorted(sims, reverse=True)
    again = ivf_ann_topk(e, queries, k=3, num_centroids=4, nprobe=1).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, approx))


def test_verdict_failure_heatmap(spark):
    from osm_pt_validator_spark.config import ValidationConfig
    from osm_pt_validator_spark.fixtures import (
        nodes_df,
        relation_row,
        relations_df,
        route_tags,
        stop_members,
        way_members,
        ways_df,
    )
    from osm_pt_validator_spark.operators.pipeline import validate_route_relations
    from osm_pt_validator_spark.spatial.tiles import verdict_failure_heatmap

    # stops listed in reverse traversal order -> "stop is incorrectly
    # ordered" verdict anchored at a node URL with fixture coordinates
    rels = relations_df(
        spark,
        [relation_row(1, stop_members(104, 102) + way_members(3, 4), route_tags())],
    )
    verdicts, _ = validate_route_relations(
        rels, nodes_df(spark), ways_df(spark), ValidationConfig()
    )
    node_verdicts = verdicts.filter(verdicts.url.contains("/node/")).count()
    hm = verdict_failure_heatmap(verdicts, nodes_df(spark), z=15).collect()
    assert sum(r.n for r in hm) == node_verdicts > 0
    assert all(r.tile_z == 15 for r in hm)


def test_ngram_counts_occurrences_not_distinct(spark):
    """ngram_counts must count OCCURRENCES (unlike dedup's distinct
    shingles): a bigram repeated inside one doc counts each time."""
    from osm_pt_validator_spark.operators.text import ngram_counts

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x")], "doc_id long, text string"
    )
    got = {r.ngram: r.n for r in ngram_counts(docs, n=2, min_count=1).collect()}
    # "a b" occurs twice in doc1 ('a b','b a','a b','b c') + once in doc2
    assert got["a b"] == 3
    assert got["b a"] == 1
    assert ngram_counts(docs, n=2, min_count=3).count() == 1  # only "a b"


def test_tfidf_top_terms_ranks_rare_terms_higher(spark):
    from osm_pt_validator_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common rare rare"),
            (2, "common common common unique"),
            (3, "common filler"),
        ],
        "doc_id long, text string",
    )
    top = tfidf_top_terms(docs, k=1)
    got = {r.doc_id: r.term for r in top.collect()}
    # df(common)=3 -> idf = ln(4/4)+1 = 1.0; df=1 terms -> idf = ln(2)+1
    # doc1: rare 2*1.693 = 3.39 beats common 1.0
    # doc2: common 3*1.0 = 3.0 beats unique 1.693
    # doc3: filler 1.693 beats common 1.0
    assert got == {1: "rare", 2: "common", 3: "filler"}


def test_media_real_header_decode(spark):
    """PNG/JPEG dimensions and WAV duration are parsed for REAL from
    the container headers (stdlib struct) — not the md5 fake, which now
    only covers unknown formats."""
    from osm_pt_validator_spark.fixtures import (
        jpeg_payload,
        png_payload,
        wav_payload,
    )
    from osm_pt_validator_spark.operators.multimodal import decode_media

    media = spark.createDataFrame(
        [
            (1, "image", bytearray(png_payload(640, 480)), {}),
            (2, "image", bytearray(jpeg_payload(1024, 768)), {}),
            (3, "audio", bytearray(wav_payload(2500)), {}),
            (4, "video", bytearray(b"no such container format"), {}),
        ],
        "media_id long, kind string, payload binary, meta map<string,string>",
    )
    d = {r.media_id: r for r in decode_media(media).collect()}
    assert (d[1].width, d[1].height, d[1].duration_ms) == (640, 480, 0)
    assert (d[2].width, d[2].height, d[2].duration_ms) == (1024, 768, 0)
    assert (d[3].width, d[3].height, d[3].duration_ms) == (0, 0, 2500)
    # unknown format falls back to the documented md5 fake
    assert d[4].duration_ms > 0

    # require_real: parseable headers succeed, unknown formats raise
    parseable = media.filter("media_id < 4")
    ok = decode_media(parseable, require_real=True).collect()
    assert len(ok) == 3
    import pytest as _pt

    with _pt.raises(Exception) as ei:
        decode_media(media, require_real=True).collect()
    assert "NotImplementedError" in str(ei.value) or "no parseable header" in str(ei.value)


def test_paragraph_dedup_strips_boilerplate(spark):
    from pyspark.sql import functions as F

    from osm_pt_validator_spark.operators.dedup import paragraph_dedup

    bp = "subscribe now"
    docs = spark.createDataFrame(
        [
            (1, f"alpha body\n\n{bp}"),
            (2, f"beta body\n\n{bp}\n\nbeta extra"),
            (3, bp),             # nothing survives -> doc disappears
            (4, "gamma body"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["text"] for r in paragraph_dedup(docs).collect()}
    assert got[1] == f"alpha body\n\n{bp}"      # first occurrence keeps it
    assert got[2] == "beta body\n\nbeta extra"  # boilerplate stripped, order kept
    assert 3 not in got
    assert got[4] == "gamma body"


def test_winnow_fingerprints_guarantee_and_edges(spark):
    """Any shared token run of >= k+w-1 (=8) tokens must share at
    least one fingerprint; docs shorter than 8 tokens yield an empty
    set."""
    from pyspark.sql import functions as F

    from osm_pt_validator_spark.operators.dedup import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    docs = spark.createDataFrame(
        [
            (1, f"intro words here {shared} tail one"),
            (2, f"{shared} completely different ending text"),
            (3, "too short text"),
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: set(r["fps"])
        for r in docs.select(
            "doc_id", winnow_fingerprints(F.col("text")).alias("fps")
        ).collect()
    }
    assert got[1] & got[2], (got[1], got[2])   # guarantee: overlap
    assert got[3] == set()


def test_kmeans_fixed_point_vs_python_oracle(spark):
    """Lloyd in fixed point: an independent python replay must land on
    bit-identical centroids and assignments (engine-exactness is the
    operator's contract)."""
    import math

    from osm_pt_validator_spark.operators.kmeans import kmeans_fixed_point

    # 3 tight blobs in 4-d; ids interleaved so init (3 smallest ids)
    # does NOT start one-per-blob and the iterations must actually move
    blobs = [(0.0, 0.0, 0.0, 0.0), (1.0, 1.0, 0.0, 0.0), (0.0, 0.0, 1.0, 1.0)]
    rows = []
    for i in range(30):
        bx = blobs[i % 3]
        rows.append((i, [bx[d] + (i % 5) * 1e-4 for d in range(4)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents, assign = kmeans_fixed_point(df, k=3, iters=3)
    got_c = {r.cid: (tuple(r.cv), r.n) for r in cents.collect()}
    got_a = {r.id: r.cid for r in assign.collect()}

    # python replay (same quantization, same argmin tie-break, same
    # floor-division recompute)
    import numpy as np

    q = {
        i: [int(round(float(np.float32(v)) * 1e6)) for v in vec]
        for i, vec in rows
    }
    cent = {c: q[i] for c, i in enumerate(sorted(q)[:3])}
    for _ in range(3):
        a = {}
        for i, v in q.items():
            best = min(
                (sum((x - y) ** 2 for x, y in zip(v, cv)), c)
                for c, cv in cent.items()
            )
            a[i] = best[1]
        new = {}
        for c in set(a.values()):
            members = [q[i] for i in q if a[i] == c]
            new[c] = (
                [math.floor(sum(col) / len(members)) for col in zip(*members)],
                len(members),
            )
        cent = {c: cv for c, (cv, _n) in new.items()}
    assert got_a == a
    assert got_c == {c: (tuple(cv), n) for c, (cv, n) in new.items()}
    assert len(got_c) == 3


def test_kmeans_centroids_feed_ivf_assign(spark):
    """Trained centroids slot straight into the IVF coarse quantizer:
    every vector lands in the cluster k-means assigned it to (tight
    well-separated blobs, so cosine and euclidean argmin agree)."""
    from osm_pt_validator_spark.operators.kmeans import (
        centroids_for_ivf,
        kmeans_fixed_point,
    )
    from osm_pt_validator_spark.operators.similarity import ivf_assign

    blobs = [(5.0, 0.1, 0.1, 0.1), (0.1, 5.0, 0.1, 0.1), (0.1, 0.1, 5.0, 0.1)]
    rows = [
        (i, [blobs[i % 3][d] + (i % 7) * 1e-3 for d in range(4)])
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents, assign = kmeans_fixed_point(df, k=3, iters=3)

    ivf = ivf_assign(df, centroids_for_ivf(cents))
    got = {r.vec_id: r.centroid_id for r in ivf.collect()}
    want = {r.id: r.cid for r in assign.collect()}
    assert got == want and len(set(got.values())) == 3


def test_int8_quantized_topk_matches_brute_force(spark, vectors):
    from osm_pt_validator_spark.operators.similarity import (
        brute_force_topk,
        int8_quantized_topk,
    )

    rows, df = vectors
    queries = df.filter(F.col("vec_id").isin(0, 5)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(df, queries, k=5)
    quant = int8_quantized_topk(df, queries, k=5, rescore=4)

    e = {(r["query_id"], r["rank"]): r["vec_id"] for r in exact.collect()}
    got = quant.collect()
    q = {(r["query_id"], r["rank"]): r["vec_id"] for r in got}
    # int8 quantization keeps ~2 decimal digits of cosine — with 4x
    # rescore the exact top-5 must survive candidate selection
    assert q == e
    # approx sim within quantization error of the exact re-ranked sim
    assert all(abs(r["approx_sim"] - r["sim"]) < 0.02 for r in got)


def test_int8_ivf_topk_matches_brute_force(spark, vectors):
    from osm_pt_validator_spark.operators.similarity import (
        brute_force_topk,
        int8_ivf_topk,
    )

    rows, df = vectors
    queries = df.filter(F.col("vec_id").isin(0, 5)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = brute_force_topk(df, queries, k=5)
    e = {(r["query_id"], r["rank"]): r["vec_id"] for r in exact.collect()}

    # nprobe == num_centroids probes every inverted list, so the IVF
    # composition must reduce exactly to the quantized-brute result
    # (== brute force, given 4x rescore)
    full = int8_ivf_topk(df, queries, k=5, num_centroids=4, nprobe=4, rescore=4)
    got = full.collect()
    assert {(r["query_id"], r["rank"]): r["vec_id"] for r in got} == e
    assert all(abs(r["approx_sim"] - r["sim"]) < 0.02 for r in got)

    # nprobe < num_centroids: planted near-dups (100, 101 ~ vec 0) land
    # in vec 0's cell, so its top-2 neighbours survive a partial probe
    part = int8_ivf_topk(df, queries, k=5, num_centroids=4, nprobe=2, rescore=4)
    top = {
        (r["query_id"], r["rank"]): r["vec_id"]
        for r in part.collect()
        if r["query_id"] == 0 and r["rank"] <= 3
    }
    assert set(top.values()) == {0, 100, 101}


def test_duplicated_span_pairs_and_boilerplate_cap(spark):
    from osm_pt_validator_spark.operators.dedup import duplicated_span_pairs

    span = "the quick brown fox jumps over the lazy dog tonight again"
    docs = spark.createDataFrame(
        [
            (1, f"intro alpha beta {span} gamma delta closing words here"),
            (2, f"totally different opening {span} and a different ending too"),
            (3, "no shared content at all just some unrelated filler text"),
        ],
        "doc_id long, text string",
    )
    out = duplicated_span_pairs(docs, k=5, w=4, min_shared=2).collect()
    pairs = {(r["doc_a"], r["doc_b"]) for r in out}
    assert pairs == {(1, 2)}
    assert all(r["shared_fps"] >= 2 for r in out)

    # postings cap: the same span in 3 docs with max_postings=2 means
    # every shared fingerprint is "boilerplate" -> no pairs at all
    tri = spark.createDataFrame(
        [(i, f"doc number {i} says {span} uniquely") for i in (1, 2, 3)],
        "doc_id long, text string",
    )
    capped = duplicated_span_pairs(tri, k=5, w=4, min_shared=2, max_postings=2)
    assert capped.count() == 0


def test_byte_stats_features_known_payloads(spark):
    from osm_pt_validator_spark.operators.multimodal import byte_stats_features

    media = spark.createDataFrame(
        [
            (1, bytearray(b"aaaa")),        # one bucket -> entropy 0
            (2, bytearray(b"\x00\xff")),    # two equal buckets -> 1 bit
            (3, bytearray(b"")),            # empty -> no rows
        ],
        "media_id long, payload binary",
    )
    rows = byte_stats_features(media).collect()
    by_media = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    one = by_media[1]
    assert len(one) == 1 and one[0]["bucket"] == 6  # 'a' = 0x61
    assert one[0]["cnt"] == 4 and one[0]["ppm"] == 1000000
    assert one[0]["entropy_ubits"] == 0
    two = sorted(by_media[2], key=lambda r: r["bucket"])
    assert [r["bucket"] for r in two] == [0, 15]
    assert all(r["ppm"] == 500000 for r in two)
    assert all(r["entropy_ubits"] == 1000000 for r in two)
    assert 3 not in by_media


def test_resize_plan_real_headers_and_contract(spark):
    import pytest as _pytest

    from osm_pt_validator_spark.fixtures import media_payload
    from osm_pt_validator_spark.operators.multimodal import resize_plan

    k0, p0 = media_payload(0, "x")     # PNG 16x16
    k1, p1 = media_payload(481, "x")   # JPEG 16+481%200=97 x 16+160%200=176
    media = spark.createDataFrame(
        [(0, k0, bytearray(p0)), (481, k1, bytearray(p1))],
        "media_id long, kind string, payload binary",
    )
    got = {r["media_id"]: r for r in resize_plan(media, 224, 224).collect()}
    r0 = got[0]
    assert (r0["src_w"], r0["src_h"]) == (16, 16)
    assert (r0["dst_w"], r0["dst_h"]) == (224, 224)
    assert r0["scale_ppm"] == 14_000_000
    r1 = got[481]
    assert (r1["src_w"], r1["src_h"]) == (97, 176)
    # scale limited by height: 224e6 // 176 = 1272727 ppm
    assert r1["scale_ppm"] == 224 * 1_000_000 // 176
    assert r1["dst_h"] in (223, 224) and r1["dst_w"] == 97 * r1["scale_ppm"] // 1_000_000
    assert len(r1["resized_key"]) == 32

    # unknown format: fake tier by default, raises under require_real
    junk = spark.createDataFrame(
        [(9, "image", bytearray(b"not an image"))],
        "media_id long, kind string, payload binary",
    )
    assert resize_plan(junk).count() == 1
    with _pytest.raises(Exception):
        resize_plan(junk, require_real=True).collect()


def test_pmi_collocations_vs_python_oracle(spark):
    import math
    import re
    from collections import Counter

    from osm_pt_validator_spark.operators.text import pmi_collocations

    texts = [
        (1, "new york city is big new york never sleeps"),
        (2, "new york and new jersey share a river"),
        (3, "the city the city the city"),
        (4, ""),  # empty doc contributes nothing
        (5, "one"),  # single token: unigram only, no pair
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r.w1, r.w2): (r.pair_n, r.pmi_ppm)
        for r in pmi_collocations(docs, min_pair_count=2).collect()
    }

    uni: Counter = Counter()
    pair: Counter = Counter()
    for _, t in texts:
        ts = [w for w in re.split(r"[^a-zA-Z0-9']+", t.lower()) if w]
        uni.update(ts)
        pair.update(zip(ts, ts[1:]))
    n_tokens = sum(uni.values())
    want = {
        (a, b): (
            n,
            round(
                round(
                    math.log((float(n) * n_tokens) / (float(uni[a]) * uni[b])), 6
                )
                * 1e6
            ),
        )
        for (a, b), n in pair.items()
        if n >= 2
    }
    assert got == want and ("new", "york") in got
    # the single-token doc's word must still count as a unigram:
    # PMI of a pair involving it would shift if it were dropped —
    # assert via corpus token total reconstructed from the operator's
    # internals being consistent with the python count
    assert n_tokens == 24


def test_passage_windows_coverage_and_overlap(spark):
    from osm_pt_validator_spark.operators.text import passage_windows

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"t{i}" for i in range(10))),
            (2, "short doc"),
            (3, ""),
            (4, " ".join(f"u{i}" for i in range(7))),  # stride-aligned end
        ],
        "doc_id long, text string",
    )
    out = passage_windows(docs, window_tokens=4, stride=3).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.doc_id, r.window_idx)):
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts 1,4,7 — the last window ends exactly at token 10
    assert [(r.start_tok, r.n_tokens) for r in by_doc[1]] == [(1, 4), (4, 4), (7, 4)]
    assert by_doc[1][-1].passage == "t6 t7 t8 t9"
    # overlap: consecutive windows share window-stride = 1 token
    assert by_doc[1][0].passage.split()[-1] == by_doc[1][1].passage.split()[0]
    # short doc: one window with all tokens
    assert [(r.start_tok, r.n_tokens, r.passage) for r in by_doc[2]] == [
        (1, 2, "short doc")
    ]
    # empty doc: no windows
    assert 3 not in by_doc
    # 7 tokens, w=4: last_start=4 is ON the stride lattice — no dup window
    assert [(r.start_tok, r.n_tokens) for r in by_doc[4]] == [(1, 4), (4, 4)]
    # every token of doc 1 is covered by at least one window
    covered = set()
    for r in by_doc[1]:
        covered.update(range(r.start_tok, r.start_tok + r.n_tokens))
    assert covered == set(range(1, 11))


def test_bpe_merges_vs_python_replay(spark):
    import re
    from collections import Counter

    from osm_pt_validator_spark.operators.text import bpe_merges

    texts = [
        (1, "the cat sat on the mat the cat ran"),
        (2, "the cat saw the dog on the mat"),
        (3, "a a a a"),  # self-pairs excluded from merge candidates
        (4, ""),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    got = [tuple(r) for r in bpe_merges(docs, rounds=4).orderBy("round").collect()]

    corpus = [
        [w for w in re.split(r"[^a-zA-Z0-9']+", t.lower()) if w] for _, t in texts
    ]
    want = []
    for rnd in range(1, 5):
        counts: Counter = Counter()
        for toks in corpus:
            for a, b in zip(toks, toks[1:]):
                if a != b:
                    counts[(a, b)] += 1
        if not counts:
            break
        (l, r), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rnd, l, r, n))
        new_corpus = []
        for toks in corpus:
            out, i = [], 0
            while i < len(toks):
                if i + 1 < len(toks) and toks[i] == l and toks[i + 1] == r:
                    out.append(f"{l}_{r}")
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            new_corpus.append(out)
        corpus = new_corpus
    assert got == want
    assert got[0][1:3] == ("the", "cat")
    # the composed symbol participates in later rounds
    assert any("_" in l or "_" in r for _, l, r, _ in got[1:])


def test_bpe_apply_vs_python_replay(spark):
    """bpe_apply must equal a pure-Python greedy replay of the trained
    merge rules — and equal the trainer's own final corpus state (rules
    were derived from exactly these rewrites)."""
    import re

    from osm_pt_validator_spark.operators.text import bpe_apply, bpe_merges

    texts = [
        (1, "the cat sat on the mat the cat ran"),
        (2, "the cat saw the dog on the mat"),
        (3, "a a a a"),
        (4, ""),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    merges = bpe_merges(docs, rounds=4)
    rules = [(r["left"], r["right"]) for r in merges.orderBy("round").collect()]

    # pure-Python greedy replay
    want = {}
    for did, t in texts:
        toks = [w for w in re.split(r"[^a-zA-Z0-9']+", t.lower()) if w]
        for l, r in rules:
            out, i = [], 0
            while i < len(toks):
                if toks[i] == l and i + 1 < len(toks) and toks[i + 1] == r:
                    out.append(f"{l}_{r}")
                    i += 2
                else:
                    out.append(toks[i])
                    i += 1
            toks = out
        want[did] = toks

    got = {
        r.doc_id: (list(r.toks), r.n_tokens)
        for r in bpe_apply(docs, merges).collect()
    }
    assert got == {did: (toks, len(toks)) for did, toks in want.items()}
    # merged symbols actually appear in the tokenized corpus
    assert any("_" in t for t in want[1])


def test_pack_chunks_consumes_real_token_counts(spark):
    """pack_chunks(n_tokens_col=...) budgets on bpe_apply's true token
    counts: spans are contiguous per shard and sized by the REAL counts,
    not the bpe_ish proxy."""
    from osm_pt_validator_spark.operators.curation import pack_chunks
    from osm_pt_validator_spark.operators.text import bpe_apply, bpe_merges

    texts = [(i, "the cat sat on the mat " * (i + 1)) for i in range(6)]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    merges = bpe_merges(docs, rounds=2)
    toked = bpe_apply(docs, merges)
    packed = pack_chunks(
        toked.select("doc_id", "n_tokens"),
        budget=8,
        num_shards=2,
        n_tokens_col="n_tokens",
    ).collect()
    true_counts = {r.doc_id: r.n_tokens for r in toked.collect()}
    by_shard: dict[int, list] = {}
    for r in sorted(packed, key=lambda r: (r.shard, r.doc_id)):
        assert r.n_tokens == true_counts[r.doc_id]
        prev = by_shard.setdefault(r.shard, [])
        expect_start = prev[-1].start_tok + prev[-1].n_tokens if prev else 0
        assert r.start_tok == expect_start
        assert r.chunk_first == r.start_tok // 8
        assert r.chunk_last == (r.start_tok + r.n_tokens - 1) // 8
        prev.append(r)


def test_jaccard_similarity_join_lossless_vs_brute(spark):
    import itertools
    import re

    from osm_pt_validator_spark.operators.dedup import jaccard_similarity_join

    # 40 docs drawn from a small vocabulary so near-pairs are plentiful
    vocab = [f"w{k}" for k in range(12)]
    texts = [
        (i, " ".join(vocab[(i + j * j) % 12] for j in range(6)))
        for i in range(40)
    ]
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    t = 0.6
    got = {
        (r.doc_a, r.doc_b): (r.inter_n, r.union_n, r.jac_ppm)
        for r in jaccard_similarity_join(docs, threshold=t).collect()
    }

    sets = {
        i: {w for w in re.split(r"[^a-zA-Z0-9']+", s.lower()) if w}
        for i, s in texts
    }
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if inter >= t * union:
            want[(a, b)] = (inter, union, round(inter / union * 1e6))
    # LOSSLESS: prefix filtering must find every qualifying pair
    assert got == want and len(want) >= 5


def test_semantic_dedup_drops_higher_id_near_dup_within_cluster(spark):
    """SemDeDup (similarity.semantic_dedup): two near-identical
    vectors land in the same k-means cluster and the HIGHER id is
    dropped; everything else survives, and every input row comes back
    with its cluster id and kept flag."""
    from osm_pt_validator_spark.operators.similarity import semantic_dedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),      # seed centroid A
        (1, [0.0, 0.0, 1.0, 0.0]),      # seed centroid B
        (2, [0.9, 0.1, 0.0, 0.0]),      # cluster A
        (3, [0.9001, 0.1, 0.0, 0.0]),   # near-dup of 2 -> dropped
        (4, [0.0, 0.1, 0.9, 0.0]),      # cluster B
        (5, [0.1, 0.0, 0.9, 0.1]),      # cluster B, not a dup at 0.999
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r.vec_id: (r.cid, r.kept) for r in
           semantic_dedup(df, k=2, iters=2, threshold=0.999).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5}
    assert got[3][1] == 0 and all(got[i][1] == 1 for i in (0, 1, 2, 4, 5))
    # the near-dup pair shares a cluster; the two seed groups differ
    assert got[2][0] == got[3][0] == got[0][0]
    assert got[4][0] == got[5][0] == got[1][0] != got[0][0]


def test_bigram_lm_scores_python_replay_and_fluency_separation(spark):
    """text.bigram_lm_scores against an exact python replay of the
    add-one bigram LM, and the semantics that matter: a document made
    of target-corpus bigrams must score lower NLL-per-bigram than one
    made of bigrams the LM never saw."""
    import math
    import re

    from osm_pt_validator_spark.operators.text import bigram_lm_scores

    target_texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox sleeps under the old tree",
    ]
    docs = [
        (0, "the quick brown fox jumps"),     # in-domain
        (1, "zebra xylophone quantum entropy warp"),  # all-OOV
        (2, "one"),                            # < 2 tokens -> absent
    ]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    tdf = spark.createDataFrame(
        [(100 + i, t) for i, t in enumerate(target_texts)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.nll_micro, r.n_bigrams)
        for r in bigram_lm_scores(ddf, tdf).collect()
    }
    assert set(got) == {0, 1}

    def toks(t):
        return [x for x in re.split(r"[^a-z0-9']+", t.lower()) if x]

    c12, c1, vocab = {}, {}, set()
    for t in target_texts:
        ws = toks(t)
        vocab.update(ws)
        for a, b in zip(ws, ws[1:]):
            c12[(a, b)] = c12.get((a, b), 0) + 1
            c1[a] = c1.get(a, 0) + 1
    V = len(vocab)

    def half_away(x):
        return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)

    for doc_id, text in docs[:2]:
        ws = toks(text)
        want = sum(
            half_away(
                -math.log(
                    (c12.get((a, b), 0) + 1.0) / (c1.get(a, 0) + V)
                )
                * 1e6
            )
            for a, b in zip(ws, ws[1:])
        )
        assert got[doc_id] == (want, len(ws) - 1)
    # fluency separation, per-bigram
    assert got[0][0] / got[0][1] < got[1][0] / got[1][1]


def test_bm25_scores_python_replay(spark):
    """text.bm25_scores against an exact python BM25 replay (same
    float expression shape, micro-quantized contributions) on a tiny
    corpus; a doc hitting more query terms must outscore one hit."""
    import math
    import re

    from osm_pt_validator_spark.operators.text import bm25_scores

    corpus = [
        (0, "spark joins data with spark speed"),
        (1, "a window over the data stream"),
        (2, "cats and dogs"),
        (3, "spark window spark window spark"),
    ]
    terms = ["spark", "window"]
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    got = {
        r.doc_id: (r.score_micro, r.n_terms_hit)
        for r in bm25_scores(df, terms, k1=1.2, b=0.75).collect()
    }
    assert set(got) == {0, 1, 3}  # doc 2 hits nothing

    def toks(t):
        return [x for x in re.split(r"[^a-z0-9']+", t.lower()) if x]

    N = len(corpus)
    dls = {i: len(toks(t)) for i, t in corpus}
    avgdl = sum(dls.values()) / N
    dfs = {
        q: sum(1 for _, t in corpus if q in toks(t)) for q in terms
    }
    want = {}
    for i, t in corpus:
        cms = []
        for q in terms:
            tf = toks(t).count(q)
            if tf == 0:
                continue
            idf = math.log(1.0 + (N - dfs[q] + 0.5) / (dfs[q] + 0.5))
            part = (tf * (1.2 + 1.0)) / (
                tf + 1.2 * (1.0 - 0.75 + 0.75 * (dls[i] / avgdl))
            )
            x = idf * part * 1e6
            cms.append(int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1))
        if cms:
            want[i] = (sum(cms), len(cms))
    assert got == want
    assert got[3][0] > got[1][0]  # 5 hits on 2 terms beats 1 hit


def test_semantic_dedup_and_bm25_degenerate_inputs(spark):
    """Degenerate-input contracts: empty embeddings -> empty output;
    fewer vectors than k -> every vector its own cluster, all kept;
    bm25 with no-hit or empty term sets -> empty output (never a
    divide-by-zero from the empty stats row)."""
    from osm_pt_validator_spark.operators.similarity import semantic_dedup
    from osm_pt_validator_spark.operators.text import bm25_scores

    e = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert semantic_dedup(e, k=2, iters=1).count() == 0
    two = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    assert sorted(
        (r.vec_id, r.kept) for r in semantic_dedup(two, k=4, iters=1).collect()
    ) == [(0, 1), (1, 1)]
    d = spark.createDataFrame([(0, "alpha beta")], "doc_id long, text string")
    assert bm25_scores(d, ["zzz"]).count() == 0
    assert bm25_scores(d, []).count() == 0


def test_doc_stats_oracle_handles_token_empty_docs(spark):
    """Regression for the review finding: DuckDB's list_sum([]) is
    NULL, so a token-empty document (punctuation-only text) used to
    make the doc_stats oracle emit n_bpe_tokens = NULL while Spark's
    fold emits 0. Both engines must now agree on constructed
    token-empty rows."""
    import duckdb

    import __spark_entry__ as entry
    from osm_pt_validator_spark.operators.text import (
        bpe_ish_token_count,
        fingerprint,
        lang_id,
        token_count,
    )

    rows = [(0, "!!! ???"), (1, ""), (2, "the quick fox")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    t = F.col("text")
    got = sorted(
        tuple(r)
        for r in df.select(
            "doc_id",
            token_count(t).cast("long").alias("n_tokens"),
            bpe_ish_token_count(t).alias("n_bpe_tokens"),
            lang_id(t).alias("lang_guess"),
            fingerprint(t).alias("fp"),
        ).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = sorted(
        tuple(r) for r in con.execute(entry.oracle_sql()["doc_stats"]).fetchall()
    )
    assert got == want
    assert got[0][2] == 0 and got[1][2] == 0  # n_bpe_tokens 0, not NULL
