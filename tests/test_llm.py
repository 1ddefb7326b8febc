"""LLM-pipeline operator semantics tests with planted duplicates.

The driver fixture corpus is random word-soup (near-dup families correctly
return ~0 pairs there), so recall/precision are proven here on synthetic
corpora with planted near-duplicates.
"""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from parquet_compactor_spark.llm.dedup import (
    minhash_candidate_pairs,
    simhash_near_pairs,
)
from parquet_compactor_spark.llm.multimodal import extract_media_meta, fake_decode_meta

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside "
    "the old stone house near the river bend every single morning"
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    # 0/1: near-identical (one word changed); 2: identical to 0; 3/4: unrelated.
    rows = [
        (0, BASE),
        (1, BASE.replace("lazy", "sleepy")),
        (2, BASE),
        (3, "completely different content about spark query engines and parquet files"),
        (4, "yet another unrelated document discussing distributed joins and shuffles"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_minhash_finds_planted_near_dups(planted_docs):
    pairs = {
        (r.id1, r.id2): r.jaccard
        for r in minhash_candidate_pairs(planted_docs).collect()
    }
    assert (0, 2) in pairs and pairs[(0, 2)] == 1.0  # exact dup
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.5  # planted near-dup
    assert (1, 2) in pairs
    # Unrelated docs must not pair with the BASE cluster.
    for bad in [(0, 3), (0, 4), (3, 4), (1, 3), (2, 4)]:
        assert bad not in pairs or pairs[bad] < 0.1


def test_minhash_est_tracks_exact_jaccard(planted_docs):
    rows = minhash_candidate_pairs(planted_docs).collect()
    for r in rows:
        assert abs(r.est_jaccard - r.jaccard) < 0.35  # 64 perms → coarse but close


def test_simhash_finds_planted_near_dups(planted_docs):
    pairs = {(r.id1, r.id2): r.hamming for r in simhash_near_pairs(planted_docs).collect()}
    assert pairs.get((0, 2)) == 0  # identical text → identical signature
    assert (0, 1) in pairs and pairs[(0, 1)] <= 8
    assert (3, 4) not in pairs


def test_multimodal_meta_plumbing(spark):
    df = spark.createDataFrame(
        [(1, b"\x00" * 100), (2, b"\xff" * 700)], "doc_id bigint, payload binary"
    )
    rows = {r.doc_id: r for r in extract_media_meta(df).collect()}
    for doc_id, payload in [(1, b"\x00" * 100), (2, b"\xff" * 700)]:
        w, h, nf, mod = fake_decode_meta(payload)
        r = rows[doc_id]
        assert (r.n_bytes, r.width, r.height, r.n_frames, r.modality) == (
            len(payload),
            w,
            h,
            nf,
            mod,
        )


def test_kmeans_converges_and_is_deterministic(spark):
    from parquet_compactor_spark.llm.cluster import kmeans
    from parquet_compactor_spark.registry import load
    from tests.conftest import SF_SMOKE

    e = load(spark, SF_SMOKE, "embeddings")
    vecs = e.select(
        "vec_id", F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vec")
    )
    one = kmeans(vecs, n_iter=1)
    three = kmeans(vecs, n_iter=3)
    n = vecs.count()
    assert one.count() == n and three.count() == n
    # Lloyd iterations never increase the objective (mean squared distance).
    obj1 = one.agg(F.avg("dist")).collect()[0][0]
    obj3 = three.agg(F.avg("dist")).collect()[0][0]
    assert obj3 <= obj1 + 1e-9
    # Deterministic: same assignment on re-run.
    a = sorted((r.vec_id, r.cluster) for r in three.collect())
    b = sorted((r.vec_id, r.cluster) for r in kmeans(vecs, n_iter=3).collect())
    assert a == b


def test_ivf_multiprobe_lloyd_improves_recall(spark):
    """Multi-probe + one Lloyd round must beat the round-1 single-probe
    seed-centroid form on recall@5 vs exact brute force (deterministic
    fixture → deterministic recalls: 0.2 vs 0.0 at sf0.001)."""
    from tests.conftest import SF_SMOKE

    from parquet_compactor_spark.llm.similarity import ann_ivf, cosine
    from parquet_compactor_spark.registry import load

    e = load(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    brute = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", cosine(F.col("embedding"), F.col("qvec")).alias("c"))
        .orderBy(F.desc("c"), F.asc("vec_id"))
        .limit(5)
        .collect()
    )
    truth = {r.vec_id for r in brute}

    def recall(n_probe: int, lloyd: bool) -> float:
        got = {r.vec_id for r in ann_ivf(spark, SF_SMOKE, n_probe=n_probe, lloyd=lloyd).collect()}
        return len(truth & got) / len(truth)

    single = recall(1, False)  # the round-1 form
    multi = recall(2, True)  # what q_ann_ivf registers
    assert multi > single
    assert multi >= 0.2


def test_ivfpq_search_recall_vs_brute_force(spark):
    """The composed IVF-PQ search (coarse cells → ADC shortlist → exact
    re-rank) must not lose what its own coarse quantizer kept — the
    composition test that q_ann_ivf's cells and the sample-init PQ
    codebook actually fit together. Recall@5 vs brute force is
    UPPER-bounded by cell recall (the ADC stage can only drop
    candidates the probed cells contain); on the smoke fixture exactly
    ONE of the brute-force top-5 lands in the 2 probed cells (vec 17,
    cell recall 0.2 — the same floor test_ann_ivf_recall pins for plain
    IVF), and it ranks ~29th by ADC among the ~136 candidates, which is
    why IVFPQ_SHORTLIST is 32: the composed search must keep it, i.e.
    achieve recall EQUAL to its cell-recall upper bound here. The exact
    re-rank means every returned cos_sim equals the brute-force cosine
    for that vec_id (the PQ approximation never leaks into outputs)."""
    from tests.conftest import SF_SMOKE

    from parquet_compactor_spark.llm.similarity import cosine
    from parquet_compactor_spark.registry import all_queries, load

    e = load(spark, SF_SMOKE, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    brute = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.round(cosine(F.col("embedding"), F.col("qvec")), 4).alias("c"),
        )
        .orderBy(F.desc("c"), F.asc("vec_id"))
        .limit(5)
        .collect()
    )
    truth = {r.vec_id: r.c for r in brute}
    got = all_queries()["q_ivfpq_search"].fn(spark, SF_SMOKE).collect()
    assert len(got) == 5
    hits = [r for r in got if r.vec_id in truth]
    # Cell recall on this fixture is exactly 0.2 (vec 17 is the only
    # brute-force-top-5 member of the 2 probed cells); the composed
    # search must match that upper bound — the ADC shortlist may not
    # lose it.
    assert len(hits) / len(truth) >= 0.2
    assert any(r.vec_id == 17 for r in got)
    for r in hits:  # exact re-rank: output cosines ARE the exact ones
        assert abs(r.cos_sim - truth[r.vec_id]) < 1e-9
    # ADC ordering sanity: the shortlist ranks by integer micro-distance
    assert all(r.adc_micro >= 0 for r in got)


def _png_bytes(width: int, height: int, pixels: bytes | None = None) -> bytes:
    """Build a real, spec-valid RGB PNG from scratch (no codec library)."""
    import struct
    import zlib

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)  # 8-bit RGB
    raw = pixels or b"".join(
        b"\x00" + b"\x7f\x00\xff" * width for _ in range(height)
    )  # filter byte 0 per scanline
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _jpeg_bytes(width: int, height: int) -> bytes:
    """Minimal JPEG header stream: SOI + APP0 + SOF0 (enough for T.81 §B.2.2)."""
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00" * 6
    sof0 = (
        b"\xff\xc0"
        + struct.pack(">HBHHB", 11, 8, height, width, 3)
        + b"\x01\x11\x00"  # one of three component specs (len covers 11 bytes)
    )
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def test_decode_image_parses_real_headers():
    """PNG IHDR, JPEG SOF0, and GIF screen descriptors decode without any
    codec library; corrupt-but-recognized payloads fail loud (ValueError)
    and unknown codecs keep the NotImplementedError seam."""
    from parquet_compactor_spark.llm.multimodal import decode_image

    png = decode_image(_png_bytes(1, 1))
    assert (png["format"], png["width"], png["height"], png["bit_depth"], png["mode"]) == (
        "png", 1, 1, 8, "RGB",
    )
    assert decode_image(_png_bytes(640, 480)) == {
        "format": "png", "width": 640, "height": 480, "bit_depth": 8, "mode": "RGB",
    }
    jpg = decode_image(_jpeg_bytes(320, 200))
    assert (jpg["format"], jpg["width"], jpg["height"], jpg["mode"]) == (
        "jpeg", 320, 200, "RGB",
    )
    gif = decode_image(b"GIF89a" + (300).to_bytes(2, "little") + (150).to_bytes(2, "little"))
    assert (gif["format"], gif["width"], gif["height"]) == ("gif", 300, 150)

    with pytest.raises(ValueError):  # PNG magic but IHDR missing
        decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 30)
    with pytest.raises(ValueError):  # JPEG SOI but no SOF before EOI
        decode_image(b"\xff\xd8\xff\xd9")
    with pytest.raises(NotImplementedError):  # unknown codec → explicit seam
        decode_image(b"RIFF....WEBP")


def test_blob_meta_degrades_corrupt_magic_to_fake():
    """The batch path must never abort a job on a magic-collision:
    arbitrary binary (audio/video payloads, truncated uploads) starts
    with FF D8 at ~1/65536 — a certainty across a real lake. _blob_meta
    degrades a failed parse to the deterministic fake; decode_image
    stays strict for callers that want the loud failure."""
    from parquet_compactor_spark.llm.multimodal import _blob_meta, fake_decode_meta

    for corrupt in (
        b"\xff\xd8\xff\xd9",  # JPEG SOI but no SOF before EOI
        b"\xff\xd8" + b"\x00" * 5,  # FF D8 then arbitrary binary
        b"\xff\xd8",  # nothing but the magic (truncated upload)
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 30,  # PNG magic, IHDR missing
    ):
        assert _blob_meta(corrupt) == fake_decode_meta(corrupt)
    assert _blob_meta(None) == fake_decode_meta(b"")  # NULL cell ≠ job abort
    # Real images still parse through the same path.
    assert _blob_meta(_jpeg_bytes(320, 200))[:2] == (320, 200)
    assert _blob_meta(_png_bytes(17, 5))[:2] == (17, 5)


def test_media_meta_real_images_get_real_dimensions(spark):
    """End-to-end through the distributed mapInPandas path: a real PNG
    payload reports its ACTUAL dimensions (decode is no longer a stub),
    while a non-image payload still takes the deterministic fake."""
    from parquet_compactor_spark.llm.multimodal import extract_media_meta

    png = _png_bytes(17, 5)
    text = b"just some document text"
    df = spark.createDataFrame(
        [(1, png), (2, text)], "doc_id bigint, payload binary"
    )
    rows = {r.doc_id: r for r in extract_media_meta(df).collect()}
    assert (rows[1].width, rows[1].height, rows[1].n_frames, rows[1].modality) == (
        17, 5, 1, "image",
    )
    w, h, nf, mod = fake_decode_meta(text)
    assert (rows[2].width, rows[2].height, rows[2].n_frames, rows[2].modality) == (
        w, h, nf, mod,
    )


def test_connected_components_arbitrary_topology(spark):
    from parquet_compactor_spark.llm.dedup import connected_components, dedup_clusters

    # Path 0-1-...-40 (pointer doubling must beat O(length) rounds at
    # max_iter=25), star at 100, bridge joining two chains at 200.
    path = [(i, i + 1) for i in range(40)]
    star = [(100, x) for x in (101, 102, 103)]
    bridge = [(200, 201), (202, 203), (201, 202)]
    edges = spark.createDataFrame(path + star + bridge, "id1 bigint, id2 bigint")
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert all(comp[i] == 0 for i in range(41))
    assert all(comp[x] == 100 for x in (100, 101, 102, 103))
    assert all(comp[x] == 200 for x in (200, 201, 202, 203))

    docs = spark.createDataFrame([(i,) for i in [0, 1, 40, 100, 103, 200, 203, 999]], "doc_id bigint")
    clusters = {r.doc_id: (r.component, r.is_canonical) for r in dedup_clusters(docs, edges).collect()}
    assert clusters[0] == (0, True)
    assert clusters[40] == (0, False)
    assert clusters[999] == (999, True)  # isolated doc = own canonical singleton


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 30), st.integers(0, 30)),
        min_size=1,
        max_size=40,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    """Differential: distributed label propagation == pure-Python union-find."""
    from parquet_compactor_spark.llm.dedup import connected_components

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, "id1 bigint, id2 bigint")
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == expected


def test_semantic_dedup_accepts_kmeans_centroids(spark):
    """The blocking model is pluggable: feeding the k-means centroid
    matrix (K from the model, not hardcoded) partitions every vector into
    exactly one block and preserves the corpus row count."""
    from pyspark.sql import functions as F

    from parquet_compactor_spark.llm.cluster import kmeans, per_dim_means
    from parquet_compactor_spark.llm.similarity import semantic_dedup
    from parquet_compactor_spark.registry import load
    from tests.conftest import SF_SMOKE

    vecs = load(spark, SF_SMOKE, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vec"),
    )
    assigned = kmeans(vecs).join(vecs, "vec_id")
    model = [
        (int(r.cluster), [float(x) for x in r.cvec])
        for r in per_dim_means(assigned)
    ]
    out = semantic_dedup(spark, SF_SMOKE, centroids=model).collect()
    n_total = vecs.count()
    assert sum(r.n_vecs for r in out) == n_total
    assert {r.cluster_id for r in out} <= {cid for cid, _ in model}


def test_grouped_topk_matches_window_reference(spark):
    """grouped_topk (bounded map-side heap + candidate-sized final rank)
    must return exactly what the naive giant-partition window returns."""
    from pyspark.sql import Window

    from parquet_compactor_spark.functions.topk import grouped_topk
    from parquet_compactor_spark.registry import load
    from tests.conftest import SF_SMOKE

    e = load(spark, SF_SMOKE, "events").select(
        "event_type", "event_id", "value"
    )
    got = {
        (r.event_type, r.rn): (r.event_id, r.value)
        for r in grouped_topk(
            e,
            key_cols=["event_type"],
            sort_cols=["value", "event_id"],
            ascending=[False, True],
            k=4,
        ).collect()
    }
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    expected = {
        (r.event_type, r.rn): (r.event_id, r.value)
        for r in e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 4)
        .collect()
    }
    assert got == expected


def test_grouped_topk_null_keys_and_nan_scores(spark):
    """Null keys form a real group (map-side groupby must not drop them)
    and NaN scores rank FIRST under desc (Spark: NaN > any double) — both
    exactly as the giant-partition window reference would rank them."""
    from pyspark.sql import Window

    from parquet_compactor_spark.functions.topk import grouped_topk

    rows = [
        ("a", 1, 5.0),
        ("a", 2, float("nan")),
        ("a", 3, 7.0),
        ("a", 4, 1.0),
        (None, 5, 3.0),
        (None, 6, float("nan")),
        (None, 7, 9.0),
        ("b", 8, 2.0),
    ]
    df = spark.createDataFrame(rows, "key string, id long, score double").repartition(
        4, "id"
    )
    got = {
        (r.key, r.rn): r.id
        for r in grouped_topk(
            df,
            key_cols=["key"],
            sort_cols=["score", "id"],
            ascending=[False, True],
            k=2,
        ).collect()
    }
    w = Window.partitionBy("key").orderBy(F.desc("score"), F.asc("id"))
    expected = {
        (r.key, r.rn): r.id
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .collect()
    }
    assert got == expected
    # NaN outranks every finite score; the null key group survives.
    assert got[("a", 1)] == 2 and got[(None, 1)] == 6


def test_grouped_topk_preserves_null_vs_nan_everywhere(spark):
    """The Arrow seam must not corrupt values: SQL NULL in float PAYLOAD
    columns stays NULL (not NaN), NaN stays NaN, and a sort column
    holding BOTH orders exactly like Spark (NaN largest, NULL smallest).
    An earlier mapInPandas/from_pandas seam failed all three."""
    import math

    from pyspark.sql import Window

    from parquet_compactor_spark.functions.topk import grouped_topk

    rows = [
        ("a", 1, 5.0, None),
        ("a", 2, float("nan"), 1.5),
        ("a", 3, None, float("nan")),
        ("a", 4, 7.0, float("nan")),
        ("b", 5, None, None),
        ("b", 6, 1.0, 3.5),
    ]
    df = spark.createDataFrame(
        rows, "key string, id long, score double, payload double"
    ).repartition(3, "id")
    out = {
        r.id: r
        for r in grouped_topk(
            df,
            key_cols=["key"],
            sort_cols=["score", "id"],
            ascending=[False, True],
            k=3,
        ).collect()
    }
    w = Window.partitionBy("key").orderBy(F.desc("score"), F.asc("id"))
    expected = {
        r.id: r
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .collect()
    }
    assert {i: r.rn for i, r in out.items()} == {
        i: r.rn for i, r in expected.items()
    }
    # Spark desc on mixed column: NaN(2) first, 7.0(4), 5.0(1), NULL(3) out at k=3.
    assert out[2].rn == 1 and out[4].rn == 2 and out[1].rn == 3 and 3 not in out
    # Payload values survive bit-faithfully: NULL stays NULL, NaN stays
    # NaN, finite values untouched.
    assert out[1].payload is None
    assert out[2].payload == 1.5
    assert math.isnan(out[4].payload)
    assert out[5].payload is None and out[5].score is None


def test_grouped_topk_property_matches_window(spark):
    """Property check: for random keys (incl. null), random scores (incl.
    BOTH SQL NULL and NaN in the same float sort column), and random k,
    grouped_topk returns EXACTLY the window reference's rows."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import Window

    from parquet_compactor_spark.functions.topk import grouped_topk

    key_s = st.one_of(st.none(), st.sampled_from(["a", "b", "c"]))
    score_s = st.one_of(
        st.none(),
        st.just(float("nan")),
        st.floats(min_value=-5, max_value=5, allow_nan=False),
    )
    rows_s = st.lists(st.tuples(key_s, score_s), min_size=1, max_size=25)

    @given(rows=rows_s, k=st.integers(min_value=1, max_value=4))
    @settings(max_examples=6, deadline=None)
    def check(rows, k):
        data = [(key, i, score) for i, (key, score) in enumerate(rows)]
        df = spark.createDataFrame(
            data, "key string, id long, score double"
        ).repartition(3, "id")
        got = {
            (r.key, r.rn): r.id
            for r in grouped_topk(
                df,
                key_cols=["key"],
                sort_cols=["score", "id"],
                ascending=[False, True],
                k=k,
            ).collect()
        }
        w = Window.partitionBy("key").orderBy(F.desc("score"), F.asc("id"))
        expected = {
            (r.key, r.rn): r.id
            for r in df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k)
            .collect()
        }
        assert got == expected

    check()


def test_centroid_encodings_agree_bitwise(spark):
    """Literal-array and broadcast-array centroid encodings must produce
    bit-identical assignments (same IEEE doubles, same fold order). The
    broadcast matrix is now the default at every K (it skips K x dim py4j
    literal construction per pass — measured ~35% faster even at K=8);
    the literal form is forced here via a huge literal_max."""
    from pyspark.sql import functions as F

    from parquet_compactor_spark.llm.cluster import kmeans
    from parquet_compactor_spark.llm.similarity import ann_ivf
    from parquet_compactor_spark.registry import load
    from tests.conftest import SF_SMOKE

    sf = SF_SMOKE
    e = load(spark, sf, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vec"),
    )
    bc = sorted((r.vec_id, r.cluster, r.dist) for r in kmeans(vecs).collect())
    lit = sorted(
        (r.vec_id, r.cluster, r.dist)
        for r in kmeans(vecs, literal_max=1 << 20).collect()
    )
    assert lit == bc

    assert [tuple(r) for r in ann_ivf(spark, sf).collect()] == [
        tuple(r) for r in ann_ivf(spark, sf, literal_max=1 << 20).collect()
    ]


def test_large_k_assignment_plan_is_constant_size(spark):
    """At K=256 the broadcast-matrix form must not inline per-centroid
    literals: the optimized plan stays O(1) in K (a transform over one
    broadcast array column), far smaller than even the K=8 literal plan."""
    import random

    from pyspark.sql import functions as F

    from parquet_compactor_spark.llm.cluster import _assign
    from parquet_compactor_spark.registry import load
    from tests.conftest import SF_SMOKE

    e = load(spark, SF_SMOKE, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("vec"),
    )
    rng = random.Random(7)
    cents = [(i, [rng.uniform(-1, 1) for _ in range(32)]) for i in range(256)]
    big = _assign(vecs, cents)
    small = _assign(vecs, cents[:8], literal_max=8)  # force the literal form
    big_plan = big._jdf.queryExecution().optimizedPlan().toString()
    small_plan = small._jdf.queryExecution().optimizedPlan().toString()
    assert len(big_plan) < len(small_plan)  # 256 centroids, smaller plan
    assert len(big_plan) < 4000
    # Still a correct assignment over every row.
    assert big.count() == vecs.count()


# --------------------------------------------------------------------------
# Round 8: incremental MinHash + BPE merge pairs
# --------------------------------------------------------------------------


def _write_docs(spark, tmp_path, rows):
    """Materialize a minimal documents.parquet a registered query can load."""
    df = spark.createDataFrame(
        [(i, t, "en", "src0", len(t) if t is not None else None) for i, t in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_minhash_incremental_excludes_old_old_pairs(spark, tmp_path):
    """The whole point of the incremental shape: a duplicate pair wholly
    inside the OLD snapshot (both doc_id % 3 != 0) must never be emitted,
    while new-new and new-old duplicates are; pair_type labels them."""
    from parquet_compactor_spark.llm.dedup import q_minhash_incremental

    base_a = BASE
    base_b = BASE.replace("quick", "swift").replace("river", "creek")
    base_c = (
        "distributed query engines shuffle partitioned data across many "
        "executor nodes while the optimizer prunes columns and pushes "
        "filters into the parquet scan for every analytical workload"
    )
    rows = [
        (1, base_a),  # old (1 % 3 = 1)
        (2, base_a),  # old (2 % 3 = 2) -> (1,2) is an OLD-OLD exact dup
        (3, base_b),  # new
        (6, base_b),  # new -> (3,6) new-new
        (5, base_c),  # old
        (9, base_c),  # new -> (5,9) new-old
        (7, "totally unrelated words about gardens birds and morning song"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {
        (r.id1, r.id2): r.pair_type
        for r in q_minhash_incremental(spark, sf).collect()
    }
    assert (1, 2) not in got, "old-old pair leaked into the incremental output"
    assert got.get((3, 6)) == "new-new"
    assert got.get((5, 9)) == "new-old"


def test_bpe_merge_pairs_counts(spark, tmp_path):
    """Adjacent-pair frequencies: corpus count vs document frequency, empty
    tokens from multi-space runs filtered, sub-2-token docs contribute
    nothing."""
    from parquet_compactor_spark.llm.curation import q_bpe_merge_pairs

    rows = [
        (0, "a b a b"),       # pairs: 'a b' x2, 'b a' x1
        (1, "a  b"),          # multi-space -> one pair 'a b'
        (2, "solo"),          # single token -> no pairs
        (3, ""),              # empty -> no pairs
        (4, None),            # NULL text -> scoped out
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {r.pair: (r.cnt, r.n_docs) for r in q_bpe_merge_pairs(spark, sf).collect()}
    assert got == {"a b": (3, 2), "b a": (1, 1)}


def _write_embeddings(spark, tmp_path, rows):
    """Materialize a minimal embeddings.parquet a registered query can load.

    rows: (vec_id, 64-dim list[float] | None, label)
    """
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    return str(tmp_path)


def test_knn_classify_planted_neighbor_and_tiebreak(spark, tmp_path):
    """An unlabeled vector colinear with one seed takes that seed's label;
    when two seeds are EQUALLY similar the lower nbr_id wins (the struct
    argmax's negated-id tiebreak)."""
    from parquet_compactor_spark.llm.similarity import q_knn_classify

    e1 = [1.0] + [0.0] * 63
    e2 = [0.0, 1.0] + [0.0] * 62
    rows = [
        (0, e1, 7),                       # seed (0 % 4 == 0), label 7
        (4, e2, 3),                       # seed, label 3
        (8, e2, 5),                       # seed, label 5 — same vector as 4
        (1, [2.0] + [0.0] * 63, 0),       # colinear with seed 0 -> pred 7
        (2, [0.0, 9.0] + [0.0] * 62, 0),  # ties seeds 4 and 8 -> lower id 4
    ]
    sf = _write_embeddings(spark, tmp_path, rows)
    got = {r.vec_id: (r.pred_label, r.cos_sim) for r in q_knn_classify(spark, sf).collect()}
    assert got[1] == (7, 1.0)
    assert got[2] == (3, 1.0), "tie must resolve to the LOWEST nbr_id's label"


def test_pq_encode_exact_centroid_vector_has_zero_error(spark, tmp_path):
    """A vector assembled from one chosen centroid per subspace encodes to
    exactly those 8 codes with zero quantization error."""
    from parquet_compactor_spark.llm.similarity import PQ_CODEBOOK, q_pq_encode

    chosen = [3, 0, 15, 7, 1, 9, 12, 5]
    vec = []
    for m, k in enumerate(chosen):
        vec.extend(PQ_CODEBOOK[m][k])
    rows = [(0, [float(x) for x in vec], 1)]
    sf = _write_embeddings(spark, tmp_path, rows)
    (r,) = q_pq_encode(spark, sf).collect()
    assert r.pq_code == "-".join(str(k) for k in chosen)
    assert r.err_micro == 0


def test_bigram_backoff_seen_backoff_and_oov(spark, tmp_path):
    """The three scoring branches, exactly: a bigram seen in the training
    shard scores n(w1 w2)/n(w1); an unseen bigram whose w2 IS a training
    unigram backs off to 0.4 * n(w2)/N_train; an OOV w2 scores zero."""
    import math

    from parquet_compactor_spark.llm.text import q_bigram_backoff

    rows = [
        (0, "a b c"),  # the training shard (doc_id % 2 == 0): N_train=3
        (1, "a b"),    # held out: bigram (a,b) seen -> 1/1
        (3, "c a"),    # held out: (c,a) unseen, 'a' in train -> 0.4 * 1/3
        (5, "a z"),    # held out: 'z' OOV -> 0
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {
        r.doc_id: (r.n_bigrams, r.n_backoff, r.n_oov, r.score_micro)
        for r in q_bigram_backoff(spark, sf).collect()
    }
    backoff_micro = math.floor(0.4 * (1.0 / 3.0) * 1000000 + 0.5)
    assert got[1] == (1, 0, 0, 1000000)
    assert got[3] == (1, 1, 0, backoff_micro)
    assert got[5] == (1, 0, 1, 0)
    # the training doc scores its own (seen) bigrams: a-b and b-c, 1/1 each
    assert got[0] == (2, 0, 0, 2000000)


def test_collocation_pmi_ranks_exclusive_pair_above_common(spark, tmp_path):
    """PMI separates association from frequency: a pair whose words occur
    ONLY together outranks a more frequent pair built from words that also
    appear everywhere else — the opposite of what raw pair counts say."""
    from parquet_compactor_spark.llm.curation import q_collocation_pmi

    # 'new york' appears 5x and those words never appear apart;
    # 'of the' appears 8x but 'of'/'the' each appear 30+ times total.
    filler = " ".join(["of the"] * 8 + ["of"] * 22 + ["the"] * 22)
    rows = [(i, "new york " + filler) for i in range(5)]
    sf = _write_docs(spark, tmp_path, rows)
    out = q_collocation_pmi(spark, sf).collect()
    ranks = {(r.w1, r.w2): i for i, r in enumerate(out)}
    assert ("new", "york") in ranks
    assert ("of", "the") in ranks
    assert ranks[("new", "york")] < ranks[("of", "the")]
    pmi = {(r.w1, r.w2): r.pmi_micro for r in out}
    assert pmi[("new", "york")] > pmi[("of", "the")]


def test_mixture_epochs_budget_and_temperature(spark, tmp_path):
    """Integer allocation honors the 10M-token budget and the temperature
    flattening: the small source's weight share EXCEEDS its token share,
    and a source with fewer tokens than its allocation shows epochs > 1."""
    from parquet_compactor_spark.llm.curation import q_mixture_epochs

    rows = []
    did = 0
    for _ in range(99):  # big source: 99 docs x 10 tokens
        rows.append((did, " ".join(["tok"] * 10)))
        did += 1
    rows.append((did, " ".join(["tok"] * 10)))  # small source: 1 doc
    df = spark.createDataFrame(
        [
            (i, t, "en", "big" if i < 99 else "small", len(t))
            for i, t in rows
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {r.source: r for r in q_mixture_epochs(spark, str(tmp_path)).collect()}
    assert got["big"].n_tokens == 990 and got["small"].n_tokens == 10
    # token share of 'small' is 1%; temperature alpha=0.7 lifts its weight
    assert got["small"].weight_ppm > 10000
    # weights are a normalized probability (integer floor loses < 2 ppm)
    total_ppm = got["big"].weight_ppm + got["small"].weight_ppm
    assert 999998 <= total_ppm <= 1000000
    # 10M tokens over ~1000 available means massive repetition everywhere,
    # and 'small' repeats more than 'big' relative to its size
    assert got["small"].epochs_milli > got["big"].epochs_milli > 1000


def _ref_pagerank_micro(edges, iters=3):
    """Reference integer PageRank: the exact recurrence q_pagerank claims."""
    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    r = {n: 1_000_000 for n in deg}
    for _ in range(iters):
        acc = defaultdict(int)
        for s, d in edges:
            acc[d] += r[s] // deg[s]
        r = {n: 150_000 + (850 * v) // 1000 for n, v in acc.items()}
    return r


def test_pagerank_micro_matches_reference_recurrence(spark):
    """pagerank_micro on an asymmetric-degree graph equals the hand-rolled
    integer recurrence node-for-node (order-independent bigint fixed point)."""
    from parquet_compactor_spark.llm.graph import pagerank_micro

    # Symmetric edge set, asymmetric degrees: hub 1 touches everyone.
    pairs = [(1, 2), (1, 3), (1, 4), (2, 3)]
    edges = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = {r.node: r.rank_micro for r in pagerank_micro(df).collect()}
    assert got == _ref_pagerank_micro(edges)
    # The hub must outrank every spoke.
    assert got[1] == max(got.values()) and got[4] == min(got.values())


def test_pagerank_co_purchase_hub_supplier_ranks_first(spark, tmp_path):
    """q_pagerank's edge derivation: suppliers co-supplying an order are
    linked once per DISTINCT pair; the supplier present in every order is
    the top-ranked node."""
    from parquet_compactor_spark.llm.graph import q_pagerank

    rows = [  # (l_orderkey, l_suppkey) — incl. a duplicate lineitem pair
        (1, 10), (1, 20), (1, 30), (1, 10),
        (2, 10), (2, 20),
        (3, 10), (3, 40),
    ]
    spark.createDataFrame(rows, "l_orderkey bigint, l_suppkey bigint") \
        .coalesce(1).write.mode("overwrite") \
        .parquet(str(tmp_path / "lineitem.parquet"))
    out = q_pagerank(spark, str(tmp_path)).collect()
    assert out[0].suppkey == 10, out
    ranks = {r.suppkey: r.rank_micro for r in out}
    # 20 co-occurs with {10,30} twice-distinct; 40 only with 10.
    assert ranks[20] > ranks[40]


def test_zipf_fit_uniform_and_planted_slopes(spark, tmp_path):
    """A uniform-frequency vocabulary regresses to slope exactly 0.0 (zero
    numerator in exact integer moments); a geometric-frequency vocabulary
    matches the same milli-ln integer least-squares computed in Python."""
    import math

    from parquet_compactor_spark.llm.text import q_zipf_fit

    # 5 terms x 4 occurrences each -> slope 0; geometric 16/8/4/2 -> steep.
    uni = " ".join([f"u{i}" for i in range(5)] * 4)
    geo = " ".join(
        ["g0"] * 16 + ["g1"] * 8 + ["g2"] * 4 + ["g3"] * 2
    )
    # Two docs, one per "language" via the writer below.
    df = spark.createDataFrame(
        [(0, uni, "uu", "s", len(uni)), (1, geo, "gg", "s", len(geo))],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {r.lang: r for r in q_zipf_fit(spark, str(tmp_path)).collect()}
    assert got["uu"].n_terms == 5 and got["uu"].zipf_slope == 0.0

    def milli_ln(v):
        return math.floor(math.log(v) * 1000 + 0.5)

    pts = [(milli_ln(rk), milli_ln(cnt)) for rk, cnt in
           [(1, 16), (2, 8), (3, 4), (4, 2)]]
    n = len(pts)
    sx, sy = sum(x for x, _ in pts), sum(y for _, y in pts)
    sxy, sxx = sum(x * y for x, y in pts), sum(x * x for x, _ in pts)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert got["gg"].n_terms == 4
    assert got["gg"].zipf_slope == round(slope, 4)
    assert got["gg"].zipf_intercept == round(
        (sy - slope * sx) / n / 1000.0, 4
    )


def test_normalized_dedup_canonical_head_grouping(spark, tmp_path):
    """Case/punctuation/whitespace variants collide on the canonical
    10-token head; differing tails count as distinct full forms; NULL,
    empty, and singleton docs never reach the output."""
    from parquet_compactor_spark.llm.dedup import q_normalized_dedup

    body = "Hello, World! This is a test doc with many tokens"
    rows = [
        (0, body + " right here"),
        (1, "hello world this is a test doc with many tokens right here"),
        (2, "HELLO  world??  this is a test doc with many tokens DIFF tail"),
        (3, "completely unrelated singleton document text"),
        (4, ""),
        (5, None),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    out = q_normalized_dedup(spark, sf).collect()
    assert len(out) == 1
    row = out[0]
    assert (row.n_copies, row.exemplar_doc, row.n_full_forms) == (3, 0, 2)


def test_padding_waste_exact_ppm(spark, tmp_path):
    """Hand-checked integer ppm per 16-token bucket, with the 128-token
    context cap applied before bucketing."""
    from parquet_compactor_spark.llm.curation import q_padding_waste

    def doc(n):
        return " ".join(f"w{i}" for i in range(n))

    rows = [(0, doc(10)), (1, doc(16)), (2, doc(20)), (3, doc(200)),
            (4, ""), (5, None)]
    sf = _write_docs(spark, tmp_path, rows)
    got = {r.bucket_len: r for r in q_padding_waste(spark, sf).collect()}
    assert set(got) == {16, 32, 128}
    b16 = got[16]
    assert (b16.n_docs, b16.sum_tokens, b16.padded_tokens) == (2, 26, 32)
    assert b16.waste_ppm == ((32 - 26) * 1_000_000) // 32
    assert b16.naive_waste_ppm == ((2 * 128 - 26) * 1_000_000) // (2 * 128)
    b128 = got[128]  # the 200-token doc capped at 128: zero waste
    assert (b128.n_docs, b128.sum_tokens, b128.waste_ppm) == (1, 128, 0)


def test_token_entropy_uniform_and_skewed(spark, tmp_path):
    """Hand-checked micro-nat entropy: a uniform 4-term source hits
    ln(4) exactly on the micro grid; a single-term source is 0; the
    skewed source matches the same floor-form arithmetic in Python."""
    import math

    from parquet_compactor_spark.llm.text import q_token_entropy

    df = spark.createDataFrame(
        [
            (0, "a b c d", "uni", "u4", 7),
            (1, "x x x x", "uni", "one", 7),
            (2, "y y y z", "uni", "skew", 7),
        ],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    # source column drives the grouping; rewrite it from the 4th field
    df = df.selectExpr("doc_id", "text", "lang", "source AS _drop", "n_chars") \
        .withColumnRenamed("_drop", "source")
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    got = {r.source: r for r in q_token_entropy(spark, str(tmp_path)).collect()}

    def h_micro(counts):
        n = sum(counts)
        return sum(
            math.floor(c * (math.log(n) - math.log(c)) / n * 1_000_000 + 0.5)
            for c in counts
        )

    assert got["one"].entropy_micro == 0 and got["one"].n_terms == 1
    assert got["u4"].entropy_micro == h_micro([1, 1, 1, 1])  # = ln(4) micro
    assert abs(got["u4"].entropy_micro - round(math.log(4) * 1e6)) <= 2
    assert got["skew"].entropy_micro == h_micro([3, 1])
    assert got["skew"].n_tokens == 4 and got["skew"].n_terms == 2


def test_dedup_survivorship_keeps_longest_copy(spark, tmp_path):
    """The survivor is the LONGEST doc in the near-dup cluster (ties by
    min doc_id), not the first: a chain of three near-identical docs
    where the middle one is longest must keep the middle one; singleton
    docs keep themselves."""
    from parquet_compactor_spark.llm.dedup import q_dedup_survivorship

    base = BASE
    rows = [
        (10, base),
        (11, base + " plus an extra much longer tail making this the best copy"),
        (12, base + " tail"),
        (20, "a completely different standalone document about other things"),
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {r.doc_id: r for r in q_dedup_survivorship(spark, sf).collect()}
    cluster = {got[i].component for i in (10, 11, 12)}
    assert cluster == {10}, "chain must form one component rooted at 10"
    assert all(got[i].kept_doc == 11 for i in (10, 11, 12))
    assert [got[i].is_kept for i in (10, 11, 12)] == [False, True, False]
    assert got[20].is_kept and got[20].kept_doc == 20


def test_substring_dedup_interval_merge_semantics(spark, tmp_path):
    """The Lee-et-al decision measure on a planted corpus: a full copy
    of an earlier doc is 100% duplicated text; a doc sharing exactly its
    first 15 tokens with an earlier doc has exactly those 15 tokens
    inside duplicated substrings (ONE duplicated window whose interval
    covers 15 tokens — the merge must not double-count overlaps); the
    first occurrence itself and unrelated docs report zero. Also pins
    the window count n_tokens - W + 1 and cross-checks the DuckDB
    oracle on the same synthetic corpus."""
    from parquet_compactor_spark.llm.dedup import SUBSTR_W
    from parquet_compactor_spark.registry import all_queries
    from tests.oracle_utils import compare_to_oracle

    assert SUBSTR_W == 15
    t1 = " ".join(f"alpha{i}" for i in range(20))  # 20 unique tokens
    t3 = " ".join(f"beta{i}" for i in range(20))
    # first 15 tokens of t3 + 5 fresh tokens
    t4 = " ".join(t3.split(" ")[:15] + [f"gamma{i}" for i in range(5)])
    rows = [(1, t1), (2, t1), (3, t3), (4, t4), (5, "too short")]
    # Single-FILE parquet (pyarrow, not a Spark directory) so the DuckDB
    # oracle harness can register it; ship the smoke tables alongside.
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import SF_SMOKE

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([i for i, _ in rows], type=pa.int64()),
                "text": pa.array([t for _, t in rows], type=pa.string()),
                "lang": pa.array(["en"] * len(rows), type=pa.string()),
                "source": pa.array(["src0"] * len(rows), type=pa.string()),
                "n_chars": pa.array(
                    [len(t) for _, t in rows], type=pa.int64()
                ),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings",
    ):
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", str(tmp_path / f"{t}.parquet"))
    sf = str(tmp_path)
    q = all_queries()["q_substring_dedup"]
    compare_to_oracle(q.fn(spark, sf), q.oracle, sf)
    got = {r.doc_id: r for r in q.fn(spark, sf).collect()}
    assert set(got) == {1, 2, 3, 4}  # doc 5: no window, inner semantics
    assert all(r.n_windows == r.n_tokens - 14 for r in got.values())
    assert (got[1].n_dup_windows, got[1].dup_tokens) == (0, 0)
    assert got[2].dup_tokens == 20 and got[2].dup_frac == 1.0
    assert got[2].n_dup_windows == got[2].n_windows
    assert (got[3].n_dup_windows, got[3].dup_tokens) == (0, 0)
    assert got[4].n_dup_windows == 1
    assert got[4].dup_tokens == 15 and got[4].dup_frac == 0.75


def test_substring_dedup_coverage_bounds_on_fixture(spark):
    """Interval-merge sanity on the real corpus: coverage is bounded by
    n_dup_windows * W above and (n_dup_windows - 1 + W) below whenever
    any window was dropped, and the fraction never leaves [0, 1]."""
    from parquet_compactor_spark.llm.dedup import SUBSTR_W
    from parquet_compactor_spark.registry import all_queries
    from tests.conftest import SF_SMOKE

    rows = all_queries()["q_substring_dedup"].fn(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_windows == r.n_tokens - SUBSTR_W + 1
        assert 0 <= r.n_dup_windows <= r.n_windows
        assert 0 <= r.dup_tokens <= r.n_tokens
        if r.n_dup_windows:
            assert r.dup_tokens <= r.n_dup_windows * SUBSTR_W
            assert r.dup_tokens >= r.n_dup_windows - 1 + SUBSTR_W
        else:
            assert r.dup_tokens == 0
        assert 0.0 <= r.dup_frac <= 1.0


def test_doremi_weights_invariants(spark):
    """The linearized Group-DRO update's contract on the real corpus:
    final weights form a near-exact ppm distribution (integer floors
    lose < 1 ppm per domain per stage), respect the 0.4 cap plus the
    uniform-smoothing share, are monotone in excess loss (update,
    renormalize and clip all preserve the excess ordering from a
    uniform start), and a zero-excess domain can only lose mass
    relative to uniform."""
    from parquet_compactor_spark.llm.curation import DOREMI_CAP_MICRO
    from parquet_compactor_spark.registry import all_queries
    from tests.conftest import SF_SMOKE

    rows = all_queries()["q_doremi_weights"].fn(spark, SF_SMOKE).collect()
    assert rows
    nd = len(rows)
    total = sum(r.w_micro for r in rows)
    assert 1_000_000 - 3 * nd <= total <= 1_000_000 + nd
    uniform = 1_000_000 // nd
    cap_after_smooth = (DOREMI_CAP_MICRO * 9) // 10 + 1_000_000 // (10 * nd)
    by_excess = sorted(rows, key=lambda r: (r.excess_micro, r.w_micro))
    for a, b in zip(by_excess, by_excess[1:]):
        assert a.w_micro <= b.w_micro + 1  # monotone in excess (ppm slack)
    for r in rows:
        assert 0 < r.w_micro <= cap_after_smooth
        assert r.w_frac == r.w_micro / 1_000_000
        if r.excess_micro == 0:
            assert r.w_micro <= uniform + 1


def test_bloom_delta_contracts_on_planted_snapshot(spark, tmp_path):
    """The bloom gate's two contracts on a corpus where membership is
    known by construction: docs 1/2 (old snapshot: doc_id % 3 != 0)
    re-fingerprinted by docs 6 (copy of 1) and 9 (normalized twin of
    2 — case/whitespace changes only) must NOT count as new AND must be
    bloom-maybe (no false negatives); docs 3/6/9's own fingerprints and
    the fresh doc 12 behave per the exact anti-join. n_true_new per
    this construction: doc 3 is NOT in the old snapshot (3 % 3 == 0)
    so its fingerprint is new, docs 6/9 duplicate old content, doc 12
    is fresh."""
    from parquet_compactor_spark.llm.curation import q_bloom_delta
    from parquet_compactor_spark.streaming.pipeline import (
        fingerprint_delta_batch,
    )

    t1 = "alpha beta gamma delta epsilon"
    t2 = "one two three four five six"
    rows = [
        (1, t1),                       # old
        (2, t2),                       # old
        (3, "unique content here"),    # NEW batch only (3 % 3 == 0)
        (6, t1),                       # new arrival, dup of old doc 1
        (9, "  ONE two   THREE four five six "),  # normalized twin of 2
        (12, "completely fresh document text"),   # genuinely new
    ]
    sf = _write_docs(spark, tmp_path, rows)
    got = {r.lang: r for r in q_bloom_delta(spark, sf).collect()}
    assert set(got) == {"en"}
    r = got["en"]
    assert r.n_docs == 6
    # new = docs whose fp is absent from {fp(1), fp(2)}: 3 and 12.
    assert r.n_true_new == 2
    assert r.no_false_neg is True
    assert r.fp_ok is True
    # Cross-check the exact side against the fingerprint batch twin's
    # first-occurrence semantics (6 and 9 are dups; 1,2,3,12 kept).
    kept = {x.doc_id: x.kept for x in fingerprint_delta_batch(
        spark.createDataFrame(rows, "doc_id bigint, text string")
    ).collect()}
    assert kept == {1: True, 2: True, 3: True, 6: False, 9: False, 12: True}


def _bloom_m_reference(n_keys: int) -> int:
    """The bloom sizing rule on Python ints: the next power of two >=
    BLOOM_BITS_PER_KEY * n_keys, never below BLOOM_MIN_BITS."""
    from parquet_compactor_spark.llm.curation import BLOOM_BITS_PER_KEY, BLOOM_MIN_BITS

    m = BLOOM_MIN_BITS
    while m < BLOOM_BITS_PER_KEY * n_keys:
        m *= 2
    return m


def test_bloom_m_in_plan_matches_sizing_rule(spark):
    """q_bloom_delta sizes m in the plan from count(old snapshot); the
    column must equal the integer sizing rule exactly, at the floor, on
    both sides of the first doubling (6553 keys = 65530 bits stays at
    65536; 6554 = 65540 doubles), at an exact power of two (13107 keys =
    131070 bits -> 131072; 13108 = 131080 -> 262144) and past 10^8
    keys, where a log2 on doubles could misround."""
    from pyspark.sql import functions as F

    from parquet_compactor_spark.llm.curation import _bloom_m

    ns = [0, 1, 6553, 6554, 13107, 13108, 107_374_182, 107_374_183, 10**8 + 7]
    got = {
        r.n: r.m
        for r in spark.createDataFrame([(n,) for n in ns], "n bigint")
        .select("n", _bloom_m(F.col("n")).alias("m"))
        .collect()
    }
    assert got == {n: _bloom_m_reference(n) for n in ns}
    assert got[6553] == 65536 and got[6554] == 131072
    assert got[13107] == 131072 and got[13108] == 262144
    # 107374182 keys = 1073741820 bits <= 2^30; one more key crosses it.
    assert got[107_374_182] == 2**30 and got[107_374_183] == 2**31


def test_ivf_cell_stats_invariants(spark):
    """The index-balance audit's arithmetic contracts on the smoke
    fixture: counts cover every non-NULL vector exactly once, every
    surviving cell is non-empty, the ppm fractions sum to ~1e6 (integer
    floors lose < 1 ppm per cell), load_ppm == frac_ppm * n_cells
    exactly (same integer division), and the buckets are a subset of
    the K=8 seed ids — the SAME cells q_ann_ivf / q_ivfpq_search probe
    (shared ivf_assign stage)."""
    from pyspark.sql import functions as F

    from parquet_compactor_spark.registry import all_queries, load
    from tests.conftest import SF_SMOKE

    rows = all_queries()["q_ivf_cell_stats"].fn(spark, SF_SMOKE).collect()
    assert rows
    e = load(spark, SF_SMOKE, "embeddings")
    n = e.filter(F.col("embedding").isNotNull()).count()
    assert sum(r.n_vecs for r in rows) == n
    assert all(r.n_vecs >= 1 for r in rows)
    k = len(rows)
    assert set(r.bucket for r in rows) <= set(range(8))
    total_ppm = sum(r.frac_ppm for r in rows)
    assert 1_000_000 - k <= total_ppm <= 1_000_000
    for r in rows:
        assert r.load_ppm == (r.n_vecs * k * 1_000_000) // n


def test_kanon_audit_invariants(spark):
    """The release audit's arithmetic on the fixture: class sizes cover
    every customer exactly once, at_risk is exactly n_rows < k, and the
    headline risk_ppm equals the recomputed exact integer division on
    every row (it is a windowed constant)."""
    from parquet_compactor_spark.llm.curation import KANON_K
    from parquet_compactor_spark.registry import all_queries, load
    from tests.conftest import SF_SMOKE

    rows = all_queries()["q_kanon_audit"].fn(spark, SF_SMOKE).collect()
    assert rows
    total = load(spark, SF_SMOKE, "customer").count()
    assert sum(r.n_rows for r in rows) == total
    risky = sum(r.n_rows for r in rows if r.n_rows < KANON_K)
    expect_ppm = (risky * 1_000_000) // total
    for r in rows:
        assert r.at_risk == (r.n_rows < KANON_K)
        assert r.risk_ppm == expect_ppm


def test_dist_drift_psi_semantics(spark, tmp_path):
    """PSI contract on a PLANTED drift: old shard all short docs, new
    shard half short half long — the long bucket must carry a large
    positive psi_micro (mass appeared where there was ~none) and the
    short bucket a positive contribution too ((q-p)*ln(q/p) is
    non-negative for every cell); identical shards give all-zero PSI."""
    import math

    from parquet_compactor_spark.registry import all_queries

    short = " ".join(f"w{i}" for i in range(10))   # bucket 16
    long = " ".join(f"w{i}" for i in range(100))   # bucket 112
    # old shard: ids % 3 != 0; new shard: ids % 3 == 0
    rows = [(1, short), (2, short), (4, short), (5, short),
            (3, short), (6, long), (9, long), (12, long)]
    sf = _write_docs(spark, tmp_path, rows)
    got = {r.bucket_len: r for r in all_queries()["q_dist_drift"].fn(spark, sf).collect()}
    assert set(got) == {16, 112}
    s, l = got[16], got[112]
    assert (s.n_old, s.n_new) == (4, 1) and (l.n_old, l.n_new) == (0, 3)
    assert s.p_ppm == 1_000_000 and s.q_ppm == 250_000
    assert l.p_ppm == 1 and l.q_ppm == 750_000  # empty-cell clamp to 1 ppm
    for r in (s, l):
        # recompute with the same op chain
        expect = math.floor((r.q_ppm - r.p_ppm) / 1_000_000
                            * math.log(r.q_ppm / r.p_ppm) * 1_000_000 + 0.5)
        assert r.psi_micro == expect
        assert r.psi_micro > 0
    assert l.psi_micro > 1_000_000  # the planted shift dominates


def test_normalized_fingerprint_is_canonical(spark):
    """The shared normalized_fingerprint helper and q_snapshot_delta's
    attested inline expression must compute identical identities (the
    snapshot-delta family, its bloom pre-filter, and the streaming gate
    all share ONE document-identity definition; q_snapshot_delta's
    inline copy unifies onto the helper at its next rotation)."""
    from pyspark.sql import functions as F

    from parquet_compactor_spark.llm.text import normalized_fingerprint

    df = spark.createDataFrame(
        [("  The   quick\tbrown ",), ("x",), ("",), (None,)],
        "text string",
    )
    rows = df.select(
        normalized_fingerprint(F.col("text")).alias("helper"),
        F.md5(
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
        ).alias("inline"),
    ).collect()
    for r in rows:
        assert r.helper == r.inline


def _write_single_file_fixture(tmp_path, docs=None, embeddings=None):
    """Single-FILE parquet fixtures (pyarrow, not Spark directories) so
    the DuckDB oracle harness can register them; smoke tables ship
    alongside for the unused views."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.conftest import SF_SMOKE

    copied = {"region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"}
    if docs is not None:
        copied.discard("documents")
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([i for i, _ in docs], type=pa.int64()),
                    "text": pa.array([t for _, t in docs], type=pa.string()),
                    "lang": pa.array(["en"] * len(docs), type=pa.string()),
                    "source": pa.array(["src0"] * len(docs), type=pa.string()),
                    "n_chars": pa.array(
                        [len(t) if t is not None else None for _, t in docs],
                        type=pa.int64(),
                    ),
                }
            ),
            str(tmp_path / "documents.parquet"),
        )
    if embeddings is not None:
        copied.discard("embeddings")
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(
                        [i for i, _, _ in embeddings], type=pa.int64()
                    ),
                    "embedding": pa.array(
                        [v for _, v, _ in embeddings],
                        type=pa.list_(pa.float32()),
                    ),
                    "label": pa.array(
                        [lb for _, _, lb in embeddings], type=pa.int32()
                    ),
                }
            ),
            str(tmp_path / "embeddings.parquet"),
        )
    for t in copied:
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", str(tmp_path / f"{t}.parquet"))
    return str(tmp_path)


def test_token_fertility_multibyte_and_null_text(spark, tmp_path):
    """Hand-computed fertility on a planted corpus: BPE-ish regex tokens
    split non-ASCII letters into punct-runs (exactly why fertility
    audits exist), bytes are UTF-8 octets (NOT characters), NULL text
    contributes to n_docs but to no sum, and the oracle agrees on the
    same fixture."""
    from parquet_compactor_spark.registry import all_queries
    from tests.oracle_utils import compare_to_oracle

    docs = [(1, "hello world."), (2, "héllo wörld"), (3, None)]
    sf = _write_single_file_fixture(tmp_path, docs=docs)
    q = all_queries()["q_token_fertility"]
    compare_to_oracle(q.fn(spark, sf), q.oracle, sf)
    (r,) = q.fn(spark, sf).collect()
    # words: 2 + 2; tokens: (hello|world|.)=3 + (h|é|llo, w|ö|rld)=6;
    # bytes: 12 + 13 (two 2-byte letters).
    assert (r.n_docs, r.total_words, r.total_tokens, r.total_bytes) == (
        3, 4, 9, 25,
    )
    assert r.fertility == 2.25
    assert r.bytes_per_token == 2.7778


def test_eval_contamination_planted_overlaps(spark, tmp_path):
    """Known-by-construction contamination: a full copy of an eval doc
    is 100% covered; a doc sharing exactly the eval doc's first 8
    tokens has one hit window covering 8 tokens; fresh docs report
    zero; eval-shard docs and sub-window docs emit no row; the DuckDB
    oracle agrees on the same corpus."""
    from parquet_compactor_spark.registry import all_queries
    from tests.oracle_utils import compare_to_oracle

    ev = " ".join(f"ev{i}" for i in range(12))  # eval doc: 12 tokens
    partial = " ".join(ev.split(" ")[:8] + [f"fresh{i}" for i in range(4)])
    other = " ".join(f"plain{i}" for i in range(12))
    docs = [
        (7, ev),                 # eval shard (7 % 23 == 7)
        (30, " ".join(f"hold{i}" for i in range(12))),  # eval (30 % 23 == 7)
        (1, ev),                 # train: full copy of the eval doc
        (2, partial),            # train: first 8 tokens shared
        (3, other),              # train: clean
        (4, "too short"),        # train: under W -> no window, no row
    ]
    sf = _write_single_file_fixture(tmp_path, docs=docs)
    q = all_queries()["q_eval_contamination"]
    compare_to_oracle(q.fn(spark, sf), q.oracle, sf)
    got = {r.doc_id: r for r in q.fn(spark, sf).collect()}
    assert set(got) == {1, 2, 3}, "eval docs and sub-window docs emit no row"
    assert all(r.n_windows == 5 for r in got.values())  # 12 - 8 + 1
    r1 = got[1]
    assert (r1.n_hit_windows, r1.overlap_tokens, r1.overlap_frac) == (5, 12, 1.0)
    assert r1.contaminated is True
    r2 = got[2]
    assert (r2.n_hit_windows, r2.overlap_tokens, r2.overlap_frac) == (1, 8, 0.6667)
    assert r2.contaminated is True
    r3 = got[3]
    assert (r3.n_hit_windows, r3.overlap_tokens) == (0, 0)
    assert r3.contaminated is False


def test_semdedup_prune_planted_cells(spark, tmp_path):
    """Keep-first pruning inside Lloyd-refined IVF cells on a corpus
    whose assignment is known by construction: two identical vectors
    share a cell with their seed (cos 1 >= 0.92 -> the larger id
    drops; the seed at cos 0.8 survives), a second cell holds one
    member + seed below threshold (nothing drops), the remaining six
    cells hold only their seeds; the DuckDB oracle replays the same
    two-pass assignment."""
    from parquet_compactor_spark.registry import all_queries
    from tests.oracle_utils import compare_to_oracle

    def basis(i, *pairs):
        v = [0.0] * 64
        v[i] = 1.0
        for d, x in pairs:
            v[d] = x
        return v

    seeds = [(100 + i, basis(i), 0) for i in range(8)]
    va = [0.0] * 64
    va[0], va[1] = 0.8, 0.6
    vb = [0.0] * 64
    vb[1], vb[2] = 0.8, 0.6
    rows = seeds + [(1, va, 0), (2, list(va), 0), (3, vb, 0)]
    sf = _write_single_file_fixture(tmp_path, embeddings=rows)
    q = all_queries()["q_semdedup_prune"]
    compare_to_oracle(q.fn(spark, sf), q.oracle, sf)
    got = {r.cluster_id: r for r in q.fn(spark, sf).collect()}
    assert set(got) == set(range(8))
    assert (got[0].n_vecs, got[0].n_dropped, got[0].kept_frac) == (3, 1, 0.6667)
    assert (got[1].n_vecs, got[1].n_dropped, got[1].kept_frac) == (2, 0, 1.0)
    for c in range(2, 8):
        assert (got[c].n_vecs, got[c].n_dropped) == (1, 0)


def test_secret_scan_seeded_ground_truth(spark, tmp_path):
    """Detector semantics on a corpus where secret membership is known
    by construction: doc 0 (0 % 7 == 0 AND 0 % 11 == 0) carries both a
    hex credential and an AKIA key, doc 7 only the hex, doc 11 only the
    AKIA, docs 1/2 are clean prose, doc 3 is NULL text (zero hits, still
    counted). The hex credential also matches the long-token class
    (documented overlap); the AKIA key matches only its own detector
    (20 chars < 24)."""
    from parquet_compactor_spark.registry import all_queries
    from tests.oracle_utils import compare_to_oracle

    docs = [
        (0, "plain words here"),
        (7, "more plain words"),
        (11, "other plain words"),
        (1, "clean document text"),
        (2, "another clean one"),
        (3, None),
    ]
    sf = _write_single_file_fixture(tmp_path, docs=docs)
    q = all_queries()["q_secret_scan"]
    compare_to_oracle(q.fn(spark, sf), q.oracle, sf)
    (r,) = q.fn(spark, sf).collect()
    assert r.n_docs == 6
    assert r.hex_hits == 2          # docs 0 and 7
    assert r.aws_hits == 2          # docs 0 and 11
    assert r.longtok_hits == 2      # the two 32-char hex runs only
    assert r.docs_with_secret == 3  # 0, 7, 11
    assert r.secret_ppm == 500000


def test_vocab_coverage_planted_oov(spark, tmp_path):
    """Vocabulary and OOV membership known by construction: the even
    shard trains the vocab; an odd doc mixing two in-vocab tokens with
    two occurrences of one OOV type reports exactly that; an odd doc of
    only vocab tokens reports zero OOV."""
    from parquet_compactor_spark.registry import all_queries
    from tests.oracle_utils import compare_to_oracle

    docs = [
        (0, "alpha beta alpha gamma"),   # train: vocab {alpha,beta,gamma}
        (2, "alpha beta"),               # train
        (1, "alpha zzz beta zzz"),       # eval: 4 tokens, 2 OOV, 1 type
        (3, "gamma alpha"),              # eval: all in vocab
    ]
    sf = _write_single_file_fixture(tmp_path, docs=docs)
    q = all_queries()["q_vocab_coverage"]
    compare_to_oracle(q.fn(spark, sf), q.oracle, sf)
    (r,) = q.fn(spark, sf).collect()
    assert (r.n_tokens, r.n_oov, r.n_oov_types) == (6, 2, 1)
    assert r.oov_ppm == 333333


def test_rank_fusion_planted_ranks(spark, tmp_path):
    """RRF arithmetic on planted retrievals: a doc stuffed with query
    terms takes lexical rank 1; the embedding colinear with the query
    vector takes semantic rank 1; a doc present in BOTH arms fuses both
    reciprocal terms, single-arm docs carry a NULL rank on the missing
    side and exactly one term."""
    from parquet_compactor_spark.registry import all_queries
    from tests.oracle_utils import compare_to_oracle

    docs = [
        (1, "spark merge window spark merge window spark"),  # lex-heavy
        (2, "spark alone among plain words"),                # weaker lex
        (3, "no query words at all"),                        # lex-absent
    ]
    e1 = [1.0] + [0.0] * 63
    e2 = [0.0, 1.0] + [0.0] * 62
    embs = [
        (0, e1, 0),                   # the query vector
        (2, [2.0] + [0.0] * 63, 0),   # colinear -> sem rank 1
        (3, e2, 0),                   # orthogonal -> sem rank 2 (cos 0)
    ]
    sf = _write_single_file_fixture(tmp_path, docs=docs, embeddings=embs)
    q = all_queries()["q_rank_fusion"]
    compare_to_oracle(q.fn(spark, sf), q.oracle, sf)
    got = {r.doc_id: r for r in q.fn(spark, sf).collect()}
    assert got[1].lex_rank == 1 and got[1].sem_rank is None
    assert got[2].lex_rank == 2 and got[2].sem_rank == 1
    assert got[3].lex_rank is None and got[3].sem_rank == 2
    assert got[1].rrf_micro == round(1e6 / 61)      # 1/(60+1)
    assert got[2].rrf_micro == 32522  # floor((1/62 + 1/61)*1e6 + 0.5)
    assert got[3].rrf_micro == round(1e6 / 62)


def test_winnowing_guarantee_and_density(spark, tmp_path):
    """Winnowing's two contracts on a planted corpus: (1) the GUARANTEE —
    two docs sharing a run of >= w+k-1 = 8 tokens share at least one
    selected fingerprint (n_shared > 0 on both); (2) density — a doc of
    n distinct-ish tokens selects ~2/(w+1) of its grams, and never more
    than the window count. A doc with no 8-token overlap shares
    nothing."""
    from parquet_compactor_spark.registry import all_queries
    from tests.oracle_utils import compare_to_oracle

    shared8 = " ".join(f"s{i}" for i in range(8))
    docs = [
        (1, shared8 + " " + " ".join(f"a{i}" for i in range(12))),
        (2, " ".join(f"b{i}" for i in range(12)) + " " + shared8),
        (3, " ".join(f"c{i}" for i in range(20))),  # no overlap
        (4, "too short"),                            # < k tokens: no row
    ]
    sf = _write_single_file_fixture(tmp_path, docs=docs)
    q = all_queries()["q_winnowing_fingerprint"]
    compare_to_oracle(q.fn(spark, sf), q.oracle, sf)
    got = {r.doc_id: r for r in q.fn(spark, sf).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1].n_shared > 0 and got[2].n_shared > 0, (
        "the w+k-1 guarantee: a shared 8-token run must share a fingerprint"
    )
    assert got[3].n_shared == 0
    for r in got.values():
        n_windows = r.n_grams - 3  # positions with a full w=4 window
        assert 1 <= r.n_selected <= n_windows
        # density ~ 2/(w+1) = 0.4 of grams; generous band for tiny docs
        assert r.n_selected <= r.n_grams


def test_embedding_drift_planted_shift(spark, tmp_path):
    """Mean-shift arithmetic known by construction: dim 1 carries a
    +0.5 shift between the old (vec_id % 3 != 0) and new shards ->
    drifted; dim 2 is identical across shards -> delta 0; a NULL
    embedding is scoped out of both shards."""
    from parquet_compactor_spark.registry import all_queries
    from tests.oracle_utils import compare_to_oracle

    def vec(d1, d2):
        v = [0.0] * 64
        v[0], v[1] = d1, d2
        return v

    rows = [
        (1, vec(0.1, 0.25), 0),  # old
        (2, vec(0.3, 0.25), 0),  # old (old mean dim1 = 0.2)
        (3, vec(0.7, 0.25), 0),  # new
        (6, vec(0.7, 0.25), 0),  # new (new mean dim1 = 0.7)
        (4, None, 0),            # NULL: scoped out (4 % 3 != 0 -> old)
    ]
    sf = _write_single_file_fixture(tmp_path, embeddings=rows)
    q = all_queries()["q_embedding_drift"]
    compare_to_oracle(q.fn(spark, sf), q.oracle, sf)
    got = {r.dim: r for r in q.fn(spark, sf).collect()}
    assert len(got) == 64
    assert (got[1].n_old, got[1].n_new) == (2, 2)
    assert got[1].mean_old_micro == 200000
    assert got[1].mean_new_micro == 700000
    assert got[1].abs_delta_micro == 500000 and got[1].drifted is True
    assert got[2].abs_delta_micro == 0 and got[2].drifted is False


def test_shard_packing_beats_hash_on_skewed_sizes(spark, tmp_path):
    """The packing ledger's core claim, on a size-skewed corpus: the
    serpentine deal's worst-shard deviation is no worse than the hash
    assignment's (and the totals agree: both assignments conserve
    tokens; every doc lands in exactly one shard of each scheme)."""
    from parquet_compactor_spark.registry import all_queries
    from tests.oracle_utils import compare_to_oracle

    # 64 docs with strongly skewed sizes: doc i has 5*(i+1) tokens.
    docs = [
        (i, " ".join(f"t{i}_{j}" for j in range(5 * (i + 1))))
        for i in range(64)
    ]
    sf = _write_single_file_fixture(tmp_path, docs=docs)
    q = all_queries()["q_shard_packing"]
    compare_to_oracle(q.fn(spark, sf), q.oracle, sf)
    rows = q.fn(spark, sf).collect()
    assert len(rows) == 16
    total = 5 * 64 * 65 // 2
    assert sum(r.tokens_packed for r in rows) == total
    assert sum(r.tokens_hash for r in rows) == total
    assert sum(r.n_docs for r in rows) == 64
    worst_packed = max(abs(r.dev_packed_ppm) for r in rows)
    worst_hash = max(abs(r.dev_hash_ppm) for r in rows)
    assert worst_packed <= worst_hash, (
        f"serpentine ({worst_packed} ppm) must not lose to hash "
        f"({worst_hash} ppm) on skewed sizes"
    )


# --------------------------------------------------------------------------
# Round 11 session 2: CDC chunking, source overlap, TTR/hapax
# --------------------------------------------------------------------------


def _write_sourced_docs(spark, tmp_path, rows):
    """documents.parquet with caller-controlled (doc_id, text, source)."""
    df = spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _cdc_chunk_rows(spark, texts):
    from parquet_compactor_spark.llm.dedup import cdc_chunks

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    return (
        df.select("doc_id", F.explode(cdc_chunks(F.split("text", " ", -1))).alias("c"))
        .select("doc_id", "c.n_tok", "c.h")
        .collect()
    )


def test_cdc_chunks_partition_the_document(spark):
    """Chunk token counts must sum to the doc's token count — the chunks
    partition the word sequence with no gap or overlap."""
    texts = [
        " ".join(f"w{(i * 7) % 101}x{i % 13}" for i in range(400)),
        "short doc",
        "",
    ]
    rows = _cdc_chunk_rows(spark, texts)
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.n_tok)
    assert sum(by_doc[0]) == 400
    assert by_doc[1] == [2]  # under CDC_W words -> one whole-doc chunk
    assert by_doc[2] == [1]  # split('') -> [''], one 1-token chunk


def test_cdc_chunks_resync_after_prefix_insert(spark):
    """The FastCDC property that motivates content-defined over fixed-width
    chunking: prepending words shifts every downstream position, yet cut
    points depend only on window content, so all chunks after the first
    boundary re-align and dedup against the original."""
    base = " ".join(f"w{(i * 7) % 101}x{i % 13}" for i in range(400))
    edited = "five freshly inserted prefix words " + base
    rows = _cdc_chunk_rows(spark, [base, edited])
    h0 = {r.h for r in rows if r.doc_id == 0}
    h1 = {r.h for r in rows if r.doc_id == 1}
    # Everything except the chunk(s) touching the edit must re-align.
    assert len(h0 & h1) >= len(h0) - 2
    # A fixed-width chunker would share ~nothing: prove the planted shift
    # actually moved the token positions (sanity on the fixture).
    assert base.split()[:1] != edited.split()[:1]


def test_cdc_chunk_dedup_flags_planted_shared_region(spark, tmp_path):
    """A paragraph pasted into two otherwise-different docs must surface as
    shared chunks in BOTH docs' sources; a source with unique text reports
    zero shared tokens."""
    shared = " ".join(f"shared{(i * 11) % 97}tok{i % 7}" for i in range(120))
    uniq_a = " ".join(f"alpha{i}" for i in range(80))
    uniq_b = " ".join(f"beta{i}" for i in range(80))
    uniq_c = " ".join(f"gamma{i}" for i in range(80))
    sf = _write_sourced_docs(
        spark,
        tmp_path,
        [
            (0, uniq_a + " " + shared, "srcA"),
            (1, shared + " " + uniq_b, "srcB"),
            (2, uniq_c, "srcC"),
        ],
    )
    from parquet_compactor_spark.registry import all_queries

    out = {r.source: r for r in all_queries()["q_cdc_chunk_dedup"].fn(spark, sf).collect()}
    assert out["srcA"].n_shared_chunks > 0
    assert out["srcB"].n_shared_chunks > 0
    assert out["srcC"].n_shared_chunks == 0
    # The shared region is 120 of ~200 tokens; most of it must be caught.
    assert out["srcA"].shared_token_frac > 0.3
    assert out["srcC"].shared_token_frac == 0.0


def test_source_overlap_planted_contained_source(spark, tmp_path):
    """srcB's text is a subset of srcA's -> containment(A,B) = 1.0; srcC is
    disjoint from both -> zero-overlap pairs STILL get a row (the complete
    pair spine), with jaccard 0."""
    text_a = " ".join(f"tok{i}" for i in range(60))
    text_b = " ".join(f"tok{i}" for i in range(30))  # prefix of A: all B-grams in A
    text_c = " ".join(f"other{i}" for i in range(60))
    sf = _write_sourced_docs(
        spark, tmp_path, [(0, text_a, "srcA"), (1, text_b, "srcB"), (2, text_c, "srcC")]
    )
    from parquet_compactor_spark.registry import all_queries

    rows = {
        (r.src_a, r.src_b): r
        for r in all_queries()["q_source_overlap"].fn(spark, sf).collect()
    }
    assert set(rows) == {("srcA", "srcB"), ("srcA", "srcC"), ("srcB", "srcC")}
    ab = rows[("srcA", "srcB")]
    assert ab.containment == 1.0  # every B 3-gram occurs in A
    assert ab.n_shared == ab.n_b
    assert rows[("srcA", "srcC")].n_shared == 0
    assert rows[("srcA", "srcC")].jaccard == 0.0


def test_ttr_hapax_exact_counts(spark, tmp_path):
    """'a a b c' -> 4 tokens, 3 types, 2 hapaxes (b, c)."""
    sf = _write_sourced_docs(spark, tmp_path, [(0, "a a b c", "srcX")])
    from parquet_compactor_spark.registry import all_queries

    r = all_queries()["q_ttr_hapax"].fn(spark, sf).collect()[0]
    assert (r.n_tokens, r.n_types, r.n_hapax) == (4, 3, 2)
    assert r.ttr == 0.75
    assert r.hapax_rate == round(2 / 3, 4)


def test_dedup_cascade_attributes_each_planted_dup_to_its_stage(spark, tmp_path):
    """One exact copy, one whitespace/case variant, one near-dup, one
    unrelated doc: each must be removed by exactly its own stage."""
    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill every single morning"
    )
    sf = _write_sourced_docs(
        spark,
        tmp_path,
        [
            (0, base, "s"),
            (1, base, "s"),  # exact dup -> stage 1
            (2, "  " + base.upper() + "  ", "s"),  # canonical dup -> stage 2
            (3, base.replace("lazy", "sleepy"), "s"),  # near dup -> stage 3
            (4, "completely unrelated text about parquet compaction engines", "s"),
        ],
    )
    from parquet_compactor_spark.registry import all_queries

    rows = {r.stage: r for r in all_queries()["q_dedup_cascade"].fn(spark, sf).collect()}
    assert (rows["1_exact"].n_in, rows["1_exact"].n_removed, rows["1_exact"].n_out) == (5, 1, 4)
    assert (rows["2_normalized"].n_removed, rows["2_normalized"].n_out) == (1, 3)
    assert (rows["3_near_dup"].n_removed, rows["3_near_dup"].n_out) == (1, 2)


def test_dp_histogram_mechanism_distribution_and_clamp(spark, tmp_path):
    """The inverse-CDF table must realize the discrete Laplace pmf: over
    many hash-uniform draws, P(z=0) -> (1-a)/(1+a) = 0.6 and
    P(|z|<=1) -> 0.9 at alpha=1/4. Releases are clamped at zero."""
    from parquet_compactor_spark.llm.curation import DP_THRESHOLDS, DP_ZMAX

    assert DP_THRESHOLDS == sorted(DP_THRESHOLDS)
    assert DP_THRESHOLDS[-1] == 2**40
    rows = [(i, "tiny doc text", f"grp{i:04d}") for i in range(2000)]
    sf = _write_sourced_docs(spark, tmp_path, rows)
    from parquet_compactor_spark.registry import all_queries

    out = all_queries()["q_dp_histogram"].fn(spark, sf).collect()
    assert len(out) == 2000
    zs = [r.z for r in out]
    assert all(-DP_ZMAX <= z <= DP_ZMAX for z in zs)
    frac0 = sum(1 for z in zs if z == 0) / len(zs)
    frac1 = sum(1 for z in zs if abs(z) <= 1) / len(zs)
    assert 0.55 < frac0 < 0.65, frac0
    assert 0.85 < frac1 < 0.95, frac1
    for r in out:  # every source has n_true=1; releases never go negative
        assert r.n_released == max(0, r.n_true + r.z)


def test_novelty_curve_planted_repeat_half(spark, tmp_path):
    """Docs 10-19 are verbatim copies of docs 0-9: the second half of the
    curve must contribute ZERO new 5-grams, the first half 100%."""
    texts = [" ".join(f"b{d}w{i}" for i in range(12)) for d in range(10)]
    rows = [(d, texts[d], "s") for d in range(10)] + [
        (10 + d, texts[d], "s") for d in range(10)
    ]
    sf = _write_sourced_docs(spark, tmp_path, rows)
    from parquet_compactor_spark.registry import all_queries

    out = {r.bucket: r for r in all_queries()["q_novelty_curve"].fn(spark, sf).collect()}
    assert all(out[b].new_frac == 1.0 for b in range(5))
    assert all(out[b].new_frac == 0.0 for b in range(5, 10))


def test_budget_select_admits_in_quality_order_until_budget(spark, tmp_path):
    """Three docs of 400 distinct-token words each (quality 1.0 ties ->
    doc_id order) against the 800-token budget: docs 0 and 1 admitted
    (0 + 400 < 800), doc 2 rejected (800 !< 800). A low-quality repetitive
    doc never displaces a high-quality one regardless of id order."""
    uniq = lambda d: " ".join(f"d{d}w{i}" for i in range(400))
    rows = [
        (0, uniq(0), "s"),
        (1, uniq(1), "s"),
        (2, uniq(2), "s"),
        (3, "spam " * 399 + "spam", "t"),  # 400 tokens, quality 1/400
        (4, uniq(4), "t"),
    ]
    sf = _write_sourced_docs(spark, tmp_path, [(i, t.strip(), s) for i, t, s in rows])
    from parquet_compactor_spark.registry import all_queries

    out = {r.source: r for r in all_queries()["q_budget_select"].fn(spark, sf).collect()}
    assert out["s"].n_selected == 2 and out["s"].tokens_selected == 800
    # In source t the unique doc (id 4) outranks the earlier spam doc
    # (id 3); both fit the budget check (0 < 800, 400 < 800).
    assert out["t"].n_selected == 2
    assert out["t"].cutoff_quality_micro == 2500  # 1/400 as micro


def test_doc_entropy_separates_spam_from_diverse(spark, tmp_path):
    """A one-word-repeated doc has zero entropy (bucket 0); a 64-distinct-
    token doc has ln(64) ~ 4.159 nats (bucket 8)."""
    sf = _write_sourced_docs(
        spark,
        tmp_path,
        [
            (0, ("spam " * 64).strip(), "s"),
            (1, " ".join(f"w{i}" for i in range(64)), "s"),
        ],
    )
    from parquet_compactor_spark.registry import all_queries

    out = {r.bucket: r for r in all_queries()["q_doc_entropy"].fn(spark, sf).collect()}
    assert 0 in out and out[0].n_docs == 1 and out[0].max_h_micro == 0
    assert 8 in out and out[8].n_docs == 1  # ln(64)*1e6 // 5e5 = 8


def test_l_diversity_flags_homogeneous_class(spark):
    """A class where every member shares one sensitive band must be
    at_risk even when it is large enough to pass k-anonymity."""
    from parquet_compactor_spark.llm.curation import LDIV_L

    rows = (
        [(i, 1, "AUTO", 1500.0) for i in range(10)]  # 10 rows, 1 band
        + [(100 + i, 2, "AUTO", 1000.0 * i) for i in range(5)]  # 5 bands
    )
    df = spark.createDataFrame(
        rows, "c_custkey bigint, c_nationkey bigint, c_mktsegment string, c_acctbal double"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.coalesce(1).write.mode("overwrite").parquet(f"{d}/customer.parquet")
        from parquet_compactor_spark.registry import all_queries

        out = {
            (r.nationkey, r.mktsegment): r
            for r in all_queries()["q_l_diversity"].fn(spark, d).collect()
        }
    assert out[(1, "AUTO")].n_sensitive == 1 and out[(1, "AUTO")].at_risk
    assert out[(2, "AUTO")].n_sensitive == 5 and not out[(2, "AUTO")].at_risk
    assert LDIV_L == 3
    # risk_ppm: 10 of 15 rows live in the homogeneous class.
    assert out[(1, "AUTO")].risk_ppm == 10 * 1000000 // 15


def test_quota_admission_summary_matches_batch_twin(spark, tmp_path):
    """The registered summary query must be the aggregation of the
    streaming gate's batch twin — one policy, two views."""
    rows = [(i, f"t{i % 7}", f"src{i % 3}") for i in range(90)]
    sf = _write_sourced_docs(spark, tmp_path, rows)
    from parquet_compactor_spark.registry import all_queries, load
    from parquet_compactor_spark.streaming.pipeline import (
        QUOTA_Q,
        quota_admission_batch,
    )

    docs = load(spark, sf, "documents")
    twin = {
        r.doc_id: r.admitted for r in quota_admission_batch(docs).collect()
    }
    docs_src = {r.doc_id: r.source for r in docs.select("doc_id", "source").collect()}
    expect = {}
    for doc_id, adm in twin.items():
        src = docs_src[doc_id]
        e = expect.setdefault(src, [0, 0, None])
        e[0] += 1
        if adm:
            e[1] += 1
            e[2] = doc_id if e[2] is None else max(e[2], doc_id)
    out = {
        r.source: (r.n_docs, r.n_admitted, r.max_admitted_id)
        for r in all_queries()["q_quota_admission"].fn(spark, sf).collect()
    }
    assert out == {s: tuple(v) for s, v in expect.items()}
    assert all(v[1] <= QUOTA_Q for v in out.values())


def test_embed_covariance_exact_on_planted_vectors(spark, tmp_path):
    """Hand-computable covariance: vectors [0.1, 0.2], [0.3, 0.6],
    [0.5, 1.0] quantize to (100,200),(300,600),(500,1000). The numerator
    n*Sxy - Sx*Sy must come out exactly, including the perfectly
    correlated off-diagonal; and the result must be invariant to input
    partitioning (the partial-Gram reduce is associative)."""
    rows = [(0, [0.1, 0.2], 0), (1, [0.3, 0.6], 1), (2, [0.5, 1.0], 0)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    from parquet_compactor_spark.registry import all_queries

    out = {
        (r.dim_i, r.dim_j): (r.n, r.cov_num)
        for r in all_queries()["q_embed_covariance"].fn(spark, str(tmp_path)).collect()
    }
    # Sx = 900, Sy = 1800, Sxx = 350000, Sxy = 700000, Syy = 1400000.
    assert out[(1, 1)] == (3, 3 * 350000 - 900 * 900)
    assert out[(1, 2)] == (3, 3 * 700000 - 900 * 1800)
    assert out[(2, 2)] == (3, 3 * 1400000 - 1800 * 1800)
    # cov(x,y)^2 == var(x)var(y) for perfectly correlated dims.
    assert out[(1, 2)][1] ** 2 == out[(1, 1)][1] * out[(2, 2)][1]
    # Partitioning invariance: 7-way split, same exact integers.
    df.repartition(7).write.mode("overwrite").parquet(
        str(tmp_path / "embeddings.parquet")
    )
    out7 = {
        (r.dim_i, r.dim_j): (r.n, r.cov_num)
        for r in all_queries()["q_embed_covariance"].fn(spark, str(tmp_path)).collect()
    }
    assert out7 == out


def test_kn_bigram_continuation_beats_raw_frequency(spark, tmp_path):
    """The Kneser-Ney point: 'francisco' is FREQUENT in training but
    follows only one context, while 'cat' follows three — for an unseen
    context, P_cont must rank 'cat' 3x over 'francisco' even though raw
    unigram frequency says the opposite."""
    train = [
        (0, "san francisco " * 5, "s"),  # francisco: 1 context, freq 5
        (2, "the cat", "s"),
        (4, "a cat", "s"),
        (6, "my cat", "s"),  # cat: 3 contexts, freq 3
    ]
    test = [
        (1, "zzz francisco", "s"),  # unseen ctx 'zzz' -> pure P_cont
        (3, "zzz cat", "s"),
    ]
    sf = _write_sourced_docs(
        spark, tmp_path, [(i, t.strip(), s) for i, t, s in train + test]
    )
    from parquet_compactor_spark.registry import all_queries

    out = {
        r.doc_id: r for r in all_queries()["q_kn_bigram"].fn(spark, sf).collect()
    }
    assert out[1].n_unseen_ctx == 1 and out[3].n_unseen_ctx == 1
    # P_cont(cat) = 3/B vs P_cont(francisco) = 1/B: exactly 3x in micro.
    assert out[3].score_micro > 2 * out[1].score_micro
    assert out[1].score_micro > 0  # francisco IS a known continuation


def test_skew_audit_flags_planted_hot_key(spark, tmp_path):
    """50 uniform users (1 event) + one hot user (100 events): the hot
    key lands alone in its power-of-two band and the exact-integer skew
    ratio reads max_freq/ceil(avg) = 100e6 // 3."""
    from datetime import datetime

    rows = [(i, datetime(2024, 1, 1, 0, 0, i % 60), 1000 + i, "view", 1.0, "{}")
            for i in range(50)]
    rows += [(100 + j, datetime(2024, 1, 1, 1, 0, j % 60), 7, "view", 1.0, "{}")
             for j in range(100)]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from parquet_compactor_spark.registry import all_queries

    out = {r.band: r for r in all_queries()["q_skew_audit"].fn(spark, str(tmp_path)).collect()}
    assert out[0].n_keys == 50 and out[0].max_freq == 1
    assert out[6].n_keys == 1 and out[6].max_freq == 100  # 64 <= 100 < 128
    # 150 rows / 51 keys -> ceil(avg) = 3; ratio = 100e6 // 3.
    assert out[0].skew_ratio_micro_floor == 100000000 // 3


def test_dup_inflation_exact_token_weighting(spark, tmp_path):
    """Two copies of a 4-token doc + one unique 2-token doc: total 10
    tokens over 6 distinct-content tokens -> inflation 10/6 in micro."""
    sf = _write_sourced_docs(
        spark,
        tmp_path,
        [(0, "a b c d", "s"), (1, "a b c d", "s"), (2, "x y", "s")],
    )
    from parquet_compactor_spark.registry import all_queries

    r = all_queries()["q_dup_inflation"].fn(spark, sf).collect()[0]
    assert (r.tokens_total, r.tokens_distinct) == (10, 6)
    assert (r.n_docs, r.n_distinct_docs) == (3, 2)
    assert r.inflation_micro == 10 * 1000000 // 6


def test_countmin_never_undercounts_and_ranks_heavy_key(spark, tmp_path):
    """The CMS one-sided guarantee: est >= true for every probe; a
    planted heavy key tops the table with its exact count recovered
    (W=512 >> 31 keys -> no collisions for the heavy row)."""
    from datetime import datetime

    rows = [(j, datetime(2024, 1, 1, 0, 0, j % 60), 42, "view", 1.0, "{}")
            for j in range(200)]
    rows += [(1000 + i, datetime(2024, 1, 2, 0, 0, i % 60), 100 + i, "view", 1.0, "{}")
             for i in range(30)]
    spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    from parquet_compactor_spark.registry import all_queries

    out = all_queries()["q_countmin_topk"].fn(spark, str(tmp_path)).collect()
    assert out[0].user_id == 42 and out[0].true_cnt == 200
    for r in out:
        assert r.overcount >= 0 and r.est_cnt >= r.true_cnt
    assert out[0].est_cnt == 200  # heavy key collision-free at this fill


def test_prefix_filter_pairs_has_exact_recall_at_threshold(spark):
    """prefix_filter_pairs must surface EVERY pair with shingle Jaccard
    >= t — including borderline j-just-over-t pairs that banded MinHash
    only catches with probability 1-(1-t^r)^b (~0.65 at j=0.5 with 16x4
    bands): set-equality against all-pairs ground truth on a corpus
    planted with graded-overlap chains straddling the threshold."""
    from parquet_compactor_spark.llm.dedup import prefix_filter_pairs, word_shingles

    base = ["tok%02d" % i for i in range(12)]
    texts = []
    # Doc k rewrites its first k tokens: doc pairs (k1, k2) share the
    # unchanged suffix, J = (10 - max) / (10 + max) over 3-shingles —
    # 0.538 at max=3 (just over 0.5), 0.429 at max=4 (just under).
    for k in range(8):
        toks = list(base)
        for j in range(k):
            toks[j] = f"alt{k}_{j}"
        texts.append(" ".join(toks))
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = {
        (r.id1, r.id2)
        for r in prefix_filter_pairs(docs, 0.5)
        .filter("jaccard_exact >= 0.5")
        .collect()
    }
    sh = docs.select("doc_id", word_shingles(F.col("text")).alias("s"))
    a = sh.select(F.col("doc_id").alias("id1"), F.col("s").alias("s1"))
    b = sh.select(F.col("doc_id").alias("id2"), F.col("s").alias("s2"))
    j = F.size(F.array_intersect("s1", "s2")).cast("double") / F.size(
        F.array_union("s1", "s2")
    )
    truth = {
        (r.id1, r.id2)
        for r in a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2", j.alias("j"))
        .filter("j >= 0.5")
        .collect()
    }
    assert truth  # the planted corpus does straddle the threshold
    assert got == truth


def test_prefix_filter_pairs_exact_recall_fp_inexact_threshold(spark):
    """Round-12 ADVICE regression: t=0.3, sz=10 made the double form
    ceil(10*0.3)=ceil(3.0000000000000004)=4 shorten the prefix by one
    token, silently breaking exact recall. The bounds are now int64
    rational arithmetic (3/10): recall must be set-equal to brute force
    at t=0.3 AND t=0.6, on a seeded random corpus dense enough that the
    PPJoin positional filter actually prunes (so this also guards the
    positional bound's exactness)."""
    import random as _random

    from parquet_compactor_spark.llm.dedup import (
        prefix_filter_pairs,
        word_shingles,
    )

    rng = _random.Random(13)
    # Graded-overlap chain: doc k rewrites its first k of 12 tokens, so
    # chain pairs have J = (10-max)/(10+max) over the 10 3-shingles —
    # straddling t=0.3 (max<=5 passes) and t=0.6 (max<=2 passes), with
    # sz=10 being exactly the ADVICE ceil counterexample. Random docs
    # add collision density so the prefix/positional filters do prune.
    base = ["tok%02d" % i for i in range(12)]
    texts = []
    for k in range(9):
        toks = list(base)
        for p in range(k):
            toks[p] = f"alt{k}_{p}"
        texts.append(" ".join(toks))
    vocab = ["w%02d" % i for i in range(30)]
    texts += [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 14)))
        for _ in range(50)
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    sh = docs.select("doc_id", word_shingles(F.col("text")).alias("s"))
    a = sh.select(F.col("doc_id").alias("id1"), F.col("s").alias("s1"))
    b = sh.select(F.col("doc_id").alias("id2"), F.col("s").alias("s2"))
    j = F.size(F.array_intersect("s1", "s2")).cast("double") / F.size(
        F.array_union("s1", "s2")
    )
    allpairs = (
        a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2", j.alias("j"))
        .collect()
    )
    for t in (0.3, 0.6):
        truth = {(r.id1, r.id2) for r in allpairs if r.j >= t}
        assert truth, f"planted corpus has no pairs at t={t}"
        got = {
            (r.id1, r.id2)
            for r in prefix_filter_pairs(docs, t)
            .filter(F.col("jaccard_exact") >= t)
            .collect()
        }
        assert got == truth, f"recall broken at t={t}"


def test_embed_covariance_refuses_ragged_dimensions():
    """_gram_partials must fail LOUDLY (naming the offending lengths) on
    mixed embedding widths — both within one Arrow batch (np.stack would
    otherwise raise an opaque shape error) and across batches of one
    partition (a silently reused triangle index would mis-index sums) —
    the round-12 ADVICE divergence class vs the ragged-tolerant oracle."""
    import pandas as pd

    from parquet_compactor_spark.llm.similarity import _gram_partials

    ragged = pd.DataFrame({"embedding": [[0.1, 0.2], [0.1, 0.2, 0.3]]})
    with pytest.raises(ValueError, match="mixed embedding dimensionalities"):
        list(_gram_partials([ragged]))

    first = pd.DataFrame({"embedding": [[0.1, 0.2]]})
    second = pd.DataFrame({"embedding": [[0.1, 0.2, 0.3]]})
    with pytest.raises(ValueError, match=r"\[2, 3\]"):
        list(_gram_partials([first, second]))


def test_weighted_sample_matches_python_aes_replay(spark, tmp_path):
    """The A-ES draw is deterministic: a Python replay of the exact same
    pipeline (md5-hash uniform, -ln(u)/w key, nano-grid floor, (key,
    doc_id) rank) must select the identical per-source document sets —
    and heavier docs must win ties in expectation (pinned here by a
    10000x-weight doc always beating a 1x-weight doc whose raw uniform
    is not overwhelmingly luckier)."""
    import hashlib
    import math

    rows = [(i, " ".join(["w"] * (1 + (i % 7) * 40)), f"s{i % 2}") for i in range(30)]
    sf = _write_sourced_docs(spark, tmp_path, rows)
    from parquet_compactor_spark.registry import all_queries

    got = {
        (r.source, r.doc_id): (r.n_tokens, r.key_nano, r.rn)
        for r in all_queries()["q_weighted_sample"].fn(spark, sf).collect()
    }

    def key_nano(doc_id, w):
        h = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16)
        u = (h + 1) / float(1 << 60)
        return math.floor((-math.log(u) / w) * 1e9 + 0.5)

    expected = {}
    by_source = {}
    for i, t, s in rows:
        w = len(t.split(" "))
        by_source.setdefault(s, []).append((key_nano(i, w), i, w))
    from parquet_compactor_spark.llm.pipeline import AES_K

    for s, lst in by_source.items():
        for rn, (k, i, w) in enumerate(sorted(lst), start=1):
            if rn <= AES_K:
                expected[(s, i)] = (w, k, rn)
    assert got == expected


def test_ivf_refresh_frozen_centroids_and_ppm_invariants(spark, tmp_path):
    """The refresh must (a) count every old and new vector exactly once,
    (b) assign the new shard against FROZEN old-corpus centroids (a new
    vector colinear with one seed lands in that seed's cell), and (c)
    emit exact-integer ppm columns with drift = merged - old."""
    dim = 64

    def unit(axis):
        v = [0.0] * dim
        v[axis] = 1.0
        return v

    rows = []
    # 8 seeds on distinct axes (vec_id 100..107 -> buckets 0..7), plus
    # old members near seeds 0/1 (ids chosen with last digit < 8).
    for b in range(8):
        rows.append((100 + b, unit(b), b))
    rows += [(110, unit(0), 0), (111, unit(1), 1), (112, unit(0), 0)]
    # New shard (last digit 8/9): two vectors on axis 0, one on axis 3.
    rows += [(108, unit(0), 0), (118, unit(3), 3), (119, unit(0), 0)]
    sf = _write_embeddings(spark, tmp_path, rows)
    from parquet_compactor_spark.registry import all_queries

    out = {r.bucket: r for r in all_queries()["q_ivf_refresh"].fn(spark, sf).collect()}
    assert sum(r.n_old for r in out.values()) == 11
    assert sum(r.n_new for r in out.values()) == 3
    assert out[0].n_new == 2 and out[3].n_new == 1  # frozen-cell landings
    so = sum(r.n_old for r in out.values())
    sa = so + sum(r.n_new for r in out.values())
    for r in out.values():
        assert r.old_ppm == r.n_old * 1000000 // so
        assert r.merged_ppm == (r.n_old + r.n_new) * 1000000 // sa
        assert r.drift_ppm == r.merged_ppm - r.old_ppm


def test_lsh_tuning_monotone_and_exact_dup_full_recall(spark, tmp_path):
    """Halving rows per band can only ADD catches (an r-block agreement
    contains both its r/2-block agreements) and can only COARSEN band
    buckets (more probe pairs): n_caught and probe_pairs must both be
    monotone along 4x16 -> 8x8 -> 16x4 -> 32x2 -> 64x1. An exact
    duplicate pair (identical signatures) is caught by EVERY config, so
    on a corpus whose only near-dups are exact dups every recall_ppm
    reads 1000000."""
    rows = [(0, BASE, "s"), (1, BASE, "s")] + [
        (i, f"completely distinct filler text number {i} with unique tokens "
            + " ".join(f"tk{i}_{j}" for j in range(10)), "s")
        for i in range(2, 10)
    ]
    sf = _write_sourced_docs(spark, tmp_path, rows)
    from parquet_compactor_spark.registry import all_queries

    out = {r.cfg: r for r in all_queries()["q_lsh_tuning"].fn(spark, sf).collect()}
    chain = ["4x16", "8x8", "16x4", "32x2", "64x1"]
    assert all(out[c].n_true == out[chain[0]].n_true >= 1 for c in chain)
    for a, b in zip(chain, chain[1:]):
        assert out[a].n_caught <= out[b].n_caught
        assert out[a].probe_pairs <= out[b].probe_pairs
    assert all(out[c].recall_ppm == 1000000 for c in chain)


def test_ssjoin_exact_registered_surface_and_null_scope(spark, tmp_path):
    """The registered exact set-similarity join: complete qualifying
    pair set (both directions of the graded chain), 4dp-rounded
    jaccard, and NULL-text docs scoped out (they form no pairs)."""
    rows = [
        (0, BASE, "s"),
        (1, BASE.replace("lazy", "sleepy"), "s"),
        (2, "entirely different text about compaction manifests", "s"),
    ]
    sf = _write_sourced_docs(spark, tmp_path, rows)
    # Append one NULL-text doc (mirrors the hostile-data mutation).
    spark.createDataFrame(
        [(3, None, "en", "s", 0)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    ).coalesce(1).write.mode("append").parquet(str(tmp_path / "documents.parquet"))
    from parquet_compactor_spark.registry import all_queries

    got = {
        (r.id1, r.id2): r.jaccard
        for r in all_queries()["q_ssjoin_exact"].fn(spark, sf).collect()
    }
    assert set(got) == {(0, 1)}  # the near-dup pair, nothing with 2 or 3
    assert 0.5 <= got[(0, 1)] <= 1.0
    assert got[(0, 1)] == round(got[(0, 1)], 4)


def test_kmv_intersect_exact_when_vocab_below_k(spark, tmp_path):
    """With every vocabulary below k the KMV sketch is exhaustive and
    every 'estimate' column must be EXACT set cardinality: planted
    sources share exactly 5 tokens."""
    a = " ".join([f"a{i}" for i in range(10)] + [f"c{i}" for i in range(5)])
    b = " ".join([f"b{i}" for i in range(20)] + [f"c{i}" for i in range(5)])
    sf = _write_sourced_docs(spark, tmp_path, [(0, a, "srcA"), (1, b, "srcB")])
    from parquet_compactor_spark.registry import all_queries

    rows = all_queries()["q_kmv_intersect"].fn(spark, sf).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.src1, r.src2) == ("srcA", "srcB")
    assert (r.est_d1, r.est_d2) == (15, 25)
    assert r.est_union == 35
    assert r.common_below_theta == 5 and r.est_inter == 5


def test_kmv_intersect_estimates_large_vocab_within_tolerance(spark, tmp_path):
    """Above k the sketch estimates: planted 2000-token vocabularies with
    a 500-token overlap must come back within 25% on distinct, union
    and intersection (k=256; standard error ~ 1/sqrt(k) ~ 6%)."""
    a = " ".join([f"a{i}" for i in range(1500)] + [f"c{i}" for i in range(500)])
    b = " ".join([f"b{i}" for i in range(1500)] + [f"c{i}" for i in range(500)])
    sf = _write_sourced_docs(spark, tmp_path, [(0, a, "srcA"), (1, b, "srcB")])
    from parquet_compactor_spark.registry import all_queries

    r = all_queries()["q_kmv_intersect"].fn(spark, sf).collect()[0]
    for got, true in [
        (r.est_d1, 2000),
        (r.est_d2, 2000),
        (r.est_union, 3500),
        (r.est_inter, 500),
    ]:
        assert abs(got - true) / true < 0.25, (got, true)


def test_bootstrap_ci_degenerate_and_sane(spark, tmp_path):
    """A constant-metric source must collapse to a zero-width interval
    at the exact mean (every Poisson-weighted replica mean of a
    constant is that constant); a mixed source must produce an ordered
    interval from all 32 replicas. The threshold table itself must
    realize the Poisson(1) pmf: across many (doc, replica) draws the
    zero-weight fraction approaches e^-1 ~ 0.368."""
    rows = [(i, "five tokens exactly in here", "const") for i in range(40)]
    rows += [(100 + i, " ".join(["w"] * (1 + i % 30)), "mixed") for i in range(60)]
    sf = _write_sourced_docs(spark, tmp_path, rows)
    from parquet_compactor_spark.registry import all_queries

    out = {r.source: r for r in all_queries()["q_bootstrap_ci"].fn(spark, sf).collect()}
    c = out["const"]
    assert c.mean_micro == 5_000_000
    assert c.ci_lo_micro == c.ci_hi_micro == 5_000_000
    assert c.n_replicas == 32
    m = out["mixed"]
    assert m.ci_lo_micro <= m.ci_hi_micro and m.n_replicas == 32

    from parquet_compactor_spark.llm.curation import BOOT_THRESHOLDS

    import hashlib
    import math

    zero = sum(
        1
        for i in range(200)
        for b in range(32)
        if int(hashlib.md5(f"{i}:{b}".encode()).hexdigest()[:15], 16)
        < BOOT_THRESHOLDS[0]
    )
    frac = zero / (200 * 32)
    assert abs(frac - math.exp(-1)) < 0.03, frac


def test_ks_test_detects_planted_shift_and_passes_identical(spark, tmp_path):
    """Identical shard distributions must give d_ppm 0 / not drifted; a
    planted wholesale shift (every new-shard doc 3x longer) must give
    the maximal-separation statistic d_ppm = 1e6 and drifted=True."""
    from parquet_compactor_spark.registry import all_queries

    # Identical: token count depends only on doc_id % 3's complement
    # pattern — use the same length everywhere.
    same = [(i, " ".join(["w"] * 10), "s") for i in range(90)]
    sf = _write_sourced_docs(spark, tmp_path / "same", same)
    r = all_queries()["q_ks_test"].fn(spark, sf).collect()[0]
    assert r.d_ppm == 0 and not r.drifted
    assert r.n_old == 60 and r.n_new == 30

    shifted = [
        (i, " ".join(["w"] * (30 if i % 3 == 0 else 10)), "s")
        for i in range(90)
    ]
    sf2 = _write_sourced_docs(spark, tmp_path / "shift", shifted)
    r2 = all_queries()["q_ks_test"].fn(spark, sf2).collect()[0]
    assert r2.d_ppm == 1000000 and r2.drifted


def test_rouge_overlap_clipped_multiset_arithmetic(spark, tmp_path):
    """ROUGE-2 on planted pairs: identical docs score F1=1e6; the
    clipped match counts REPEATED bigrams at min multiplicity (doc 'a b
    a b a b' vs 'a b a b': 'a b' appears 3x vs 2x -> clipped 2, 'b a'
    2x vs 1x -> clipped 1); disjoint docs score 0 but still emit a
    row."""
    rows = [
        (0, "x y z w", "s"),
        (1, "x y z w", "s"),        # identical to 0
        (2, "a b a b a b", "s"),    # vs 1: disjoint -> (1,2) all zeros
        (3, "a b a b", "s"),        # vs 2: clipped multiset case
    ]
    sf = _write_sourced_docs(spark, tmp_path, rows)
    from parquet_compactor_spark.registry import all_queries

    out = {(r.id1, r.id2): r for r in all_queries()["q_rouge_overlap"].fn(spark, sf).collect()}
    assert out[(0, 1)].f1_ppm == 1000000 and out[(0, 1)].matched == 3
    assert out[(1, 2)].matched == 0 and out[(1, 2)].f1_ppm == 0
    r = out[(2, 3)]
    # doc2 bigrams: ab x3, ba x2 (n_ref=5); doc3: ab x2, ba x1 (n_cand=3)
    assert (r.n_ref, r.n_cand, r.matched) == (5, 3, 3)
    assert r.p_ppm == 3 * 1000000 // 3
    assert r.r_ppm == 3 * 1000000 // 5
    assert r.f1_ppm == 2 * 3 * 1000000 // 8


# --------------------------------------------------------------------------
# Perceptual-hash (dHash) image near-dup: real-pixel path
# --------------------------------------------------------------------------


def _png_encode(pixels, ctype=2, row_filters=None):
    """Minimal PNG writer for the decoder tests: 8-bit, non-interlaced,
    per-row filter selectable so all five unfilter branches get pinned."""
    import struct as _struct
    import zlib as _zlib

    import numpy as np

    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, nch = px.shape
    expected = {0: 1, 2: 3, 6: 4}[ctype]
    assert nch == expected, f"ctype {ctype} needs {expected} channels"

    def chunk(typ, data):
        crc = _zlib.crc32(typ + data) & 0xFFFFFFFF
        return _struct.pack(">I", len(data)) + typ + data + _struct.pack(">I", crc)

    ihdr = _struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    stride = w * nch
    flat = px.reshape(h, stride).astype(np.int64)
    raw = bytearray()
    for r in range(h):
        f = row_filters[r % len(row_filters)] if row_filters else 0
        row = flat[r]
        prior = flat[r - 1] if r else np.zeros(stride, dtype=np.int64)
        enc = np.zeros(stride, dtype=np.int64)
        for x in range(stride):
            a = row[x - nch] if x >= nch else 0
            b = prior[x]
            c = prior[x - nch] if x >= nch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            enc[x] = (row[x] - pred) & 0xFF
        raw.append(f)
        raw += bytes(int(v) for v in enc)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", _zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def _test_image(seed=7, h=24, w=33):
    """Deterministic non-symmetric RGB gradient + texture image."""
    import numpy as np

    y, x = np.mgrid[0:h, 0:w]
    r = (3 * x + 2 * y) % 256
    g = (5 * x + ((x * y * seed) % 37)) % 256
    b = (x * x // 4 + 7 * y) % 256
    return np.stack([r, g, b], axis=2).astype(np.uint8)


def test_decode_png_pixels_round_trips_every_filter_type():
    """The pure-Python unfilter must invert the encoder for ALL five
    scanline filters and for gray/RGB/RGBA — pinned by encoding the same
    pixels with each filter and requiring identical grayscale output."""
    import numpy as np

    from parquet_compactor_spark.llm.multimodal import decode_png_pixels

    img = _test_image()
    expected = (
        299 * img[..., 0].astype(np.int64)
        + 587 * img[..., 1].astype(np.int64)
        + 114 * img[..., 2].astype(np.int64)
    ) // 1000
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = decode_png_pixels(_png_encode(img, ctype=2, row_filters=filters))
        assert (got == expected).all(), f"filters {filters} round-trip broke"
    gray = img[..., 0]
    got = decode_png_pixels(_png_encode(gray, ctype=0, row_filters=[4]))
    assert (got == gray.astype(np.int64)).all()
    rgba = np.dstack([img, np.full(img.shape[:2], 200, np.uint8)])
    got = decode_png_pixels(_png_encode(rgba, ctype=6, row_filters=[3]))
    assert (got == expected).all()  # alpha ignored by luma


def test_phash_near_dup_images_collide_rotation_does_not(spark):
    """The round-12 verdict's done-criterion for the multimodal modality:
    two known-near-duplicate synthetic images (one with a mild global
    brightness lift — dHash compares gradient SIGNS, so they survive)
    collide at Hamming <= 3; a 90-degree rotation of the same image does
    not; and the full Spark pipeline (binary payloads -> mapInPandas
    extract_phash -> pigeonhole-banded pairs) finds exactly the near pair."""
    import numpy as np

    from parquet_compactor_spark.llm.dedup import hamming_banded_pairs
    from parquet_compactor_spark.llm.multimodal import (
        PHASH_BITS,
        extract_phash,
        phash_blob,
    )

    img = _test_image()
    near = np.clip(img.astype(np.int64) + 6, 0, 255).astype(np.uint8)
    rot = np.rot90(img).copy()
    h_base = phash_blob(_png_encode(img))
    h_near = phash_blob(_png_encode(near))
    h_rot = phash_blob(_png_encode(rot))
    assert bin(h_base ^ h_near).count("1") <= 3
    assert bin(h_base ^ h_rot).count("1") > 3

    payloads = spark.createDataFrame(
        [
            (1, bytearray(_png_encode(img))),
            (2, bytearray(_png_encode(near))),
            (3, bytearray(_png_encode(rot))),
            (4, bytearray(b"just some text payload, not an image")),
        ],
        "doc_id bigint, payload binary",
    )
    pairs = {
        (r.id1, r.id2): r.hamming
        for r in hamming_banded_pairs(
            extract_phash(payloads), sig_col="phash", max_hamming=3,
            bits=PHASH_BITS,
        ).collect()
    }
    assert set(pairs) == {(1, 2)}


def test_phash_corrupt_png_degrades_to_fake_not_abort():
    """A PNG-magic blob that fails pixel decode must hash via the fake
    path (one corrupt image never kills a lake sweep), and unsupported
    variants (16-bit) must degrade the same way; decode_png_pixels
    itself stays loud for callers that want the error."""
    import pytest as _pytest

    from parquet_compactor_spark.llm.multimodal import (
        _PNG_MAGIC,
        decode_png_pixels,
        fake_phash,
        phash_blob,
    )

    corrupt = _PNG_MAGIC + b"\x00\x01garbage-not-chunks"
    assert phash_blob(corrupt) == fake_phash(corrupt)
    with _pytest.raises(ValueError):
        decode_png_pixels(corrupt)
    # truncated-at-IDAT real header: loud in decode, degraded in phash
    img = _test_image()
    trunc = _png_encode(img)[:40]
    assert phash_blob(trunc) == fake_phash(trunc)
    with _pytest.raises(ValueError):
        decode_png_pixels(trunc)


def test_phash_fixture_semantics_planted_suffix_dup(spark, tmp_path):
    """q_phash_dedup on a planted corpus: the fixture's near-dup
    structure (text + ' dup' suffix) lands at Hamming <= 3 under the
    fixed-grid fake hash while unrelated word-soup does not."""
    import shutil as _shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_compactor_spark.registry import all_queries
    from tests.conftest import SF_SMOKE
    from tests.oracle_utils import compare_to_oracle

    d = tmp_path / "sf"
    d.mkdir()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        _shutil.copy(f"{SF_SMOKE}/{t}.parquet", str(d / f"{t}.parquet"))
    base = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi"
    )
    other = (
        "zebra yak xerus wolf vole urial tapir stoat rhino quokka "
        "pika otter numbat mole lynx koala jerboa ibex hyena gnu"
    )
    tab = pa.table(
        {
            "doc_id": pa.array([9001, 9002, 9003], type=pa.int64()),
            "source": pa.array(["t", "t", "t"]),
            "lang": pa.array(["en", "en", "en"]),
            "text": pa.array([base, base + " dup", other]),
        }
    )
    old = pq.read_table(str(d / "documents.parquet")).select(
        ["doc_id", "source", "lang", "text"]
    )
    pq.write_table(pa.concat_tables([old, tab]), str(d / "documents.parquet"))
    q = all_queries()["q_phash_dedup"]
    out = q.fn(spark, str(d))
    compare_to_oracle(out, q.oracle, str(d))
    pairs = {(r.id1, r.id2) for r in out.collect()}
    assert (9001, 9002) in pairs
    assert (9001, 9003) not in pairs and (9002, 9003) not in pairs


def _gif_lzw_encode(indices: bytes, mcs: int) -> bytes:
    """Independent GIF-LZW compressor for the decoder tests (dynamic
    code width, dictionary growth to 12 bits, deferred clear)."""
    clear = 1 << mcs
    end = clear + 1
    code_size = mcs + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    bits = []

    def emit(code, size):
        for i in range(size):
            bits.append((code >> i) & 1)

    emit(clear, code_size)
    w = b""
    for b in indices:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w], code_size)
        if next_code < 4096:
            table[wc] = next_code
            next_code += 1
            if next_code == (1 << code_size) + 1 and code_size < 12:
                code_size += 1
        w = bytes([b])
    if w:
        emit(table[w], code_size)
    emit(end, code_size)
    out = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for j, bit in enumerate(bits[i : i + 8]):
            byte |= bit << j
        out.append(byte)
    return bytes(out)


def _gif_encode(indices, palette, interlaced=False, local_table=False):
    """Minimal GIF89a writer: one image, 8-bit indices, optional
    interlacing and local-vs-global color table, 255-byte sub-blocks."""
    import struct as _struct

    import numpy as np

    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape
    if interlaced:
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        idx = idx[order]
    pal = bytes(palette)
    assert len(pal) == 256 * 3
    out = bytearray(b"GIF89a")
    gflags = 0x80 | 0x07 if not local_table else 0x00
    out += _struct.pack("<HHBBB", w, h, gflags, 0, 0)
    if not local_table:
        out += pal
    iflags = (0x80 | 0x07 if local_table else 0x00) | (0x40 if interlaced else 0)
    out += b"\x2c" + _struct.pack("<HHHHB", 0, 0, w, h, iflags)
    if local_table:
        out += pal
    out += bytes([8])  # LZW min code size
    data = _gif_lzw_encode(bytes(idx.reshape(-1)), 8)
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def test_gif_lzw_codec_round_trips_including_12bit_growth():
    import random as _random

    from parquet_compactor_spark.llm.multimodal import _gif_lzw_decode

    rng = _random.Random(31)
    for mcs in (2, 4, 8):
        for n in (0, 1, 7, 500, 20000):
            seq = bytes(rng.randrange(1 << mcs) for _ in range(n))
            assert _gif_lzw_decode(_gif_lzw_encode(seq, mcs), mcs, n) == seq
    # runs long enough to saturate the 12-bit table (deferred clear)
    seq = bytes((i * i) % 256 for i in range(70000))
    assert _gif_lzw_decode(_gif_lzw_encode(seq, 8), 8, len(seq)) == seq


def test_decode_gif_pixels_round_trips_and_matches_png_hash():
    """GIF pixel decode: a grayscale-palette GIF (palette i -> (i,i,i),
    so luma == index) round-trips exactly — plain, interlaced, and
    local-color-table variants — and the SAME pixels hash IDENTICALLY
    whether delivered as PNG or GIF (the perceptual hash is a property
    of the pixels, not the container)."""
    import numpy as np

    from parquet_compactor_spark.llm.multimodal import (
        decode_gif_pixels,
        dhash_gray,
        phash_blob,
    )

    gray = (
        299 * _test_image()[..., 0].astype(np.int64)
        + 587 * _test_image()[..., 1].astype(np.int64)
        + 114 * _test_image()[..., 2].astype(np.int64)
    ) // 1000
    idx = gray.astype(np.uint8)
    pal = bytes(v for i in range(256) for v in (i, i, i))
    for interlaced in (False, True):
        for local in (False, True):
            got = decode_gif_pixels(
                _gif_encode(idx, pal, interlaced=interlaced, local_table=local)
            )
            assert (got == gray).all(), (interlaced, local)
    h_gif = phash_blob(_gif_encode(idx, pal), sniff_gif=True)
    h_png = phash_blob(_png_encode(idx, ctype=0))
    assert h_gif == h_png == dhash_gray(gray)


def test_gif_sniff_is_opt_in_and_degrades_on_corruption():
    """Unsniffed (the oracle-checked fixture path) a GIF-magic payload
    hashes via the fake path even if it IS a valid GIF — the SQL-parity
    guarantee; sniffed, a corrupt GIF degrades to the fake hash and
    decode_gif_pixels stays loud."""
    import pytest as _pytest

    from parquet_compactor_spark.llm.multimodal import (
        decode_gif_pixels,
        fake_phash,
        phash_blob,
    )

    texty = "GIF87a looks like text but is text".encode()
    assert phash_blob(texty) == fake_phash(texty)
    assert phash_blob(texty, sniff_gif=True) == fake_phash(texty)  # degrades
    with _pytest.raises(ValueError):
        decode_gif_pixels(texty)
    truncated = b"GIF89a\x05\x00"
    assert phash_blob(truncated, sniff_gif=True) == fake_phash(truncated)


# --------------------------------------------------------------------------
# Baseline JPEG decode (independent from-spec encoder -> decoder round-trip)
# --------------------------------------------------------------------------

_JPEG_QT_LUM = [
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QT_CHR = [
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
] + [99] * 32
_JPEG_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_JPEG_DC_CHR = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_JPEG_AC_LUM = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_JPEG_AC_CHR = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)


def _jpeg_encode(rgb_or_gray, subsample=False, restart_interval=0):
    """Independent from-spec baseline JPEG encoder (float DCT, Annex K
    tables) for the decoder tests: grayscale (2-D input) or YCbCr color
    (3-D input, 4:4:4 or 4:2:0); ``restart_interval`` emits DRI + RSTn
    markers every N MCUs (grayscale path only)."""
    import struct as _struct

    import numpy as np

    from parquet_compactor_spark.llm.multimodal import _JPEG_ZIGZAG

    def fdct(px):
        c = np.array([1 / np.sqrt(2)] + [1.0] * 7)
        ct = np.cos(
            (2 * np.arange(8)[:, None] + 1)
            * np.arange(8)[None, :]
            * np.pi
            / 16
        )
        t = ct.T @ px @ ct
        return (t * c[:, None] * c[None, :]) / 4.0

    def codes_of(bits, vals):
        codes = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                codes[vals[k]] = (code, length)
                code += 1
                k += 1
            code <<= 1
        return codes

    bitbuf = bytearray()
    acc = [0, 0]  # value, nbits

    def wbits(code, length):
        for i in range(length - 1, -1, -1):
            acc[0] = (acc[0] << 1) | ((code >> i) & 1)
            acc[1] += 1
            if acc[1] == 8:
                bitbuf.append(acc[0])
                if acc[0] == 0xFF:
                    bitbuf.append(0x00)
                acc[0] = 0
                acc[1] = 0

    def enc_coeff(v):
        a, s = abs(v), 0
        while a:
            s += 1
            a >>= 1
        return (s, v if v >= 0 else v + (1 << s) - 1)

    prev = {}

    def put_block(plane, by, bx, qnat, dct, act, key):
        blk = plane[by : by + 8, bx : bx + 8] - 128.0
        q = np.round(fdct(blk) / qnat).astype(np.int64)
        zz = q.reshape(-1)[_JPEG_ZIGZAG]
        diff = int(zz[0]) - prev.get(key, 0)
        prev[key] = int(zz[0])
        s, bv = enc_coeff(diff)
        c, ln = dct[s]
        wbits(c, ln)
        if s:
            wbits(bv, s)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                c, ln = act[0xF0]
                wbits(c, ln)
                run -= 16
            s, bv = enc_coeff(v)
            c, ln = act[(run << 4) | s]
            wbits(c, ln)
            wbits(bv, s)
            run = 0
        if run:
            c, ln = act[0x00]
            wbits(c, ln)

    def dht(tc_th, bits, vals):
        d = bytes([tc_th]) + bytes(bits) + bytes(vals)
        return b"\xff\xc4" + _struct.pack(">H", 2 + len(d)) + d

    px = np.asarray(rgb_or_gray, dtype=np.float64)
    qy = np.array(_JPEG_QT_LUM, dtype=np.float64).reshape(8, 8)
    dc_l, ac_l = codes_of(*_JPEG_DC_LUM), codes_of(*_JPEG_AC_LUM)
    out = bytearray(b"\xff\xd8")
    if px.ndim == 2:
        h, w = px.shape
        H, W = (h + 7) // 8 * 8, (w + 7) // 8 * 8
        pad = np.pad(px, ((0, H - h), (0, W - w)), mode="edge")
        mcu_n = 0
        rst = 0
        for by in range(0, H, 8):
            for bx in range(0, W, 8):
                if restart_interval and mcu_n and mcu_n % restart_interval == 0:
                    while acc[1]:
                        wbits(1, 1)  # byte-align before the marker
                    bitbuf += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) & 7
                    prev.clear()  # DC predictors reset at a restart
                mcu_n += 1
                put_block(pad, by, bx, qy, dc_l, ac_l, "Y")
        while acc[1]:
            wbits(1, 1)
        zzq = bytes(_JPEG_QT_LUM[_JPEG_ZIGZAG[i]] for i in range(64))
        out += b"\xff\xdb" + _struct.pack(">H", 67) + b"\x00" + zzq
        out += (
            b"\xff\xc0"
            + _struct.pack(">HBHHB", 11, 8, h, w, 1)
            + bytes([1, 0x11, 0])
        )
        if restart_interval:
            out += b"\xff\xdd" + _struct.pack(">HH", 4, restart_interval)
        out += dht(0x00, *_JPEG_DC_LUM) + dht(0x10, *_JPEG_AC_LUM)
        out += (
            b"\xff\xda"
            + _struct.pack(">HB", 8, 1)
            + bytes([1, 0x00, 0, 63, 0])
        )
        out += bitbuf + b"\xff\xd9"
        return bytes(out)
    h, w, _ = px.shape
    R, G, B = px[..., 0], px[..., 1], px[..., 2]
    Y = 0.299 * R + 0.587 * G + 0.114 * B
    Cb = -0.168736 * R - 0.331264 * G + 0.5 * B + 128
    Cr = 0.5 * R - 0.418688 * G - 0.081312 * B + 128
    # subsample: False = 4:4:4, True = 4:2:0, "422" = 4:2:2
    hf, vf = (1, 1) if not subsample else ((2, 1) if subsample == "422" else (2, 2))
    mw, mh = 8 * hf, 8 * vf
    W, H = (w + mw - 1) // mw * mw, (h + mh - 1) // mh * mh

    def padp(p):
        return np.pad(p, ((0, H - h), (0, W - w)), mode="edge")

    Yp = padp(Y)
    Cbp = padp(Cb).reshape(H // vf, vf, W // hf, hf).mean(axis=(1, 3))
    Crp = padp(Cr).reshape(H // vf, vf, W // hf, hf).mean(axis=(1, 3))
    qc = np.array(_JPEG_QT_CHR, dtype=np.float64).reshape(8, 8)
    dc_c, ac_c = codes_of(*_JPEG_DC_CHR), codes_of(*_JPEG_AC_CHR)
    for my in range(H // mh):
        for mx in range(W // mw):
            for v in range(vf):
                for u in range(hf):
                    put_block(
                        Yp, my * mh + v * 8, mx * mw + u * 8,
                        qy, dc_l, ac_l, "Y",
                    )
            put_block(Cbp, my * 8, mx * 8, qc, dc_c, ac_c, "Cb")
            put_block(Crp, my * 8, mx * 8, qc, dc_c, ac_c, "Cr")
    while acc[1]:
        wbits(1, 1)
    for tq, qt in ((0, _JPEG_QT_LUM), (1, _JPEG_QT_CHR)):
        zzq = bytes(qt[_JPEG_ZIGZAG[i]] for i in range(64))
        out += b"\xff\xdb" + _struct.pack(">H", 67) + bytes([tq]) + zzq
    hv = (hf << 4) | vf
    out += (
        b"\xff\xc0"
        + _struct.pack(">HBHHB", 17, 8, h, w, 3)
        + bytes([1, hv, 0, 2, 0x11, 1, 3, 0x11, 1])
    )
    out += dht(0x00, *_JPEG_DC_LUM) + dht(0x10, *_JPEG_AC_LUM)
    out += dht(0x01, *_JPEG_DC_CHR) + dht(0x11, *_JPEG_AC_CHR)
    out += (
        b"\xff\xda"
        + _struct.pack(">HB", 12, 3)
        + bytes([1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0])
    )
    out += bitbuf + b"\xff\xd9"
    return bytes(out)


def test_decode_jpeg_pixels_round_trips_within_quantization():
    """The baseline JPEG decoder against an independent from-spec
    encoder: flat blocks decode EXACTLY (their DC quantizes losslessly
    at q=16 multiples of 16... pinned on a 200-gray flat field whose
    error is absorbed by rounding), gradients within quantization
    tolerance, grayscale + 4:4:4 + 4:2:0 color."""
    import numpy as np

    from parquet_compactor_spark.llm.multimodal import decode_jpeg_pixels

    flat = np.full((16, 16), 200.0)
    assert (decode_jpeg_pixels(_jpeg_encode(flat)) == 200).all()

    y, x = np.mgrid[0:24, 0:33]
    gray = ((3 * x + 2 * y) % 256).astype(np.float64)
    dec = decode_jpeg_pixels(_jpeg_encode(gray))
    assert np.abs(dec - gray).max() <= 3

    rgb = _test_image().astype(np.float64)
    lum = (
        299 * rgb[..., 0].astype(np.int64)
        + 587 * rgb[..., 1].astype(np.int64)
        + 114 * rgb[..., 2].astype(np.int64)
    ) // 1000
    for sub in (False, True, "422"):
        dec = decode_jpeg_pixels(_jpeg_encode(rgb, subsample=sub))
        err = np.abs(dec - lum)
        assert float(err.mean()) < 8, (sub, float(err.mean()))

    # Restart markers (DRI + cycling RSTn, DC predictors reset): the
    # decode must be IDENTICAL to the marker-free stream of the same
    # image — and long enough to wrap the RST index past 7.
    big = ((5 * np.mgrid[0:40, 0:80][1] + 3 * np.mgrid[0:40, 0:80][0]) % 256
           ).astype(np.float64)
    plain = decode_jpeg_pixels(_jpeg_encode(big))
    for ri in (1, 2, 5):
        rst = decode_jpeg_pixels(_jpeg_encode(big, restart_interval=ri))
        assert (rst == plain).all(), f"restart_interval={ri} diverged"


def test_jpeg_non_divisible_sampling_factors_degrade_loudly():
    """Legal-but-rare JPEG sampling layouts where the max factor is NOT
    an exact multiple of a component's factor (e.g. 3:2): the chroma
    upsampler is np.repeat by (vmax//vf, hmax//hf), which would
    integer-divide into an UNDER-upsampled plane that can still slice
    to (h, w) on small images — silently wrong pixels, wrong phash.
    The decoder must instead raise NotImplementedError (the loud-
    degrade discipline), and phash_blob must fall back to the fake
    hash for such a stream (round-13 ADVICE)."""
    import numpy as np
    import pytest as _pytest

    from parquet_compactor_spark.llm.multimodal import (
        _jpeg_decode_scan,
        fake_phash,
        phash_blob,
    )

    # Direct unit seam: comp 2's hf=2 does not divide hmax=3.
    with _pytest.raises(NotImplementedError, match="sampling factors"):
        _jpeg_decode_scan(
            b"",
            (8, 8, [(1, 3, 3, 0), (2, 2, 2, 1), (3, 2, 2, 1)]),
            {1: (0, 0), 2: (1, 1), 3: (1, 1)},
            {},
            {},
        )

    # Full-blob seam: patch a valid 4:2:0 stream's SOF sampling bytes
    # to 3x3 luma / 2x2 chroma and confirm the degrade path.
    blob = bytearray(_jpeg_encode(_test_image().astype(np.float64),
                                  subsample=True))
    sof = blob.index(b"\xff\xc0")
    assert blob[sof + 11] == 0x22  # comp 1 h=2,v=2 (4:2:0)
    blob[sof + 11] = 0x33
    assert phash_blob(bytes(blob)) == fake_phash(bytes(blob))


def test_jpeg_phash_matches_png_within_banding_distance(spark):
    """The perceptual property across a LOSSY container: the same image
    as PNG (exact pixels) and JPEG (quantized pixels) must land within
    the Hamming-3 banding distance — dHash compares block-mean gradient
    SIGNS, which survive quantization error; and the full pipeline pairs
    them. A progressive-or-corrupt JPEG degrades to the fake hash."""
    import numpy as np

    from parquet_compactor_spark.llm.dedup import hamming_banded_pairs
    from parquet_compactor_spark.llm.multimodal import (
        PHASH_BITS,
        decode_jpeg_pixels,
        extract_phash,
        fake_phash,
        phash_blob,
    )

    img = _test_image()
    h_png = phash_blob(_png_encode(img))
    h_jpg = phash_blob(_jpeg_encode(img.astype(np.float64)))
    assert bin(h_png ^ h_jpg).count("1") <= 3

    payloads = spark.createDataFrame(
        [
            (1, bytearray(_png_encode(img))),
            (2, bytearray(_jpeg_encode(img.astype(np.float64)))),
            (3, bytearray(_png_encode(np.rot90(img).copy()))),
        ],
        "doc_id bigint, payload binary",
    )
    pairs = {
        (r.id1, r.id2)
        for r in hamming_banded_pairs(
            extract_phash(payloads), sig_col="phash",
            max_hamming=3, bits=PHASH_BITS,
        ).collect()
    }
    assert pairs == {(1, 2)}

    corrupt = b"\xff\xd8\xff\xc2garbage-progressive"
    assert phash_blob(corrupt) == fake_phash(corrupt)
    import pytest as _pytest

    with _pytest.raises((ValueError, NotImplementedError)):
        decode_jpeg_pixels(corrupt)


def test_phash_fake_path_astral_unicode_parity(spark, tmp_path):
    """The fake hash works on CODEPOINTS (Python utf-32 trick vs DuckDB
    unicode()); astral-plane characters (> 0xFFFF, 4-byte utf-8,
    surrogate pairs in utf-16 systems) are where codepoint conventions
    diverge — pin exact oracle parity on a corpus salted with them,
    including a planted suffix-dup pair built from astral text."""
    import shutil as _shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from parquet_compactor_spark.registry import all_queries
    from tests.conftest import SF_SMOKE
    from tests.oracle_utils import compare_to_oracle

    d = tmp_path / "sf"
    d.mkdir()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        _shutil.copy(f"{SF_SMOKE}/{t}.parquet", str(d / f"{t}.parquet"))
    astral = "data \U0001F600 pipeline \U0001F680 rows \U00010348 " * 12
    tab = pa.table(
        {
            "doc_id": pa.array([9101, 9102, 9103], type=pa.int64()),
            "source": pa.array(["t", "t", "t"]),
            "lang": pa.array(["en", "en", "en"]),
            "text": pa.array(
                [astral, astral + " dup", "mixed ascii é中\U0001F913 tail"]
            ),
        }
    )
    old = pq.read_table(str(d / "documents.parquet")).select(
        ["doc_id", "source", "lang", "text"]
    )
    pq.write_table(pa.concat_tables([old, tab]), str(d / "documents.parquet"))
    q = all_queries()["q_phash_dedup"]
    out = q.fn(spark, str(d))
    compare_to_oracle(out, q.oracle, str(d))
    assert (9101, 9102) in {(r.id1, r.id2) for r in out.collect()}


def test_mp4_box_walk_recovers_every_synth_parameter():
    """The ISO-BMFF parser against the synthetic encoder across the
    residue classes that switch layout: mvhd v0/v1 (parity), audio
    track on/off (%4), codec fourcc (%3), largesize mdat (%5),
    top-level free box (%7), and the sample-count/keyframe wrap
    (%60). Pure Python — no Spark session."""
    from parquet_compactor_spark.llm.multimodal import (
        _synth_mp4,
        decode_mp4_meta,
        synth_mp4_params,
    )

    for n in list(range(0, 75)) + [119, 120, 420, 899, 900, 5005]:
        p = synth_mp4_params(n)
        m = decode_mp4_meta(_synth_mp4(n))
        n_kf = 1 + (p["n_samples"] - 1) // p["kf_interval"]
        assert m == {
            "major_brand": p["major_brand"],
            "mvhd_version": p["mvhd_version"],
            "timescale": p["timescale"],
            "duration": p["duration"],
            "n_tracks": 2 if p["has_audio"] else 1,
            "video_codec": p["video_codec"],
            "audio_codec": "mp4a" if p["has_audio"] else None,
            "width": p["width"],
            "height": p["height"],
            "n_samples": p["n_samples"],
            "n_keyframes": n_kf,
            "last_kf_offset": p["chunk_offset"]
            + 8 * ((p["n_samples"] - 1) // 8) * p["sample_size"],
        }, n


def test_mp4_parser_is_loud_on_structural_corruption():
    """Every corruption class raises ValueError (row-wise degrade at
    the extract seam): non-ftyp bytes, truncated box header, a box
    size overrunning the file, a truncated largesize, missing moov,
    an unknown mvhd version, and an stts/stsz sample-count
    disagreement (the walk cross-checks the two tables). A size-0
    final box (to-end-of-file, legal) must PARSE."""
    import struct as _struct

    import pytest as _pytest

    from parquet_compactor_spark.llm.multimodal import (
        _synth_mp4,
        decode_mp4_meta,
    )

    good = _synth_mp4(11)  # n%5 != 0 -> plain 32-bit mdat size

    with _pytest.raises(ValueError, match="no ftyp"):
        decode_mp4_meta(b"this is just text, not a container")
    with _pytest.raises(ValueError, match="truncated box header"):
        decode_mp4_meta(good[: len(good) - (11 % 17) - 3])
    # Overrun: inflate the moov size field past EOF.
    moov = good.index(b"moov") - 4
    bad = bytearray(good)
    bad[moov : moov + 4] = _struct.pack(">I", len(good) * 2)
    with _pytest.raises(ValueError, match="overruns"):
        decode_mp4_meta(bytes(bad))
    # Truncated largesize: size==1 but fewer than 16 bytes remain.
    with _pytest.raises(ValueError, match="largesize"):
        decode_mp4_meta(good + _struct.pack(">I4s", 1, b"mdat"))
    # ftyp alone (no moov).
    with _pytest.raises(ValueError, match="missing"):
        decode_mp4_meta(good[: good.index(b"moov") - 4])
    # Unknown mvhd version.
    bad = bytearray(good)
    bad[good.index(b"mvhd") + 4] = 7
    with _pytest.raises(ValueError, match="mvhd version"):
        decode_mp4_meta(bytes(bad))
    # stts says 1 sample of the count; stsz says another.
    bad = bytearray(good)
    stsz = good.index(b"stsz")
    bad[stsz + 12 : stsz + 16] = _struct.pack(">I", 9999)
    with _pytest.raises(ValueError, match="disagree"):
        decode_mp4_meta(bytes(bad))
    # Legal size-0 final box: zero the mdat size field (last box).
    zeroed = bytearray(good)
    mdat = good.rindex(b"mdat") - 4
    zeroed[mdat : mdat + 4] = _struct.pack(">I", 0)
    assert decode_mp4_meta(bytes(zeroed))["n_samples"] == 12  # 1 + 11


def test_extract_video_meta_drops_corrupt_rows_not_the_job(spark):
    """The genuine-lake seam: a frame mixing parseable containers, a
    plain-text payload, and a truncated container yields metadata for
    exactly the parseable rows — corrupt blobs degrade row-wise,
    never abort the sweep."""
    from parquet_compactor_spark.llm.multimodal import (
        _synth_mp4,
        extract_video_meta,
    )

    rows = [
        (1, bytearray(_synth_mp4(100))),
        (2, bytearray(b"not a container at all")),
        (3, bytearray(_synth_mp4(259))),
        (4, bytearray(_synth_mp4(100)[:40])),  # truncated mid-moov
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    out = {r.doc_id: r for r in extract_video_meta(df).collect()}
    assert set(out) == {1, 3}
    assert out[1].video_codec == "avc1" and out[3].video_codec == "avc1"
    assert out[1].n_samples == 41 and out[3].n_samples == 20
    assert out[3].n_tracks == 2  # 259 % 4 != 0 -> audio track present


def test_dhash_degenerate_shapes():
    """1x1 and 1xN images: empty grid blocks take mean 0 on the dhash
    grid — no crashes, deterministic hashes."""
    import numpy as np

    from parquet_compactor_spark.llm.multimodal import dhash_gray

    one = np.array([[200]], dtype=np.int64)
    assert dhash_gray(one) == dhash_gray(one.copy())
    strip = np.arange(40, dtype=np.int64).reshape(1, 40)
    assert dhash_gray(strip) == dhash_gray(strip.copy())


def test_canonical_url_collapses_messy_variants(spark):
    """canonical_url: raw URLs that differ only in messiness (scheme and
    host casing, default port, trailing slash, tracking params, param
    order, fragment) MUST collapse to one canonical key; URLs that
    differ in scheme, a non-default port, path or a real param must
    not. Also pins the individual rules."""
    import pyspark.sql.functions as F

    from parquet_compactor_spark.llm.curation import canonical_url

    variants = {
        "http://srcx.example.org/articles/10?id=10&page=3": [
            "http://srcx.example.org/articles/10?id=10&page=3",
            "HTTP://srcX.Example.ORG:80/articles/10/?utm_source=feed&page=3&id=10&ref=tw#sec1",
            "http://SRCX.example.org/articles/10/?id=10&page=3#sec2",
            "http://srcx.example.org:80/articles/10?page=3&utm_source=feed&id=10",
        ],
        "http://srcx.example.org:8080/articles/55?id=55": [
            "HTTP://srcx.Example.ORG:8080/articles/55/?utm_source=feed&id=55&ref=tw",
            "http://srcx.example.org:8080/articles/55?id=55#sec0",
        ],
        "https://srcx.example.org/articles/10?id=10&page=3": [
            "https://srcx.example.org:443/articles/10?page=3&id=10&gclid=x",
            "HTTPS://SRCX.example.org/articles/10/?fbclid=abc&id=10&page=3#x",
        ],
    }
    rows = [(want, raw) for want, raws in variants.items() for raw in raws]
    df = spark.createDataFrame(rows, "want string, raw string")
    for r in df.select("want", "raw", canonical_url(F.col("raw")).alias("c")).collect():
        assert r.c == r.want, (r.raw, r.c)
    # Direct rule pins: default port + sort + fragment + root path.
    direct = spark.createDataFrame(
        [
            ("HTTPS://A.Example.ORG:443/x/?utm_source=f&b=2&a=1#frag",),
            ("http://a.example.org:80",),
        ],
        "u string",
    )
    got = [r.c for r in direct.select(canonical_url(F.col("u")).alias("c")).collect()]
    assert got == [
        "https://a.example.org/x?a=1&b=2",
        "http://a.example.org/",
    ]


@settings(max_examples=300, deadline=None)
@given(
    st.one_of(
        st.binary(max_size=200),
        st.tuples(
            st.integers(0, 500),
            st.integers(0, 199),
            st.integers(0, 255),
        ).map(
            lambda t: _mutate_mp4(*t)
        ),
    )
)
def test_mp4_decoder_never_leaks_raw_exceptions(payload):
    """Fuzz the MP4 parser's exception CONTRACT: on arbitrary bytes and
    on single-byte mutations of valid containers it either returns a
    dict or raises exactly ValueError / NotImplementedError — never
    IndexError/struct.error/OverflowError, which would escape the
    extract seam's row-wise degrade and abort a 100 TB sweep."""
    from parquet_compactor_spark.llm.multimodal import decode_mp4_meta

    try:
        out = decode_mp4_meta(payload)
        assert isinstance(out, dict)
    except (ValueError, NotImplementedError):
        pass


def _mutate_mp4(n, pos, val):
    """A valid MP4 container (shaped by n) with one byte forced."""
    from parquet_compactor_spark.llm.multimodal import _synth_mp4

    blob = bytearray(_synth_mp4(n))
    blob[pos % len(blob)] = val
    return bytes(blob)
