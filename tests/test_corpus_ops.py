"""Corpus-level curation, deterministic sampling, and chunk-plan ops.

Value tests pin hand-computed expectations on tiny inputs; plan tests
assert the 100 TB design points (map-side-only sampling, broadcast
phrase/benchmark lookup)."""

import pytest
from pyspark.sql import functions as F

from jschon_spark.audio.chunking import chunk_plan
from jschon_spark.operators.corpus import (
    boilerplate_phrases,
    contamination_report,
    with_boilerplate_fraction,
)
from jschon_spark.operators.sampling import rate_threshold_hex, stratified_sample


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "click here to subscribe now", "en"),
        (1, "click here to subscribe today", "en"),
        (2, "click here to subscribe folks", "en"),
        (3, "a completely original document body", "en"),
        (4, "short", "de"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_boilerplate_phrases_counts(docs):
    got = {r["gram"]: r["n_docs"] for r in boilerplate_phrases(docs, n=3, min_docs=3).collect()}
    # the shared prefix "click here to" / "here to subscribe" appear in
    # docs 0-2; every other 3-gram is unique to one document
    assert got == {"click here to": 3, "here to subscribe": 3}


def test_boilerplate_fraction_per_doc(docs):
    got = {
        r["doc_id"]: (r["n_distinct_grams"], r["boilerplate_grams"], r["boilerplate_frac"])
        for r in with_boilerplate_fraction(docs, n=3, min_docs=3).collect()
    }
    # docs 0-2 have 3 distinct 3-grams, 2 of them boilerplate
    for d in (0, 1, 2):
        assert got[d] == (3, 2, round(2 / 3, 6))
    assert got[3] == (3, 0, 0.0)
    assert got[4] == (0, 0, 0.0)  # <3 words -> no grams, no div-by-zero


def test_contamination_report(spark, docs):
    bench = docs.where(F.col("doc_id") == 0)
    corpus = docs.where(F.col("doc_id") != 0)
    got = {
        r["doc_id"]: (r["hit_grams"], r["contamination"])
        for r in contamination_report(corpus, bench, n=3).collect()
    }
    # docs 1 and 2 share exactly the two prefix 3-grams with the benchmark
    assert got == {1: (2, round(2 / 3, 6)), 2: (2, round(2 / 3, 6))}


def test_contamination_broadcasts_benchmark(spark, docs):
    bench = docs.where(F.col("doc_id") == 0)
    corpus = docs.where(F.col("doc_id") != 0)
    plan = contamination_report(corpus, bench, n=3)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


# -- sampling ---------------------------------------------------------------


def test_rate_threshold_hex_boundaries():
    assert rate_threshold_hex(0.0) == "00000000"
    assert rate_threshold_hex(-1) == "00000000"
    assert rate_threshold_hex(1.0) == "g"  # sorts above every hex string
    assert rate_threshold_hex(2.0) == "g"
    assert rate_threshold_hex(0.5) == "80000000"
    assert rate_threshold_hex(0.25) == "40000000"


def _uniform_sample(df, rate, salt="mix-v1"):
    # one stratum: default_rate gates every row
    return sorted(r["k"] for r in stratified_sample(df, {}, "k", "k", rate, salt).collect())


def test_uniform_sample_stable_and_partition_independent(spark):
    df1 = spark.range(0, 2000, 1, 4).withColumnRenamed("id", "k")
    df8 = spark.range(0, 2000, 1, 8).withColumnRenamed("id", "k")
    s1 = _uniform_sample(df1, 0.3)
    assert s1 == _uniform_sample(df1, 0.3) == _uniform_sample(df8, 0.3)
    # md5 is uniform: 30% +- a loose binomial bound
    assert 480 <= len(s1) <= 720
    # a different salt draws a different sample
    assert _uniform_sample(df1, 0.3, salt="other") != s1
    # membership is stable as the table grows (same coin per key)
    half = spark.range(1000).withColumnRenamed("id", "k")
    assert _uniform_sample(half, 0.3) == [k for k in s1 if k < 1000]


def test_uniform_sample_boundary_rates(spark):
    df = spark.range(100).withColumnRenamed("id", "k")
    assert len(_uniform_sample(df, 1.0)) == 100
    assert _uniform_sample(df, 0.0) == []


def test_stratified_sample_rates(spark):
    df = spark.range(0, 6000).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, "en").when(F.col("id") % 3 == 1, "de").otherwise("zh").alias("lang"),
    )
    got = stratified_sample(df, {"en": 0.5, "de": 0.1}, "lang", "k", default_rate=0.0)
    counts = {r["lang"]: r["n"] for r in got.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert "zh" not in counts  # default rate 0 drops the stratum entirely
    assert 850 <= counts["en"] <= 1150  # ~1000 of 2000
    assert 140 <= counts["de"] <= 260  # ~200 of 2000


def test_sampling_is_map_side_only(spark):
    df = spark.range(100).select(F.col("id").alias("k"), F.lit("en").alias("lang"))
    plan = (
        stratified_sample(df, {"en": 0.5}, "lang", "k")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # pure scan filter: zero shuffles


# -- chunk plan --------------------------------------------------------------


def _plan_rows(spark, dur_ms, window_ms=5000, hop_ms=4000, sr=16000):
    df = spark.createDataFrame(
        [("c", dur_ms, sr)], "clip_id string, dur_ms int, sr_hz int"
    )
    rows = chunk_plan(df, window_ms=window_ms, hop_ms=hop_ms).orderBy("chunk_idx").collect()
    return [(r["chunk_idx"], r["start_ms"], r["end_ms"], r["n_samples"]) for r in rows]


def test_chunk_plan_short_clip_single_chunk(spark):
    assert _plan_rows(spark, 3000) == [(0, 0, 3000, 48000)]


def test_chunk_plan_exact_window(spark):
    assert _plan_rows(spark, 5000) == [(0, 0, 5000, 80000)]


def test_chunk_plan_one_past_window(spark):
    # dur 5001: a second chunk covers the 1 ms tail (16 samples)
    assert _plan_rows(spark, 5001) == [(0, 0, 5000, 80000), (1, 4000, 5001, 16016)]


def test_chunk_plan_multi_chunk_coverage(spark):
    rows = _plan_rows(spark, 13000)
    assert rows == [(0, 0, 5000, 80000), (1, 4000, 9000, 80000), (2, 8000, 13000, 80000)]
    # full coverage: last chunk ends at dur_ms
    assert rows[-1][2] == 13000


def test_chunk_plan_no_shuffle(spark):
    df = spark.createDataFrame([("c", 9000, 16000)], "clip_id string, dur_ms int, sr_hz int")
    plan = chunk_plan(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_chunk_plan_rejects_bad_params(spark):
    df = spark.createDataFrame([("c", 9000, 16000)], "clip_id string, dur_ms int, sr_hz int")
    with pytest.raises(ValueError):
        chunk_plan(df, hop_ms=0)


# ------------------------------------------------------- vocabulary / OOV


def test_top_k_vocabulary_tiebreak(spark):
    from jschon_spark.operators.corpus import top_k_vocabulary

    df = spark.createDataFrame(
        [(0, "b b b a a c"), (1, "a d")], "doc_id long, text string"
    )
    # freqs: a=3, b=3, c=1, d=1 -> rank by freq desc then word asc
    rows = top_k_vocabulary(df, k=3).orderBy("rank").collect()
    assert [(r["word"], r["freq"], r["rank"]) for r in rows] == [
        ("a", 3, 1),
        ("b", 3, 2),
        ("c", 1, 3),
    ]


def test_oov_rate_values(spark):
    from jschon_spark.operators.corpus import top_k_vocabulary, with_oov_rate

    df = spark.createDataFrame(
        [(0, "a a b x"), (1, "a b"), (2, ""), (3, "y y")],
        "doc_id long, text string",
    )
    vocab = top_k_vocabulary(df, k=2)  # a (freq 3), b (freq 2)... y has 2 too
    # freqs: a=3, b=2, y=2, x=1 -> top-2 = a, b (b < y alphabetically)
    out = {r["doc_id"]: r for r in with_oov_rate(df, vocab).collect()}
    assert out[0]["n_words"] == 4 and out[0]["oov_words"] == 1
    assert out[0]["oov_rate"] == pytest.approx(0.25)
    assert out[1]["oov_words"] == 0 and out[1]["oov_rate"] == 0.0
    assert out[2]["n_words"] == 0 and out[2]["oov_rate"] == 0.0  # word-less doc kept
    assert out[3]["oov_words"] == 2 and out[3]["oov_rate"] == 1.0


def test_oov_rate_broadcast_plan(spark):
    from jschon_spark.operators.corpus import top_k_vocabulary, with_oov_rate

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    plan = (
        with_oov_rate(df, top_k_vocabulary(df, k=2))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ------------------------------------------------------- unigram LM


def test_unigram_model_and_logprob(spark):
    import math

    from jschon_spark.operators.corpus import unigram_model, with_unigram_logprob

    df = spark.createDataFrame(
        [(0, "a a b"), (1, "a c"), (2, "")], "doc_id long, text string"
    )
    model = {r["word"]: r for r in unigram_model(df).collect()}
    # freqs: a=3, b=1, c=1, total=5
    assert model["a"]["freq"] == 3
    assert model["a"]["logp"] == pytest.approx(math.log(3 / 5))
    assert model["b"]["logp"] == pytest.approx(math.log(1 / 5))

    out = {r["doc_id"]: r for r in with_unigram_logprob(df, unigram_model(df)).collect()}
    assert out[0]["avg_logprob"] == pytest.approx((2 * math.log(3 / 5) + math.log(1 / 5)) / 3)
    assert out[1]["n_words"] == 2
    assert out[2]["n_words"] == 0 and out[2]["avg_logprob"] is None


def test_unigram_oov_floor(spark):
    import math

    from jschon_spark.operators.corpus import unigram_model, with_unigram_logprob

    train = spark.createDataFrame([(0, "a a a b")], "doc_id long, text string")
    other = spark.createDataFrame([(9, "a zzz")], "doc_id long, text string")
    out = with_unigram_logprob(other, unigram_model(train)).collect()[0]
    # zzz is unseen -> scored at the model's minimum logp (b: ln(1/4))
    assert out["avg_logprob"] == pytest.approx((math.log(3 / 4) + math.log(1 / 4)) / 2)


def test_temperature_rates_math():
    """alpha=1 reproduces the natural mix; alpha->0 flattens toward
    uniform; rates cap at 1 (no upsampling) and expected volume hits
    target_frac when no cap binds."""
    from jschon_spark.operators.sampling import temperature_rates

    counts = {"en": 800, "de": 150, "fr": 50}
    nat = temperature_rates(counts, alpha=1.0, target_frac=0.5)
    for s in counts:  # natural mix: every stratum keeps target_frac
        assert nat[s] == pytest.approx(0.5)
    flat = temperature_rates(counts, alpha=1e-9, target_frac=0.1)
    picked = {s: counts[s] * flat[s] for s in counts}  # ~uniform across strata
    assert picked["en"] == pytest.approx(picked["de"], rel=1e-3)
    assert picked["de"] == pytest.approx(picked["fr"], rel=1e-3)
    capped = temperature_rates(counts, alpha=0.5, target_frac=0.5)
    assert capped["fr"] == 1.0  # wants >50 docs from fr, caps
    assert 0 < capped["en"] < capped["de"] < 1.0
    assert temperature_rates({}, 0.5) == {}
    assert temperature_rates({"x": 0}, 0.5)["x"] == 0.0


def test_temperature_sample_realizes_mix(spark):
    """Sampled shares track the alpha-scaled targets on a skewed corpus."""
    import numpy as np

    from jschon_spark.operators.sampling import temperature_rates, temperature_sample

    rows = [(i, "en" if i < 3200 else ("de" if i < 3800 else "fr")) for i in range(4000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(df, "lang", "doc_id", alpha=0.5, target_frac=0.25).toPandas()
    counts = {"en": 3200, "de": 600, "fr": 200}
    rates = temperature_rates(counts, alpha=0.5, target_frac=0.25)
    got = out.groupby("lang").size().to_dict()
    for s in counts:  # Bernoulli tolerance ~4 sigma
        want = counts[s] * rates[s]
        sd = np.sqrt(counts[s] * rates[s] * (1 - rates[s])) or 1.0
        assert abs(got.get(s, 0) - want) <= 4 * sd + 1, (s, got.get(s), want)
    # flattening: fr's share grew vs its natural 5%
    assert got["fr"] / len(out) > 0.08


def test_temperature_sample_null_stratum(spark):
    """Rows with a NULL stratum must not crash the count pass (r4: a
    None key survived into sorted(rates.items()) → TypeError) — they
    fall to default_rate=0 and drop out of the sample."""
    from jschon_spark.operators.sampling import temperature_sample

    rows = [(0, "en"), (1, "en"), (2, None), (3, "de"), (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_sample(df, "lang", "doc_id", alpha=1.0, target_frac=1.0).toPandas()
    assert out["lang"].notna().all()
    # alpha=1 target=1 keeps every non-null-stratum row
    assert sorted(out["doc_id"]) == [0, 1, 3]
