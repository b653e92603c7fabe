"""Edit-distance near-dup verification + normalized exact dedup.

Value tests pin hand-computed Levenshtein distances and planted
case/punct duplicate groups; plan tests assert the scale design
(JVM-only expressions — no Python eval nodes anywhere in the cascade).
"""

import pytest
from pyspark.sql import functions as F

from jschon_spark.operators.dedup import edit_similarity, edit_verified_pairs
from jschon_spark.operators.text import normalize_text, normalized_dedup


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),   # len 44
        (1, "the quick brown fox jumped over the lazy dog"),  # jumps->jumped: 2 edits
        (2, "the quick brown fox jumps over the lazy cat"),   # 1 subst from 0
        (3, "a completely different document about spark"),   # len 44, unrelated
        (4, "tiny"),                                          # far shorter
        (5, "x" * 200),                                       # far longer
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_edit_similarity_column(spark):
    df = spark.createDataFrame(
        [("kitten", "sitting"), ("abc", "abc"), ("", ""), ("abc", "")],
        "a string, b string",
    )
    got = [r[0] for r in df.select(edit_similarity(F.col("a"), F.col("b"))).collect()]
    # lev(kitten,sitting)=3, max len 7 -> 1 - 3/7
    assert got[0] == pytest.approx(1 - 3 / 7)
    assert got[1] == 1.0
    assert got[2] == 1.0  # both empty: identical by convention
    assert got[3] == 0.0


def test_edit_verified_pairs_values(spark, docs):
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (0, 3)], "id_a long, id_b long"
    )
    out = {
        (r["id_a"], r["id_b"]): (r["edit_distance"], r["edit_similarity"])
        for r in edit_verified_pairs(docs, pairs, threshold=0.6).collect()
    }
    assert out[(0, 1)][0] == 2          # jumps -> jumped (subst s->e, insert d)
    assert out[(0, 2)][0] == 3          # dog -> cat (three substitutions)
    assert (1, 2) in out                # jumped+cat vs jumps+dog: 5 edits, sim ~0.89
    assert (0, 3) not in out            # unrelated text falls under 0.6


def test_edit_verified_pairs_length_prefilter(spark, docs):
    # (4, 5): length gap 196 vs bound floor(0.4*200)=80 — the pair must
    # be dropped by the prefilter BEFORE any levenshtein runs; assert by
    # result (absent) and by plan (the length predicate exists).
    pairs = spark.createDataFrame([(4, 5)], "id_a long, id_b long")
    out = edit_verified_pairs(docs, pairs, threshold=0.6)
    assert out.count() == 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "levenshtein" in plan.lower()
    assert "abs(" in plan.lower()


def test_edit_verified_pairs_jvm_only(docs, spark):
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    plan = edit_verified_pairs(docs, pairs)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.fixture(scope="module")
def long_docs(spark):
    # realistic near-dup shape: ONE word edited in a 40-word document
    # keeps 4-gram Jaccard ~0.82, so each band collides w.p. ~J and all
    # three missing is ~0.6% — deterministic here since md5 is fixed.
    words = [f"word{i}" for i in range(40)]
    base = " ".join(words)
    edit1 = " ".join(["edited" if i == 35 else w for i, w in enumerate(words)])
    edit2 = " ".join(["changed" if i == 3 else w for i, w in enumerate(words)])
    other = " ".join(f"unrelated{i}" for i in range(40))
    rows = [(0, base), (1, edit1), (2, edit2), (3, other), (4, "tiny text")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_band_blocker(spark, long_docs):
    from jschon_spark.operators.dedup import minhash_band_pairs_sql

    rows = minhash_band_pairs_sql(long_docs, n=4, n_bands=3).collect()
    got = {(r["id_a"], r["id_b"]) for r in rows}
    # near-identical docs share min-grams; the unrelated doc and the
    # too-short doc (id 4: no 4-grams) pair with nobody
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got
    assert not any(3 in p or 4 in p for p in got)
    # distinct: no duplicate candidate rows despite 3 bands
    assert len(rows) == len(got)


def test_minhash_band_blocker_cascade(spark, long_docs):
    from jschon_spark.operators.dedup import minhash_band_pairs_sql

    cand = minhash_band_pairs_sql(long_docs, n=4, n_bands=3)
    out = {
        (r["id_a"], r["id_b"]) for r in edit_verified_pairs(long_docs, cand, threshold=0.8).collect()
    }
    assert out == {(0, 1), (0, 2), (1, 2)}


def test_normalize_text(spark):
    df = spark.createDataFrame(
        [("  Hello,   WORLD!! 42 ",), ("hello world 42",), ("...",)], "t string"
    )
    got = [r[0] for r in df.select(normalize_text(F.col("t"))).collect()]
    assert got == ["hello world 42", "hello world 42", ""]


def test_normalized_dedup_keeps_one_per_group(spark):
    df = spark.createDataFrame(
        [
            (0, "Hello, World!"),
            (1, "hello   world"),
            (2, "HELLO WORLD."),
            (3, "goodbye world"),
            (4, "Goodbye,world"),
            (5, "something else"),
        ],
        "doc_id long, text string",
    )
    # groups {0, 1, 2} and {3, 4} keep their min id
    kept = sorted(r["doc_id"] for r in normalized_dedup(df).collect())
    assert kept == [0, 3, 5]


def test_normalized_dedup_jvm_only(spark):
    df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
    plan = normalized_dedup(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the shuffle key is the 16-byte hash, not raw text: the aggregate's
    # grouping column is the md5 projection
    assert "md5" in plan.lower()
