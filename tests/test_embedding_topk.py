"""Embedding top-k: the exact kernel (``brute_force_topk``) and the IVF
index (``write_ivf_index`` + ``ivf_topk``) against numpy references —
scores, ranking, ties, null vectors, plan shape, index determinism and
the probe's list pruning."""

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from jschon_spark.operators import similarity

N_LISTS = 8
DIM = 16


def _exact(vecs, query, k):
    """numpy reference: cosine rounded to 6 dp, descending, ties on id."""
    v = np.asarray(vecs, dtype=np.float64)
    q = np.asarray(query, dtype=np.float64)
    sims = np.round((v @ q) / (np.linalg.norm(v, axis=1) * np.linalg.norm(q)), 6)
    order = np.lexsort((np.arange(len(v)), -sims))[:k]
    return [int(i) for i in order], [float(sims[i]) for i in order]


def _frame(spark, vecs, id_col="vec_id", vec_col="embedding"):
    return spark.createDataFrame(
        pd.DataFrame({id_col: range(len(vecs)), vec_col: list(vecs)})
    )


@pytest.fixture(scope="module")
def clustered(spark, tmp_path_factory):
    """8 Gaussian clusters x 40 points in 16 dims, indexed into 8 lists."""
    rng = np.random.default_rng(5)
    centers = rng.normal(size=(N_LISTS, DIM)) * 4
    pts = np.vstack([c + rng.normal(size=(40, DIM)) for c in centers]).astype(np.float32)
    df = _frame(spark, pts).cache()
    df.count()
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    similarity.write_ivf_index(df, path, n_lists=N_LISTS, sample_rows=len(pts))
    with open(os.path.join(path, "_ivf_meta.json")) as f:
        meta = json.load(f)
    yield pts, df, path, meta
    df.unpersist()


# ----------------------------------------------------------- exact kernel


@pytest.mark.parametrize(
    "seed,n,dim,k",
    [(1, 60, 8, 1), (2, 60, 8, 10), (3, 200, 32, 25), (4, 30, 4, 50)],
)
def test_brute_force_topk_matches_numpy(spark, seed, n, dim, k):
    rng = np.random.default_rng(seed)
    vecs = rng.normal(size=(n, dim)).astype(np.float32)
    query = rng.normal(size=dim).tolist()
    rows = similarity.brute_force_topk(_frame(spark, vecs), query, k=k).collect()
    want_ids, want_sims = _exact(vecs, query, k)
    assert len(rows) == min(k, n)
    assert [r.vec_id for r in rows] == want_ids
    np.testing.assert_allclose([r.cosine_sim for r in rows], want_sims, atol=1e-6)


def test_brute_force_topk_plan_is_jvm_take_ordered(spark, clustered):
    """The top-k cut plans as TakeOrderedAndProject (per-partition heap +
    driver merge, no full sort), and scoring never leaves the JVM."""
    pts, df, _, _ = clustered
    plan = (
        similarity.brute_force_topk(df, pts[0].tolist(), k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_brute_force_topk_ties_break_on_id(spark):
    # parallel vectors share cosine 1.0 with the query; input order is
    # not id order, so only the id tie-break gives [2, 5, 9]
    rows = [(5, [1.0, 0.0]), (2, [3.0, 0.0]), (9, [0.5, 0.0]), (1, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.brute_force_topk(df, [1.0, 0.0], k=4).collect()
    assert [r.vec_id for r in out] == [2, 5, 9, 1]
    assert [r.cosine_sim for r in out] == [1.0, 1.0, 1.0, 0.0]


def test_brute_force_topk_null_vectors_rank_last(spark):
    rows = [(0, None), (1, [1.0, 0.0]), (2, [0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.brute_force_topk(df, [1.0, 0.0], k=3).collect()
    assert [(r.vec_id, r.cosine_sim) for r in out] == [(1, 1.0), (2, 0.0), (0, None)]
    # a null vector never displaces a scored one
    out2 = similarity.brute_force_topk(df, [1.0, 0.0], k=2).collect()
    assert [r.vec_id for r in out2] == [1, 2]


def test_brute_force_topk_custom_columns_and_rounding(spark):
    rng = np.random.default_rng(8)
    vecs = rng.normal(size=(40, 6))
    df = _frame(spark, vecs, id_col="doc", vec_col="emb")
    query = rng.normal(size=6).tolist()
    out = similarity.brute_force_topk(
        df, query, k=5, id_col="doc", vec_col="emb", round_digits=2
    )
    assert out.columns == ["doc", "cosine_sim"]
    rows = out.collect()
    for r in rows:
        assert r.cosine_sim == round(r.cosine_sim, 2)
    # ranking is by the rounded score, ties broken on id
    keys = [(-r.cosine_sim, r.doc) for r in rows]
    assert keys == sorted(keys)
    v = vecs[[r.doc for r in rows]]
    sims = (v @ query) / (np.linalg.norm(v, axis=1) * np.linalg.norm(query))
    np.testing.assert_allclose([r.cosine_sim for r in rows], sims, atol=0.005 + 1e-9)


@pytest.mark.parametrize("variant", ["brute_force", "ivf"])
def test_topk_output_contract(spark, clustered, variant):
    """Both surviving top-k paths return the same (id, cosine_sim) rows."""
    pts, df, path, _ = clustered
    query = pts[3].tolist()
    if variant == "brute_force":
        out = similarity.brute_force_topk(df, query, k=4)
    else:
        out = similarity.ivf_topk(spark, path, query, k=4, nprobe=2)
    assert out.dtypes == [("vec_id", "bigint"), ("cosine_sim", "double")]
    rows = out.collect()
    assert len(rows) == 4 and rows[0].vec_id == 3 and rows[0].cosine_sim == 1.0


@pytest.mark.parametrize("kernel", ["dot", "l2_norm", "cosine"])
def test_column_kernels_match_numpy(spark, kernel):
    rng = np.random.default_rng(12)
    a, b = rng.normal(size=(20, 7)), rng.normal(size=(20, 7))
    df = spark.createDataFrame(
        pd.DataFrame({"i": range(20), "a": list(a), "b": list(b)})
    )
    fn = getattr(similarity, kernel)
    col = fn(F.col("a")) if kernel == "l2_norm" else fn(F.col("a"), F.col("b"))
    got = {r.i: r.v for r in df.select("i", col.alias("v")).collect()}
    want = {
        "dot": (a * b).sum(1),
        "l2_norm": np.linalg.norm(a, axis=1),
        "cosine": (a * b).sum(1) / (np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)),
    }[kernel]
    np.testing.assert_allclose([got[i] for i in range(20)], want, rtol=1e-12)


# -------------------------------------------------------------- IVF index


def test_kmeans_fit_shape_and_determinism(clustered):
    pts = clustered[0].astype(np.float64)
    cents = similarity._kmeans_fit(pts, N_LISTS)
    assert cents.shape == (N_LISTS, DIM)
    np.testing.assert_array_equal(cents, similarity._kmeans_fit(pts, N_LISTS))
    # zero iterations leave the counter-hash initial picks: sample rows
    init = similarity._kmeans_fit(pts, N_LISTS, iters=0)
    assert all((pts == c).all(1).any() for c in init)
    assert (init != similarity._kmeans_fit(pts, N_LISTS, iters=0, seed=12)).any()


def test_centroid_assign_matches_numpy(spark, clustered):
    pts, _, _, meta = clustered
    cents = np.asarray(meta["centroids"])
    rows = [(i, pts[i].astype(float).tolist()) for i in (0, 57, 200, 319)] + [(999, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assign = similarity.centroid_assign_udf(cents)
    got = {r.vec_id: r.l for r in df.select("vec_id", assign(F.col("embedding")).alias("l")).collect()}
    for i in (0, 57, 200, 319):
        assert got[i] == int(((cents - pts[i].astype(np.float64)) ** 2).sum(1).argmin())
    assert got[999] is None


def test_write_ivf_index_is_deterministic(spark, clustered, tmp_path):
    pts, df, path, meta = clustered
    again = str(tmp_path / "again")
    similarity.write_ivf_index(df, again, n_lists=N_LISTS, sample_rows=len(pts))
    with open(os.path.join(again, "_ivf_meta.json")) as f:
        assert json.load(f) == meta
    a = spark.read.parquet(path).select("vec_id", "list_id").toPandas()
    b = spark.read.parquet(again).select("vec_id", "list_id").toPandas()
    a, b = (x.sort_values("vec_id").reset_index(drop=True) for x in (a, b))
    assert a.equals(b)


def test_ivf_meta_records_layout(spark, clustered, tmp_path):
    pts, df, path, meta = clustered
    assert meta["n_lists"] == N_LISTS
    assert np.asarray(meta["centroids"]).shape == (N_LISTS, DIM)
    assert (meta["id_col"], meta["vec_col"]) == ("vec_id", "embedding")
    lists = sorted(d for d in os.listdir(path) if d.startswith("list_id="))
    assert lists == [f"list_id={j}" for j in range(N_LISTS)]
    # a sample smaller than n_lists caps the list count
    small = str(tmp_path / "small")
    similarity.write_ivf_index(df, small, n_lists=64, sample_rows=10)
    with open(os.path.join(small, "_ivf_meta.json")) as f:
        assert json.load(f)["n_lists"] == 10


@pytest.mark.parametrize("nprobe", [1, 2, 4])
def test_ivf_probe_scores_exactly_the_nearest_lists(spark, clustered, nprobe):
    """With k past the list sizes, ivf_topk returns every row of the
    ``nprobe`` lists whose centroids are nearest the query, and no other,
    ranked by exact cosine."""
    pts, _, path, meta = clustered
    query = (pts[100] + 0.5).astype(np.float64)
    cents = np.asarray(meta["centroids"])
    probe = set(((cents - query) ** 2).sum(1).argsort()[:nprobe].tolist())
    lists = spark.read.parquet(path).select("vec_id", "list_id").toPandas()
    members = sorted(int(i) for i in lists.vec_id[lists.list_id.isin(probe)])
    rows = similarity.ivf_topk(spark, path, query.tolist(), k=len(pts), nprobe=nprobe).collect()
    assert sorted(r.vec_id for r in rows) == members
    want_ids, want_sims = _exact(pts[members], query, len(members))
    assert [r.vec_id for r in rows] == [members[i] for i in want_ids]
    np.testing.assert_allclose([r.cosine_sim for r in rows], want_sims, atol=1e-6)


@pytest.mark.parametrize("k", [1, 10, 40])
def test_ivf_full_probe_equals_brute_force(spark, clustered, k):
    pts, df, path, _ = clustered
    query = np.random.default_rng(k).normal(size=DIM).tolist()
    exact = similarity.brute_force_topk(df, query, k=k).collect()
    got = similarity.ivf_topk(spark, path, query, k=k, nprobe=N_LISTS).collect()
    assert got == exact


def test_ivf_recall_never_drops_as_nprobe_grows(spark, clustered):
    """Probing the nearest lists first makes each probe set contain the
    last, so recall@10 against the exact top-10 is non-decreasing in
    nprobe and reaches 1.0 once every list is read."""
    pts, df, path, _ = clustered
    rng = np.random.default_rng(21)
    for q in range(3):
        query = (pts[q * 100] + rng.normal(size=DIM) * 2).tolist()
        truth = {r.vec_id for r in similarity.brute_force_topk(df, query, k=10).collect()}
        recalls = [
            len(truth & {r.vec_id for r in similarity.ivf_topk(spark, path, query, k=10, nprobe=p).collect()})
            for p in (1, 2, 4, N_LISTS)
        ]
        assert recalls == sorted(recalls), recalls
        assert recalls[-1] == 10


def test_ivf_custom_columns(spark, tmp_path):
    rng = np.random.default_rng(30)
    vecs = rng.normal(size=(60, 8))
    df = _frame(spark, vecs, id_col="doc", vec_col="emb")
    path = str(tmp_path / "ivf_cols")
    similarity.write_ivf_index(df, path, n_lists=4, sample_rows=60, id_col="doc", vec_col="emb")
    query = vecs[17].tolist()
    out = similarity.ivf_topk(spark, path, query, k=6, nprobe=4)
    assert out.columns == ["doc", "cosine_sim"]
    exact = similarity.brute_force_topk(df, query, k=6, id_col="doc", vec_col="emb")
    assert out.collect() == exact.collect()
