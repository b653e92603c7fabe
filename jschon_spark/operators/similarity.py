"""Similarity search over embedding columns (array<float>).

Exact path: brute-force cosine top-k — JVM-side ``zip_with``/``aggregate``
dot products (oracle-checkable against DuckDB's list_cosine_similarity).
It is the recall oracle every approximate path is measured against.

Scale path: the IVF index — k-means lists written as partition
directories, so a probe reads only the ``nprobe`` nearest lists and
scores them exactly (``write_ivf_index`` + ``ivf_topk``). The
materialized-LSH index (``write_ann_index`` + ``ann_topk_indexed``)
covers one corner IVF does not: on unclustered vectors it lists fewer
bytes at equal recall, for several times the query time (BASELINE.md,
round 6).

Near-duplicate pairs: banded random-hyperplane LSH
(``embedding_near_duplicates``), exact-verified.
"""

from __future__ import annotations

import math
from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from jschon_spark.fixtures import _splitmix64
from jschon_spark.operators.dedup import band_pairs


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def brute_force_topk(
    df: DataFrame,
    query: Sequence[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Cosine top-k against a literal query vector. The per-row score is
    one codegen'd expression; top-k is a global sort of (score, id)
    pairs only — Spark's TakeOrderedAndProject keeps it a per-partition
    heap + driver merge, no full sort shuffle. Scores are rounded BEFORE
    ordering (ties then break on id) so ranking is reproducible across
    engines."""
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = df.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), round_digits).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


# -- random hyperplane LSH ---------------------------------------------------


def hyperplanes_np(dim: int, n_planes: int, seed: int = 7) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes (counter-hash normals) —
    same planes on every executor/run without shipping state."""
    idx = np.arange(dim * n_planes, dtype=np.uint64) + np.uint64(seed * 1_000_003)
    u = (_splitmix64(idx) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    # Box-Muller for gaussian-ish normals
    u2 = (_splitmix64(idx ^ np.uint64(0xDEADBEEF)) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    g = np.sqrt(-2.0 * np.log(np.clip(u, 1e-12, 1))) * np.cos(2 * np.pi * u2)
    return g.reshape(n_planes, dim)


def banded_signature_udf(bands: int, bits_per_band: int, seed: int = 7):
    """Arrow-batched banded hyperplane signatures: one matmul per batch
    computes all ``bands * bits_per_band`` sign bits, packed into one
    long per band. The dim is taken from the batch itself — no
    driver-side dim sniffing — and the planes are regenerated
    deterministically per worker (counter-hash, no state shipped)."""
    n_planes = bands * bits_per_band

    @pandas_udf(T.ArrayType(T.LongType()))
    def sigs(vecs: pd.Series) -> pd.Series:
        mask = vecs.notna().to_numpy()
        out = np.empty(len(vecs), dtype=object)
        if mask.any():
            m = np.stack(vecs[mask].to_numpy())  # (n_valid, dim)
            planes = hyperplanes_np(m.shape[1], n_planes, seed)
            bits = (m @ planes.T) >= 0  # (n_valid, n_planes)
            weights = 1 << np.arange(bits_per_band, dtype=np.int64)
            per_band = [
                bits[:, b * bits_per_band : (b + 1) * bits_per_band] @ weights
                for b in range(bands)
            ]
            vals = np.stack(per_band, axis=1)  # (n_valid, bands)
            for j, i in enumerate(np.flatnonzero(mask)):
                out[i] = vals[j]
        return pd.Series(out)

    return sigs


def embedding_near_duplicates(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int | None = None,
    bits_per_band: int | None = None,
    seed: int = 7,
    n_rows: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via BANDED hyperplane LSH
    (OR-amplification through the same `dedup.band_pairs` join as the
    text blockers):
    a pair is a candidate if ANY of the ``bands`` per-band signatures
    collide. At the defaults (8 bands x 8 bits), P(candidate) at
    cos >= 0.9 is 1-(1-0.856^8)^8 ~ 0.93 vs ~0.28 for the old single
    12-bit signature. Candidates are verified with exact cosine; only
    candidate rows' vectors are shuffled (band join carries ids+longs).

    At 100 TB: the band join shuffles (id, band_id, long) — 20 bytes a
    row — and the full-vector shuffle is proportional to the candidate
    set. By default ``bands``/``bits_per_band`` are sized from the
    corpus via `auto_lsh_params` (pass ``n_rows`` to skip the count
    job), which keeps the expected random-pair candidate count ~linear
    in n BY CONSTRUCTION as the corpus grows; explicit values override."""
    if bands is None or bits_per_band is None:
        if n_rows is None:
            # plan-statistics estimate first (parquet metadata, no job);
            # a full count() at design scale is an extra pass over the
            # table before any real work. Over-estimates are benign:
            # auto_lsh_params sizes bands and bits JOINTLY for the
            # recall target, so a few-x cardinality error only widens
            # both while preserving recall-by-construction.
            from jschon_spark.operators.table_checks import _estimated_rows

            n_rows = _estimated_rows(df)
            if n_rows is None or n_rows <= 0:
                n_rows = df.count()
        auto_b, auto_w = auto_lsh_params(max(2, n_rows), threshold=threshold)
        bands = bands if bands is not None else auto_b
        bits_per_band = bits_per_band if bits_per_band is not None else auto_w
    vec = F.col(vec_col).cast("array<double>")
    sig_udf = banded_signature_udf(bands, bits_per_band, seed)
    sigs = df.select(F.col(id_col), sig_udf(vec).alias("bsig"))
    # posexplode_OUTER: plain posexplode injects an implicit
    # `size(bsig) > 0` filter that predicate-pushdown moves BELOW the
    # projection, evaluating the signature UDF a second time per row;
    # the outer variant has no such filter (null signatures yield null
    # buckets, which the equi-join drops anyway)
    buckets = sigs.select(
        F.col(id_col), F.posexplode_outer("bsig").alias("band_id", "bucket")
    )
    cand = band_pairs(buckets, id_col, ["band_id", "bucket"])
    # verification joins the candidate PAIRS back to the raw vectors:
    # the inner join is itself the pruning (vectors shuffle only for
    # candidate ids), and cand appears once in the plan — a semi-join
    # prepass would re-derive the whole band pipeline per side, which
    # only pays off when the join input is an expensive recomputation
    # (cf. dedup.minhash_near_duplicates' shingle arrays); here it is a
    # plain column scan
    vecs = df.select(F.col(id_col), vec.alias("v"))
    a = vecs.select(F.col(id_col).alias("id_a"), F.col("v").alias("v_a"))
    b = vecs.select(F.col(id_col).alias("id_b"), F.col("v").alias("v_b"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(cosine(F.col("v_a"), F.col("v_b")), 6).alias("cosine_sim"),
        )
        .where(F.col("cosine_sim") >= threshold)
    )


# -- materialized ANN index (bucketed layout, file-pruned probes) ------------


def flat_signature_udf(n_planes: int, seed: int = 7):
    """Arrow-batched single-long hyperplane signature (bit i = sign of
    dot(vec, plane_i)); one matmul per batch."""

    @pandas_udf(T.LongType())
    def sig(vecs: pd.Series) -> pd.Series:
        mask = vecs.notna().to_numpy()
        out = np.full(len(vecs), np.nan)
        if mask.any():
            m = np.stack(vecs[mask].to_numpy())
            planes = hyperplanes_np(m.shape[1], n_planes, seed)
            bits = (m @ planes.T) >= 0
            weights = 1 << np.arange(n_planes, dtype=np.int64)
            out[mask] = bits @ weights
        return pd.Series(out).astype("Int64")  # null signature for null vector

    return sig


def query_signature(query: Sequence[float], n_planes: int, seed: int = 7) -> int:
    qv = np.asarray(list(query), dtype=np.float64)
    planes = hyperplanes_np(len(qv), n_planes, seed)
    bits = (planes @ qv) >= 0
    return int(bits @ (1 << np.arange(n_planes, dtype=np.int64)))


def probe_signatures(q_sig: int, n_planes: int, max_hamming: int) -> list[int]:
    """All signatures within Hamming distance ``max_hamming`` of the
    query's — the multi-probe bucket list, enumerated driver-side
    (sum of C(n_planes, h) values, e.g. 176 for 10 planes, radius 3)."""
    from itertools import combinations

    out = []
    for h in range(max_hamming + 1):
        for flips in combinations(range(n_planes), h):
            s = q_sig
            for b in flips:
                s ^= 1 << b
            out.append(s)
    return out


def write_ann_index(
    df: DataFrame,
    path: str,
    n_planes: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
) -> None:
    """Materialize the LSH signature as a PARTITION column: one
    directory per bucket, so a probe reads only matching files
    (PartitionFilters in the scan — no full-table signature pass per
    query). ``repartition("sig")`` keeps it to ~1 file per bucket.

    At 100 TB this is the Iceberg table's hidden-partitioning /
    bucket-transform layout; parquet partitionBy gives the same
    pruning semantics in this sandbox."""
    import json as _json
    import os

    sig = flat_signature_udf(n_planes, seed)
    (
        df.withColumn("sig", sig(F.col(vec_col).cast("array<double>")))
        .repartition("sig")
        .write.mode("overwrite")
        .partitionBy("sig")
        .parquet(path)
    )
    with open(os.path.join(path, "_ann_meta.json"), "w") as f:
        _json.dump({"n_planes": n_planes, "seed": seed, "vec_col": vec_col, "id_col": id_col}, f)


def read_ann_meta(path: str) -> dict:
    import json as _json
    import os

    with open(os.path.join(path, "_ann_meta.json")) as f:
        return _json.load(f)


def ann_topk_indexed(
    spark,
    path: str,
    query: Sequence[float],
    k: int = 10,
    max_probe_hamming: int = 2,
) -> DataFrame:
    """Multi-probe ANN over a materialized index: enumerate the probe
    buckets driver-side, then ``sig IN (...)`` — a partition-column
    predicate, so the scan lists only the matching bucket directories.
    Exact cosine + top-k run over the pruned fraction
    (~sum_h C(n,h)/2^n of the table; 17% for 10 planes, radius 3)."""
    meta = read_ann_meta(path)
    n_planes, seed = meta["n_planes"], meta["seed"]
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    q_sig = query_signature(query, n_planes, seed)
    probes = probe_signatures(q_sig, n_planes, max_probe_hamming)
    df = spark.read.parquet(path).where(F.col("sig").isin(probes))
    q = F.array(*[F.lit(float(x)) for x in query])
    vec = F.col(vec_col).cast("array<double>")
    scored = df.select(F.col(id_col), F.round(cosine(vec, q), 6).alias("cosine_sim"))
    return scored.orderBy(F.desc("cosine_sim"), F.col(id_col)).limit(k)


# -- IVF (inverted-file) ANN index -------------------------------------------


def _kmeans_fit(sample: np.ndarray, k: int, iters: int = 15, seed: int = 11) -> np.ndarray:
    """Plain Lloyd's k-means on a driver-side sample (deterministic
    counter-hash init — no sklearn/MLlib dependency; the sample is a
    few thousand rows, so driver fitting is the cheap part)."""
    n = len(sample)
    idx = (_splitmix64(np.arange(k, dtype=np.uint64) + np.uint64(seed)) % np.uint64(n)).astype(np.int64)
    cents = sample[idx].copy()
    for _ in range(iters):
        # (n, k) distances via ||x||^2 - 2 x.c + ||c||^2; argmin per row
        d = (sample * sample).sum(1)[:, None] - 2.0 * (sample @ cents.T) + (cents * cents).sum(1)[None, :]
        assign = d.argmin(1)
        for j in range(k):
            members = sample[assign == j]
            if len(members):
                cents[j] = members.mean(0)
    return cents


def centroid_assign_udf(centroids: np.ndarray):
    """Arrow-batched nearest-centroid assignment (one matmul per batch
    against the broadcast centroid matrix)."""
    cents = np.ascontiguousarray(centroids, dtype=np.float64)
    c_norms = (cents * cents).sum(1)

    @pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:
        mask = vecs.notna().to_numpy()
        out = np.full(len(vecs), np.nan)
        if mask.any():
            m = np.stack(vecs[mask].to_numpy()).astype(np.float64)
            d = (m * m).sum(1)[:, None] - 2.0 * (m @ cents.T) + c_norms[None, :]
            out[mask] = d.argmin(1)
        return pd.Series(out).astype("Int32")  # null list for null vector

    return assign


def write_ivf_index(
    df: DataFrame,
    path: str,
    n_lists: int = 64,
    sample_rows: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
) -> None:
    """Materialize an IVF layout: k-means centroids fitted on a sample
    (driver-side Lloyd's), every vector assigned to its nearest
    centroid, table written PARTITIONED by list id. A probe reads only
    the ``nprobe`` nearest lists — directory-pruned, like the LSH
    index, but with data-adaptive buckets (better for clustered real
    embeddings than random hyperplanes).

    At 10^12 rows: centroids come from a driver-safe sample,
    assignment is one matmul per Arrow batch, and the write is the
    same Iceberg-style bucketing story as write_ann_index."""
    import json as _json
    import os

    sample_pdf = (
        df.select(F.col(vec_col).cast("array<double>").alias("v"))
        .where(F.col(vec_col).isNotNull())
        .limit(int(sample_rows))
        .toPandas()
    )
    sample = np.stack(sample_pdf["v"].to_numpy())
    cents = _kmeans_fit(sample, min(n_lists, len(sample)), seed=seed)
    assign = centroid_assign_udf(cents)
    (
        df.withColumn("list_id", assign(F.col(vec_col).cast("array<double>")))
        .repartition("list_id")
        .write.mode("overwrite")
        .partitionBy("list_id")
        .parquet(path)
    )
    with open(os.path.join(path, "_ivf_meta.json"), "w") as f:
        _json.dump(
            {
                "n_lists": int(len(cents)),
                "centroids": cents.tolist(),
                "id_col": id_col,
                "vec_col": vec_col,
            },
            f,
        )


def ivf_topk(
    spark,
    path: str,
    query: Sequence[float],
    k: int = 10,
    nprobe: int = 8,
) -> DataFrame:
    """IVF probe: rank centroids by distance to the query driver-side,
    scan ONLY the ``nprobe`` nearest lists (partition-column IN filter
    → directory pruning), exact cosine + top-k over that fraction."""
    import json as _json
    import os

    with open(os.path.join(path, "_ivf_meta.json")) as f:
        meta = _json.load(f)
    cents = np.asarray(meta["centroids"], dtype=np.float64)
    qv = np.asarray(list(query), dtype=np.float64)
    d = ((cents - qv[None, :]) ** 2).sum(1)
    probe = [int(i) for i in d.argsort()[: int(nprobe)]]
    df = spark.read.parquet(path).where(F.col("list_id").isin(probe))
    q = F.array(*[F.lit(float(x)) for x in qv])
    vec = F.col(meta["vec_col"]).cast("array<double>")
    scored = df.select(F.col(meta["id_col"]), F.round(cosine(vec, q), 6).alias("cosine_sim"))
    return scored.orderBy(F.desc("cosine_sim"), F.col(meta["id_col"])).limit(k)


def auto_lsh_params(
    n_rows: int, threshold: float = 0.9, target_recall: float = 0.9
) -> tuple[int, int]:
    """(bands, bits_per_band) sized for the corpus: pick bits so the
    EXPECTED random-pair candidate count stays ~linear in n
    (b * n^2 / 2^(bits+1) <= n), then bands for the recall target at
    the cosine threshold (P(bit agree) = 1 - acos(t)/pi), iterating to
    a joint fixed point. The linear-candidate constraint makes these
    MUCH wider than the 8x8 default (10k rows @ t=0.9 → 37 bands x 18
    bits; 10^9 rows → 30-bit bands): the default is tuned for small
    similarity-rich corpora, this for corpora where the band join must
    not go quadratic."""
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    bands = 8
    bits = 8
    for _ in range(12):
        bits = max(4, min(30, math.ceil(math.log2(max(2.0, n_rows * bands / 2.0)))))
        pr = p**bits
        if pr >= 1.0:
            bands = 1
            break
        bands = max(1, min(64, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pr))))
    return bands, bits
