"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design (the 100 TB story):
- exact dedup groups by a 128-bit content hash, never by the raw text —
  the shuffle carries 16-byte keys, and map-side combine absorbs hot
  keys;
- MinHash/SimHash signatures are computed in ONE Arrow-batched numpy
  pass per document (byte-window shingle packing + splitmix mixing —
  no per-shingle string objects; measured ~40x over the JVM HOF form
  on this host, where UTF8String allocation costs ~10us/shingle);
- LSH banding turns the O(n²) pair problem into an equi-join on
  (band, band_hash), which Spark shuffles hash-partitioned — only
  same-bucket candidates ever meet. Every blocker here (and the
  embedding one in similarity.py) ends in the one `band_pairs`
  self-join, hinted shuffle_hash so both sides share one Exchange
  (ReusedExchange ⇒ the signature pipeline runs once, and broadcast is
  impossible at the 10^12-row design point anyway);
- a document with no shingles gets a null signature and never joins a
  band (an all-zero one made every empty document one hot bucket);
- candidate verification computes exact Jaccard only on candidate
  pairs, after semi-join pruning the corpus to documents that appear
  in some candidate pair;
- SimHash packs a document into a 128-bit fingerprint (two independent
  64-bit votes); near-dup lookup is a band-join on disjoint chunks
  (Hamming ≤ k over k+1 chunks ⇒ some chunk matches by pigeonhole).
"""

from __future__ import annotations

import functools
import operator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.operators.text import word_ngrams

# -- exact ------------------------------------------------------------------


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical documents (by md5 of raw text): one row
    per duplicated content hash with the member ids and count."""
    h = F.md5(F.col(text_col).cast("binary")).alias("content_hash")
    return (
        df.select(h, F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .where(F.col("n_docs") > 1)
    )


# -- MinHash + LSH: vectorized shingle hashing (Arrow) ----------------------
#
# Materializing shingle substrings JVM-side costs ~10us per shingle on
# this host (UTF8String allocation churn): ~19s just to shingle 5k short
# docs. The Arrow path packs each n-byte window (n<=8) of the normalized
# utf-8 text into a uint64 with vectorized shifts and mixes it with
# splitmix64 — no per-shingle object ever exists. The hash family is
# internal to minhash/simhash; the SQL-oracle-checkable operators
# (ngram_jaccard) keep the HOF form.


def _mix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constants)."""
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        z = ((z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        z = ((z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        return z ^ (z >> np.uint64(31))


def _norm_texts(texts: pd.Series) -> pd.Series:
    # mirrors char_ngrams' normalization: lower, trim, collapse whitespace
    return texts.fillna("").str.lower().str.strip().str.replace(r"\s+", " ", regex=True)


def _pack_batch(norm: pd.Series, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Whole-batch shingle hashing with ZERO per-row Python in the hot
    loop: concatenate every normalized text of the Arrow batch into ONE
    byte buffer, window-pack all n-byte windows in one vectorized pass,
    mask out the windows that straddle document boundaries, and compact.

    Returns ``(hashes, starts, seg_lens)`` — document d's (mixed) shingle
    hashes are ``hashes[starts[d] : starts[d] + seg_lens[d]]``, segments
    tiling ``hashes`` contiguously in document order. A document shorter
    than ``n`` (but non-empty) contributes exactly one hash of its
    bytes packed little-endian into one word; an empty document
    contributes none."""
    enc = [t.encode("utf-8") for t in norm]
    lens = np.fromiter((len(b) for b in enc), dtype=np.int64, count=len(enc))
    total = int(lens.sum())
    buf = np.frombuffer(b"".join(enc), dtype=np.uint8)
    starts_b = np.zeros(len(enc), dtype=np.int64)
    if len(enc) > 1:
        starts_b[1:] = np.cumsum(lens)[:-1]
    m_all = max(total - n + 1, 0)
    if m_all > 0:
        acc = np.zeros(m_all, dtype=np.uint64)
        for k in range(n):
            acc |= buf[k : m_all + k].astype(np.uint64) << np.uint64(8 * k)
        hashes_all = _mix64(acc)
    else:
        hashes_all = np.zeros(0, dtype=np.uint64)
    # valid (non-straddling) windows per doc, plus the short-doc singleton
    win_lens = np.maximum(lens - n + 1, 0)
    short = (lens > 0) & (lens < n)
    seg_lens = np.where(short, 1, win_lens)
    comp_bounds = np.zeros(len(enc) + 1, dtype=np.int64)
    np.cumsum(seg_lens, out=comp_bounds[1:])
    out = np.empty(comp_bounds[-1], dtype=np.uint64)
    if m_all > 0:
        # boolean mask of valid window positions via a diff/cumsum ramp
        delta = np.zeros(m_all + 1, dtype=np.int64)
        nz = win_lens > 0
        np.add.at(delta, starts_b[nz], 1)
        np.add.at(delta, starts_b[nz] + win_lens[nz], -1)
        valid = np.cumsum(delta[:-1]) > 0
        dest = np.ones(len(out), dtype=bool)
        dest[comp_bounds[:-1][short]] = False
        out[dest] = hashes_all[valid]
    short_idx = np.where(short)[0]
    for d in short_idx:  # rare: docs shorter than the shingle width
        bb = buf[starts_b[d] : starts_b[d] + lens[d]]
        a = np.uint64(0)
        for k in range(len(bb)):
            a |= np.uint64(bb[k]) << np.uint64(8 * k)
        out[comp_bounds[d]] = _mix64(np.array([a], dtype=np.uint64))[0]
    return out, comp_bounds[:-1], seg_lens


_SHINGLE_UDFS: dict = {}


def shingle_hash_udf(shingle_size: int):
    """pandas_udf: text → array<long> of distinct hashed character
    shingles (whole-batch byte-window packing; see module comment)."""
    if shingle_size > 8:
        raise ValueError("byte-packed shingles support n <= 8")
    if shingle_size not in _SHINGLE_UDFS:

        @F.pandas_udf(T.ArrayType(T.LongType()))
        def f(text: pd.Series) -> pd.Series:
            hashes, starts, seg_lens = _dedup_segments(
                *_pack_batch(_norm_texts(text), shingle_size)
            )
            signed = hashes.astype(np.int64)
            return pd.Series(
                [
                    signed[s : s + L]
                    for s, L in zip(starts.tolist(), seg_lens.tolist())
                ]
            )

        _SHINGLE_UDFS[shingle_size] = f
    return _SHINGLE_UDFS[shingle_size]


_MINHASH_UDFS: dict = {}


def minhash_udf(n_perm: int = 16, shingle_size: int = 5):
    """pandas_udf: text → n_perm-component MinHash signature, fully
    batched: ONE byte-buffer window pass for the whole Arrow batch, then
    per-permutation ``_mix64(h ^ c)`` + segmented min via
    ``np.minimum.reduceat`` — no per-row Python calls at all. A document
    with no shingles (empty after normalization) gets a null signature:
    an all-zero one would put every such document in one LSH bucket."""
    key = (n_perm, shingle_size)
    if key not in _MINHASH_UDFS:
        consts = _mix64(np.arange(1, n_perm + 1, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15))

        @F.pandas_udf(T.ArrayType(T.LongType()))
        def f(text: pd.Series) -> pd.Series:
            hashes, starts, seg_lens = _pack_batch(_norm_texts(text), shingle_size)
            nd = len(starts)
            sigs = np.zeros((nd, n_perm), dtype=np.int64)
            nz = seg_lens > 0
            if hashes.size and nz.any():
                red_starts = starts[nz]
                for i in range(n_perm):
                    mixed = _mix64(hashes ^ consts[i])
                    sigs[nz, i] = np.minimum.reduceat(mixed, red_starts).astype(np.int64)
            return pd.Series([sig if ok else None for sig, ok in zip(sigs, nz)])

        _MINHASH_UDFS[key] = f
    return _MINHASH_UDFS[key]


def band_pairs(buckets: DataFrame, id_col: str, keys: list[str], *extra: Column) -> DataFrame:
    """The band self-join every near-duplicate blocker ends in: distinct
    ``(id_a, id_b, *extra)`` over pairs of ``buckets`` rows that agree on
    every column of ``keys``, with ``id_a < id_b``. ``extra`` Columns
    read the two sides through the ``l.``/``r.`` aliases. A row with a
    null key meets nobody (equi-join semantics), so a blocker keeps a
    document out of the join by giving it a null key or no bucket row.

    The join is hinted shuffle_hash on both sides (not broadcast): the
    two sides then share one identical Exchange, so ReusedExchange
    computes the whole signature→bucket pipeline ONCE. It is also the
    only viable shape at 10^12 rows, where no side is broadcastable."""
    l = buckets.hint("shuffle_hash").alias("l")
    r = buckets.hint("shuffle_hash").alias("r")
    cond = [F.col(f"l.{k}") == F.col(f"r.{k}") for k in keys]
    cond.append(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
    return (
        l.join(r, functools.reduce(operator.and_, cond))
        .select(F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b"), *extra)
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    minhash_col: str = "minhash",
    bands: int = 4,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands, hash each,
    explode to (band_id, band_hash, id), self-join per bucket. The join
    is a plain shuffle-hash equi-join on small keys; a pathological
    bucket (all-identical corpus) is bounded by distinct-per-bucket
    pairing and AQE skew splitting. A null signature explodes to no
    bucket rows: its band hashes would all be ``xxhash64("")``. A
    signature whose width is not a multiple of ``bands`` fails the query:
    its bands would drop the tail, or all be empty and collide."""
    if bands < 1:
        raise ValueError(f"bands={bands} must be >= 1")
    sig = F.col(minhash_col)
    n_perm_col = F.size(sig)
    rows_per_band = (n_perm_col / bands).cast("int")
    band_structs = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band_id"),
            F.xxhash64(F.concat_ws(",", F.transform(F.slice(sig, b * rows_per_band + 1, rows_per_band), lambda x: x.cast("string")))).alias("band_hash"),
        ),
    )
    band_structs = F.when(n_perm_col % bands == 0, band_structs).otherwise(F.raise_error(
        F.format_string(
            "lsh_candidate_pairs: signature width %d is not a multiple of bands=%d",
            n_perm_col, F.lit(bands),
        )
    ))
    buckets = df.select(
        F.col(id_col), F.explode(F.when(sig.isNotNull(), band_structs)).alias("b")
    ).select(id_col, "b.band_id", "b.band_hash")
    return band_pairs(buckets, id_col, ["band_id", "band_hash"])


def jaccard(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(1.0))


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    n_perm: int = 16,
    bands: int = 4,
    shingle_size: int = 5,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → hash once → signature →
    band-bucket join → exact-Jaccard verification of candidates only.

    Verification runs over the hashed shingle sets (64-bit collisions
    are negligible) and only for documents that appear in a candidate
    pair — a semi-join prunes the corpus before the shingle arrays are
    recomputed, so the expensive array shuffle is proportional to the
    candidate set, not the corpus. ``bands`` must divide ``n_perm``."""
    if bands < 1 or n_perm % bands:
        raise ValueError(f"bands={bands} must be >= 1 and divide n_perm={n_perm}")
    hs = df.select(
        F.col(id_col),
        shingle_hash_udf(shingle_size)(F.col(text_col)).alias("shingle_hs"),
    )
    # NB: the candidate pipeline appears three times in the static plan
    # (verify join + both semi-join sides), but the shuffle_hash hint
    # makes the three band-join Exchanges canonically identical, so AQE
    # computes the shuffle once and ReusedExchange serves the rest —
    # measured equivalent to (and cold-path faster than) persisting the
    # intermediates, without holding executor storage across queries.
    sigs = df.select(
        F.col(id_col), minhash_udf(n_perm, shingle_size)(F.col(text_col)).alias("minhash")
    )
    cand = lsh_candidate_pairs(sigs, id_col=id_col, bands=bands)
    ids_a = cand.select(F.col("id_a").alias(id_col)).distinct()
    ids_b = cand.select(F.col("id_b").alias(id_col)).distinct()
    a = hs.join(ids_a, id_col, "semi").select(
        F.col(id_col).alias("id_a"), F.col("shingle_hs").alias("sh_a")
    )
    b = hs.join(ids_b, id_col, "semi").select(
        F.col(id_col).alias("id_b"), F.col("shingle_hs").alias("sh_b")
    )
    verified = (
        cand.join(a, "id_a").join(b, "id_b")
        .select("id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
    return verified


# -- n-gram Jaccard (exact, for verification / small candidate sets) --------


def ngram_jaccard_pairs(
    df: DataFrame, pairs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Exact word-n-gram Jaccard for given (id_a, id_b) pairs."""
    grams = df.select(F.col(id_col), word_ngrams(F.col(text_col), n).alias("grams"))
    a = grams.select(F.col(id_col).alias("id_a"), F.col("grams").alias("g_a"))
    b = grams.select(F.col(id_col).alias("id_b"), F.col("grams").alias("g_b"))
    return pairs.join(a, "id_a").join(b, "id_b").select(
        "id_a", "id_b", F.round(jaccard(F.col("g_a"), F.col("g_b")), 6).alias("jaccard")
    )


# -- edit-distance verification ----------------------------------------------
#
# Character-level Levenshtein is the highest-precision near-dup verifier:
# unlike set-based Jaccard it is order-sensitive and catches small in-place
# edits. It is also O(|a|·|b|) per pair, so at the 10^12-row design point it
# NEVER runs corpus-wide — it verifies candidate pairs produced by a cheap
# blocker (MinHash/SimHash banding, or `minhash_band_pairs_sql` for the
# SQL-oracle path). Two scale guards keep the quadratic kernel bounded:
# a length-gap prefilter (|la-lb| > (1-t)·max ⇒ sim < t, pair is dropped
# before the DP ever runs) and Spark's banded-DP bounded levenshtein
# (distance > bound short-circuits to -1 in O(bound·min_len)). All JVM-side.


def edit_similarity(a: Column, b: Column) -> Column:
    """Character edit similarity ``1 - levenshtein(a,b) / max(|a|,|b|)``
    (1.0 = identical, 0.0 = totally dissimilar). Pure Column expression —
    whole-stage-codegen'd, and exactly reproducible in ANSI SQL."""
    m = F.greatest(F.length(a), F.length(b))
    return F.when(m == F.lit(0), F.lit(1.0)).otherwise(
        F.lit(1.0) - F.levenshtein(a, b) / m
    )


def edit_verified_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.8,
) -> DataFrame:
    """Verify candidate ``(id_a, id_b)`` pairs by character edit
    similarity; keep pairs with similarity >= ``threshold``.

    This is the precision stage of a dedup cascade: feed it candidates
    from `lsh_candidate_pairs` / `simhash128_buckets` (or any blocker).
    The corpus is semi-join-pruned to documents that appear in some
    candidate pair before texts are shuffled, the length-gap prefilter
    eliminates hopeless pairs before the O(n·m) distance, and the
    distance itself is the banded bounded form (per-pair bound
    ``floor((1-t)·max_len)``) so a far-apart pair costs O(bound·min_len),
    not O(n·m).
    """
    ids_a = pairs.select(F.col("id_a").alias(id_col))
    ids_b = pairs.select(F.col("id_b").alias(id_col))
    used = ids_a.union(ids_b).distinct()
    texts = df.join(used, on=id_col, how="semi").select(
        F.col(id_col), F.col(text_col).alias("_t"), F.length(text_col).alias("_l")
    )
    a = texts.select(
        F.col(id_col).alias("id_a"), F.col("_t").alias("_ta"), F.col("_l").alias("_la")
    )
    b = texts.select(
        F.col(id_col).alias("id_b"), F.col("_t").alias("_tb"), F.col("_l").alias("_lb")
    )
    j = pairs.join(a, "id_a").join(b, "id_b")
    m = F.greatest("_la", "_lb")
    bound = F.floor((1.0 - threshold) * m).cast("int")
    j = j.where(F.abs(F.col("_la") - F.col("_lb")) <= bound)
    # per-pair banded DP: levenshtein's third argument is an expression in
    # Catalyst (the python wrapper only accepts a static int), so build it
    # via expr; -1 means "bound exceeded" and is filtered with the
    # threshold predicate below.
    dist = F.expr(
        "levenshtein(_ta, _tb, cast(floor((1.0 - {t}) * greatest(_la, _lb)) as int))".format(
            t=float(threshold)
        )
    )
    sim = F.when(m == F.lit(0), F.lit(1.0)).otherwise(F.lit(1.0) - dist / m)
    return (
        j.select(
            "id_a",
            "id_b",
            dist.alias("edit_distance"),
            F.round(sim, 6).alias("edit_similarity"),
        )
        .where((F.col("edit_distance") >= 0) & (F.col("edit_similarity") >= threshold))
    )


def minhash_band_pairs_sql(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    n_bands: int = 3,
) -> DataFrame:
    """Candidate ``(id_a, id_b)`` pairs from an md5-based 1-permutation-
    per-band MinHash blocker — the SQL-ORACLE-PORTABLE sibling of the
    xxhash `lsh_candidate_pairs` path. Per band: the min md5 of salted
    word ``n``-grams; two docs collide in a band with probability equal
    to their gram Jaccard, so a near-dup at J misses all bands with
    probability (1-J)^n_bands (~1e-3 at J=0.9, bands=3). One equi-join
    per the exploded (band, key) rows — the same `band_pairs` join as
    production LSH banding. Content blocking beats length blocking by
    orders of magnitude here: measured 1.3k candidates vs 1.2M from
    16-char length buckets on the 5k-doc sf0.1 corpus. Production cascades
    still prefer `minhash_near_duplicates` (whole-batch xxhash kernels,
    more permutations); this blocker exists so the full
    block->verify cascade can be value-checked against ANSI SQL."""
    grams = df.select(
        F.col(id_col), word_ngrams(F.col(text_col), n).alias("_grams")
    ).where(F.size("_grams") > 0)
    bands = [
        F.struct(
            F.lit(s).alias("salt"),
            F.array_min(
                F.transform("_grams", lambda g: F.md5(F.concat(F.lit(f"{s}|"), g)))
            ).alias("k"),
        )
        for s in range(n_bands)
    ]
    long = grams.select(F.col(id_col), F.explode(F.array(*bands)).alias("b")).select(
        F.col(id_col), F.col("b.salt").alias("_salt"), F.col("b.k").alias("_k")
    )
    return band_pairs(long, id_col, ["_salt", "_k"])


# -- SimHash ----------------------------------------------------------------


def _dedup_segments(
    hashes: np.ndarray, starts: np.ndarray, seg_lens: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per-segment distinct, fully vectorized: one lexsort of
    (segment, hash) pairs, then a run-boundary mask. Returns the same
    (hashes, starts, seg_lens) contract with duplicates removed within
    each segment (shingle SETS — what simhash votes over)."""
    if not hashes.size:
        return hashes, starts, np.zeros_like(seg_lens)
    seg_ids = np.repeat(np.arange(len(starts), dtype=np.int64), seg_lens)
    order = np.lexsort((hashes, seg_ids))
    sh, ss = hashes[order], seg_ids[order]
    keep = np.ones(len(sh), dtype=bool)
    keep[1:] = (sh[1:] != sh[:-1]) | (ss[1:] != ss[:-1])
    uh, us = sh[keep], ss[keep]
    useg_lens = np.bincount(us, minlength=len(starts)).astype(np.int64)
    ustarts = np.zeros(len(starts), dtype=np.int64)
    if len(starts) > 1:
        ustarts[1:] = np.cumsum(useg_lens)[:-1]
    return uh, ustarts, useg_lens


def _simhash_batch(hashes: np.ndarray, starts: np.ndarray, seg_lens: np.ndarray) -> np.ndarray:
    """Segmented 64-bit SimHash over a compacted hash buffer: per-bit
    set counts via 64 vectorized shift+reduceat passes (bounded memory —
    one M-length temp per bit, never an M x 64 matrix), then a majority
    vote packed back into int64. Zero per-row Python."""
    nd = len(starts)
    out = np.zeros(nd, dtype=np.int64)
    nz = seg_lens > 0
    if not hashes.size or not nz.any():
        return out
    red_starts = starts[nz]
    counts = np.empty((len(red_starts), 64), dtype=np.int64)
    for j in range(64):
        bit = ((hashes >> np.uint64(j)) & np.uint64(1)).astype(np.int64)
        counts[:, j] = np.add.reduceat(bit, red_starts)
    maj = (counts * 2 > seg_lens[nz][:, None]).astype(np.uint64)
    shifts = np.arange(64, dtype=np.uint64)
    out[nz] = (maj << shifts[None, :]).sum(axis=1, dtype=np.uint64).astype(np.int64)
    return out


# second independent hash family for the 128-bit fingerprint: re-mix the
# (already mixed) window hash with a fixed odd salt — same construction
# as the minhash permutations
_SIMHASH_SALT_B = np.uint64(0xA5A5A5A5A5A5A5A5)


@F.pandas_udf(T.ArrayType(T.LongType()))
def _simhash128_text_udf(text: pd.Series) -> pd.Series:
    """text → [hi, lo] pair of independent 64-bit SimHashes (a 128-bit
    fingerprint). Needed for wide Hamming radii: pigeonhole banding with
    k+1 chunks keeps chunks >= floor(128/(k+1)) bits, so radius 8 still
    gets 14-bit chunks (vs 7-bit on a 64-bit fingerprint — a candidate
    explosion at corpus scale). A document with no shingles gets a null
    pair, so it never joins a band."""
    hashes, starts, seg_lens = _dedup_segments(*_pack_batch(_norm_texts(text), 4))
    a = _simhash_batch(hashes, starts, seg_lens)
    b = _simhash_batch(_mix64(hashes ^ _SIMHASH_SALT_B), starts, seg_lens)
    return pd.Series(
        [np.array([x, y], dtype=np.int64) if n else None for x, y, n in zip(a, b, seg_lens)]
    )


def with_simhash128(
    df: DataFrame, text_col: str = "text", out: tuple[str, str] = ("simhash_a", "simhash_b")
) -> DataFrame:
    pair = _simhash128_text_udf(F.col(text_col))
    df = df.withColumn("_sh128", pair)
    return (
        df.withColumn(out[0], F.col("_sh128").getItem(0))
        .withColumn(out[1], F.col("_sh128").getItem(1))
        .drop("_sh128")
    )


def _simhash128_chunk_cols(cols: tuple[str, str], n_chunks: int) -> list[Column]:
    """The ``n_chunks`` disjoint bit-chunk Columns of the 128-bit
    fingerprint (as-equal-as-possible widths; chunks may straddle the
    two 64-bit words)."""
    a, b = F.col(cols[0]), F.col(cols[1])
    base_w, extra = divmod(128, n_chunks)
    out, off = [], 0
    for c in range(n_chunks):
        w = base_w + (1 if c < extra else 0)
        if off + w <= 64:
            chunk = F.shiftrightunsigned(a, off)
        elif off >= 64:
            chunk = F.shiftrightunsigned(b, off - 64)
        else:
            # chunk straddles the word boundary: low bits from word a,
            # high bits from word b
            chunk = F.shiftrightunsigned(a, off).bitwiseOR(F.shiftleft(b, 64 - off))
        if w < 64:
            chunk = chunk.bitwiseAND(F.lit((1 << w) - 1).cast("long"))
        out.append(chunk)
        off += w
    return out


def simhash128_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    cols: tuple[str, str] = ("simhash_a", "simhash_b"),
    max_hamming: int = 8,
    require_chunks: int = 1,
) -> DataFrame:
    """(id, fp_a, fp_b, chunk_id, chunk) exploded banding rows for the
    128-bit fingerprint — the join keys of `simhash128_near_duplicates`,
    exposed so scale benches can measure per-bucket candidate counts.

    GENERALIZED PIGEONHOLE (multi-index hashing): with
    ``c = max_hamming + require_chunks`` disjoint chunks, at most
    ``max_hamming`` chunks can be touched by ≤ max_hamming differing
    bits, so ≥ ``require_chunks`` chunks survive untouched — any pair
    within the radius shares at least one ``require_chunks``-sized
    chunk COMBINATION exactly. require_chunks=2 doubles the effective
    key width (e.g. radius 12 → 14 chunks of ~9 bits but ~18-bit pair
    keys), trading C(c,2) exploded rows per doc for a 2^9-fold drop in
    random collisions — the knob that keeps WIDE radii scale-safe."""
    import itertools

    n_chunks = max_hamming + require_chunks
    if require_chunks < 1:
        raise ValueError("require_chunks must be >= 1")
    if n_chunks > 16:
        raise ValueError(
            f"max_hamming={max_hamming} with require_chunks={require_chunks}: "
            "128-bit banding below 8-bit chunks loses candidate-count "
            "control; raise require_chunks' key width no further — split "
            "the corpus or tighten the radius instead"
        )
    chunk_cols = _simhash128_chunk_cols(cols, n_chunks)
    a, b = F.col(cols[0]), F.col(cols[1])
    if require_chunks == 1:
        parts = [
            F.struct(F.lit(c).alias("chunk_id"), chunk_cols[c].alias("chunk"))
            for c in range(n_chunks)
        ]
        chunks = F.array(*parts)
        return df.select(
            F.col(id_col), a.alias("fp_a"), b.alias("fp_b"), F.explode(chunks).alias("c")
        ).select(id_col, "fp_a", "fp_b", "c.chunk_id", "c.chunk")
    # one composite key per chunk COMBINATION, packed to one long with
    # xxhash64. The combination table is a DATA literal (one ArrayType
    # Literal via F.lit), NOT C(c,m) generated struct expressions: at
    # C(16,3)=560 combos the expression form exceeded the JVM's 64 KB
    # codegen method limit and fell back to interpreted row generation
    # (measured in bench_audio_dedup_scale; BASELINE.md r5). Here the
    # per-row generated code is constant-size — build the c chunk
    # values once, posexplode the literal, hash m element_at lookups.
    combos = [
        list(combo)
        for combo in itertools.combinations(range(n_chunks), require_chunks)
    ]
    ex = df.select(
        F.col(id_col),
        a.alias("fp_a"),
        b.alias("fp_b"),
        F.array(*chunk_cols).alias("_chunks"),
        # a null fingerprint gets no combination rows: xxhash64 of its
        # all-null chunks would be one constant key
        F.posexplode(F.when(a.isNotNull() & b.isNotNull(), F.lit(combos))).alias(
            "chunk_id", "_combo"
        ),
    )
    key = F.xxhash64(
        *[
            F.element_at(F.col("_chunks"), F.col("_combo")[i] + 1)
            for i in range(require_chunks)
        ]
    )
    return ex.select(
        id_col, "fp_a", "fp_b", "chunk_id", key.alias("chunk")
    )


def simhash128_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    cols: tuple[str, str] = ("simhash_a", "simhash_b"),
    max_hamming: int = 8,
    require_chunks: int = 1,
) -> DataFrame:
    """Near-dup pairs by Hamming distance ≤ k over a 128-bit SimHash
    fingerprint (two independent 64-bit words, `with_simhash128`).
    Banding k+require_chunks disjoint chunks over 128 bits; a pair
    within the radius ALWAYS shares an untouched chunk combination
    (generalized pigeonhole — see simhash128_buckets), so recall of the
    stated contract is 1.0 by construction. Hamming distance is
    bit_count(xor hi) + bit_count(xor lo); verification is exact.

    CALIBRATION: expected Hamming distance scales with fingerprint
    width (E[d] = B·acos(cos_sim)/π), so a radius on 128 bits is ~2x
    tighter in similarity than the same radius on 64 bits — use
    k128 ≈ 2·k64 for equivalent semantics.

    SCALE BOUND: candidates grow ~n²·C(c,m)/2^(m·w) for c = k+m chunks
    of w = 128/c bits. k ≤ 8 with m=1 keeps w ≥ 14 (tractable); WIDER
    radii need m=2 (e.g. k=12, m=2 → 14 chunks, ~18-bit pair keys).
    Raises when w would drop below 8 bits."""
    buckets = simhash128_buckets(
        df, id_col=id_col, cols=cols, max_hamming=max_hamming, require_chunks=require_chunks
    )
    hamming = F.bit_count(F.col("l.fp_a").bitwiseXOR(F.col("r.fp_a"))) + F.bit_count(
        F.col("l.fp_b").bitwiseXOR(F.col("r.fp_b"))
    )
    return band_pairs(buckets, id_col, ["chunk_id", "chunk"], hamming.alias("hamming")).where(
        F.col("hamming") <= max_hamming
    )
