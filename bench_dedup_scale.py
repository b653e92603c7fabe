#!/usr/bin/env python
"""Near-dup dedup throughput at a 10x corpus (BASELINE.md evidence).

Generates a deterministic 50k-document corpus JVM-side (hash-indexed
words from a 5k-word vocabulary, so cross-document similarity is
negligible) with 1,000 PLANTED near-duplicate pairs (doc 50k+1 copies
its predecessor with the last word changed), then times the full
MinHash-LSH and 128-bit SimHash pipelines and reports recall of the
planted pairs. Usage: python bench_dedup_scale.py [n_docs] — prints one JSON
line.
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def gen_docs(spark, n_docs: int, words_per_doc: int = 120, vocab: int = 5000):
    from pyspark.sql import functions as F

    base = spark.range(n_docs).select(F.col("id").alias("doc_id"))
    # planted pairs: doc_id % 50 == 1 reuses doc_id-1's word stream,
    # differing only in the final word
    src = F.when(F.col("doc_id") % 50 == 1, F.col("doc_id") - 1).otherwise(F.col("doc_id"))
    is_variant = F.col("doc_id") % 50 == 1
    words = F.transform(
        F.sequence(F.lit(1), F.lit(words_per_doc)),
        lambda i: F.concat(
            F.lit("w"),
            (F.abs(F.xxhash64(src * 1000 + i.cast("long"))) % vocab).cast("string"),
        ),
    )
    # variant: swap the last word for a doc-unique token
    words = F.when(
        is_variant,
        F.concat(F.slice(words, 1, words_per_doc - 1), F.array(F.concat(F.lit("v"), F.col("doc_id").cast("string")))),
    ).otherwise(words)
    return base.select("doc_id", F.concat_ws(" ", words).alias("text"))


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    from pyspark.sql import functions as F

    from jschon_spark.operators import dedup
    from jschon_spark.session import get_session

    # LSH knobs MUST scale with the corpus (the r5 1M rung lesson: the
    # 50k-tuned defaults — 4 minhash rows/band, radius-12 128-bit pair
    # keys — go quadratic in candidates at 1M and spilled 44 GB before
    # failing). Env overrides let the ladder state each rung's
    # correctly-sized parameters explicitly:
    #   BENCH_NPERM/BENCH_BANDS  minhash signature width / band count
    #   BENCH_R128/BENCH_RC      simhash128 radius / require_chunks
    n_perm = int(os.environ.get("BENCH_NPERM", "16"))
    bands = int(os.environ.get("BENCH_BANDS", "4"))
    r128 = int(os.environ.get("BENCH_R128", "12"))
    rc128 = int(os.environ.get("BENCH_RC", "2"))

    spark = get_session(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    spark.sparkContext.setLogLevel("ERROR")

    path = os.path.join(REPO, ".bench_data", f"docs_{n_docs}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        gen_docs(spark, n_docs).repartition(16).write.mode("overwrite").parquet(path)
    docs = spark.read.parquet(path)
    planted = n_docs // 50  # one pair per 50 docs

    # warmup (python-worker spawn)
    docs.select(dedup.minhash_udf(16, 5)(F.col("text")).alias("m")).write.format(
        "noop"
    ).mode("overwrite").save()

    t0 = time.perf_counter()
    mh = dedup.minhash_near_duplicates(docs, threshold=0.8, n_perm=n_perm, bands=bands)
    mh_pairs = mh.collect()
    mh_sec = time.perf_counter() - t0
    mh_planted = sum(1 for r in mh_pairs if r.id_b == r.id_a + 1 and r.id_b % 50 == 1)

    # 128-bit fingerprint at the driver query's calibration (VERDICT r2
    # #2): radius 12 ≈ the old 64-bit radius 8 in similarity;
    # require_chunks=2 (generalized pigeonhole) keeps join keys ~18 bits
    # so CANDIDATE counts stay ~linear in n where 64-bit 7-bit chunks
    # (and plain 13-chunk banding at this width) explode. Report the
    # measured candidate count, wall time, and planted-pair recall of
    # the stated radius (1.0 expected — guaranteed by construction).
    sigs128 = dedup.with_simhash128(docs).persist()
    truth_within = (
        sigs128.alias("l")
        .join(
            sigs128.alias("r"),
            (F.col("l.doc_id") + 1 == F.col("r.doc_id")) & (F.col("r.doc_id") % 50 == 1),
        )
        .where(
            (
                F.bit_count(F.col("l.simhash_a").bitwiseXOR(F.col("r.simhash_a")))
                + F.bit_count(F.col("l.simhash_b").bitwiseXOR(F.col("r.simhash_b")))
            )
            <= r128
        )
        .count()
    )
    t0 = time.perf_counter()
    buckets = dedup.simhash128_buckets(sigs128, max_hamming=r128, require_chunks=rc128)
    cand = (
        buckets.groupBy("chunk_id", "chunk")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum(F.expr("n * (n - 1) / 2")).alias("pairs"))
        .collect()[0]["pairs"]
    )
    sh128 = dedup.simhash128_near_duplicates(sigs128, max_hamming=r128, require_chunks=rc128)
    sh128_pairs = sh128.collect()
    sh128_sec = time.perf_counter() - t0
    sh128_planted = sum(1 for r in sh128_pairs if r.id_b == r.id_a + 1 and r.id_b % 50 == 1)
    sigs128.unpersist()

    print(
        json.dumps(
            {
                "metric": "near_dup_throughput_50k",
                "n_docs": n_docs,
                "planted_pairs": planted,
                "minhash": {
                    "sec": round(mh_sec, 2),
                    "docs_per_sec": round(n_docs / mh_sec, 1),
                    "pairs_found": len(mh_pairs),
                    "planted_recall": round(mh_planted / planted, 3),
                },
                "minhash_params": {"n_perm": n_perm, "bands": bands},
                "simhash128": {
                    "radius": r128,
                    "require_chunks": rc128,
                    "sec": round(sh128_sec, 2),
                    "docs_per_sec": round(n_docs / sh128_sec, 1),
                    "candidate_pairs": int(cand),
                    "candidates_per_doc": round(cand / n_docs, 2),
                    "pairs_found": len(sh128_pairs),
                    "planted_within_radius": truth_within,
                    "planted_recall_vs_64bit_contract": round(sh128_planted / planted, 3),
                    # recall of the operator's OWN contract (<= radius):
                    # guaranteed 1.0 by generalized pigeonhole
                    "contract_recall": round(sh128_planted / max(1, truth_within), 3),
                },
            }
        )
    )


if __name__ == "__main__":
    main()
