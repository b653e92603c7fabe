#!/usr/bin/env python
"""spark-submit entry point for the resumable TEXT-curation job:
PII scrub → quality/language/repetition gates → normalized exact dedup
→ edit-verified near-dup clustering → committed output. The text-side
sibling of curate_clips.py, composing only tested operators.

Cluster launch:

    zip -r jschon_spark.zip jschon_spark
    spark-submit --master <cluster> --py-files jschon_spark.zip \
        jobs/curate_docs.py \
        --docs s3://bucket/documents --out s3://bucket/curated \
        --manifest s3://bucket/curation_manifest

Pipeline (each stage is one of the tested operators):

1. ``text.with_pii_scrub`` — emails / IPv4s / phone runs replaced with
   typed tokens; the scrubbed text is what every later stage (and the
   output) sees. Pure codegen'd regexp chain.
2. ``text.with_quality_score`` + ``with_lang_id`` +
   ``with_repetition_signals`` — the curation gates, one staged
   projection (the repetition gate references named signal columns, so
   nothing is computed twice).
3. ``text.normalized_dedup`` — case/punct/whitespace duplicates
   collapse to the min-id representative (one 16-byte-key shuffle).
4. ``dedup.minhash_band_pairs_sql`` → ``dedup.edit_verified_pairs`` →
   ``graph.dedup_by_components`` — content-blocked candidates,
   character-Levenshtein verification (length prefilter + banded DP),
   transitive clusters collapsed to canonical docs. Only (id, key)
   metadata enters the banded join; document text shuffles once, in
   the final anti-join by id.
5. Curated docs land under --out tagged with this run's run_id, then
   the per-partition manifest rows commit — the same protocol as
   validate_clips.py. A row counts the partition's processed input
   docs (n_rows) and the survivors this run wrote (n_valid).

Same resume caveat as curate_clips.py: near-dup detection is
corpus-global within a run; cross-run duplicates straddle commit
boundaries and are handled by a batch pass over the curated table.
"""

from __future__ import annotations

import argparse
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="Scrub, gate, and dedup a documents table")
    p.add_argument("--docs", required=True, help="documents parquet path")
    p.add_argument("--out", required=True, help="output directory for curated docs parquet")
    p.add_argument("--manifest", default=None, help="checkpoint manifest path (enables resume)")
    p.add_argument("--run-id", default=None)
    p.add_argument("--min-quality", type=float, default=0.3)
    p.add_argument("--langs", default="en", help="comma-separated keep languages")
    p.add_argument("--edit-threshold", type=float, default=0.8)
    p.add_argument("--no-dedup", action="store_true")
    p.add_argument("--partition-col", default="source")
    return p.parse_args(argv)


def curate(
    spark,
    docs,
    min_quality: float = 0.3,
    langs: tuple = ("en",),
    edit_threshold: float = 0.8,
    dedup: bool = True,
):
    """The curation plan (importable for tests): returns
    (curated DataFrame with scrubbed text + signals, stats dict)."""
    from pyspark.sql import functions as F

    from jschon_spark.operators.dedup import edit_verified_pairs, minhash_band_pairs_sql
    from jschon_spark.operators.graph import dedup_by_components
    from jschon_spark.operators.text import (
        normalized_dedup,
        with_lang_id,
        with_pii_scrub,
        with_quality_score,
        with_repetition_signals,
    )

    scrubbed = with_pii_scrub(docs).drop("text").withColumnRenamed("scrubbed_text", "text")
    staged = with_repetition_signals(
        with_quality_score(with_lang_id(scrubbed))
    )
    kept = staged.where(
        (F.col("quality_score") >= min_quality)
        & F.col("lang_pred").isin(*langs)
        & F.col("repetition_ok")
    )

    exact = normalized_dedup(kept)
    if not dedup:
        return exact, {}

    cand = minhash_band_pairs_sql(exact, n=4, n_bands=3)
    pairs = edit_verified_pairs(exact, cand, threshold=edit_threshold).select("id_a", "id_b")
    curated = dedup_by_components(exact, pairs, id_col="doc_id", src="id_a", dst="id_b")
    return curated, {"dedup_pairs": pairs}


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from jschon_spark import manifest as mf
    from jschon_spark import pipeline as pl

    spark = SparkSession.builder.appName("jschon_spark_curate_docs").getOrCreate()
    docs = spark.read.parquet(args.docs)

    # The manifest keys partitions by an int part_id, and a documents
    # table partitions by a STRING column (source): derive a stable int
    # key from it, as an Iceberg-bucket transform does. Collisions only
    # coarsen resume granularity (the sources commit together).
    part_key = F.pmod(F.xxhash64(args.partition_col), F.lit(1 << 31)).cast("int")
    docs = docs.withColumn("_part_id", part_key)

    if args.manifest:
        docs, frontier, n = pl.resume_pending(spark, docs, args.manifest, "_part_id")
        if n == 0:
            print("curate_docs: manifest complete, nothing to do")
            return 0
        print(f"curate_docs: processing {n} pending partitions")

    run_id = args.run_id or mf.new_run_id()
    curated, _ = curate(
        spark, docs, min_quality=args.min_quality, langs=tuple(args.langs.split(",")),
        edit_threshold=args.edit_threshold, dedup=not args.no_dedup,
    )
    pl.append_tagged(curated, args.out, "curated", run_id)

    if args.manifest:
        # COMMIT: n_rows counts the PROCESSED input (a fully-gated-out
        # partition still commits), n_valid the survivors this run wrote
        key = F.col("_part_id").alias("part_id")
        processed = docs.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
        written = pl.read_written(spark, args.out, "curated", run_id)
        surv = written.groupBy(key).agg(F.count(F.lit(1)).alias("n_valid"))
        counts = processed.join(surv, "part_id", "left")
        pl.commit_partitions(spark, args.manifest, frontier, counts, run_id, args.docs)
    print(f"curate_docs: run {run_id} complete")
    return 0


if __name__ == "__main__":
    sys.exit(main())
