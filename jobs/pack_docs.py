#!/usr/bin/env python
"""spark-submit entry point for the resumable TOKENIZE → PACK job:
documents → token ids → fixed-length training sequences → committed
parquet. The third end-to-end job (after validate_clips and
curate_docs), composing only tested operators.

Cluster launch:

    zip -r jschon_spark.zip jschon_spark
    spark-submit --master <cluster> --py-files jschon_spark.zip \
        jobs/pack_docs.py \
        --docs s3://bucket/curated --out s3://bucket/packed \
        --manifest s3://bucket/pack_manifest --budget 2048 --buckets 256

Pipeline:

1. Tokenize. ``--tokenizer hash`` (default) uses the SQL-portable
   md5-derived ids (operators/sequences.hash_token_ids — externally
   verifiable); ``--tokenizer bpe`` learns ``--bpe-merges`` merges on
   the corpus (operators/bpe.learn_bpe), encodes with the rank-table
   Arrow UDF, and maps tokens to frequency-ranked vocabulary ids.
2. Pack. ``operators/sequences.assemble_sequences`` concat-and-chops
   each hash bucket's token stream into ``--budget``-length
   ``input_ids`` rows — ONE exchange for the whole job.
3. Commit. Sequences land under --out tagged with this run's run_id;
   one manifest row per BUCKET appends afterwards (the commit point,
   the same protocol as validate_clips.py), counting the sequences
   this run wrote.

Resume is BUCKET-grained and exact: a bucket's stream is a pure
function of the documents that hash into it, and the bucket is
computable at the scan from doc_id alone, so filtering the input to
pending buckets reproduces exactly a full run's sequences for them.
`manifest.read_committed(..., partition_col="bucket")` gives readers
exactly-once visibility over at-least-once writes.

Caveat shared with the other jobs: a LEARNED tokenizer is corpus-global
— on resume, pass --bpe-merges-path (a merges list saved by the first
run) so a partial rerun applies the same tokenizer instead of
re-learning on the pending subset.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="Tokenize and pack documents into training sequences")
    p.add_argument("--docs", required=True, help="documents parquet path (needs doc_id, text)")
    p.add_argument("--out", required=True, help="output directory for packed sequences")
    p.add_argument("--manifest", default=None, help="checkpoint manifest path (enables resume)")
    p.add_argument("--run-id", default=None)
    p.add_argument("--budget", type=int, default=2048, help="tokens per training sequence")
    p.add_argument("--buckets", type=int, default=64, help="hash buckets (parallelism + resume unit)")
    p.add_argument("--salt", default="pack-v1")
    p.add_argument("--pad-id", type=int, default=None)
    p.add_argument("--tokenizer", choices=["hash", "bpe"], default="hash")
    p.add_argument("--bpe-merges", type=int, default=24)
    p.add_argument("--bpe-merges-path", default=None,
                   help="JSON merges list from a prior run (tokenizer stability across resumes)")
    return p.parse_args(argv)


def tokenize(spark, docs, args):
    """(doc_id, token_ids) per the chosen tokenizer. Importable for tests."""
    from pyspark.sql import functions as F

    from jschon_spark.operators import sequences

    if args.tokenizer == "hash":
        return docs.select(
            "doc_id", sequences.hash_token_ids(F.col("text")).alias("token_ids")
        )
    from jschon_spark.operators import bpe

    if args.bpe_merges_path:
        with open(args.bpe_merges_path) as fh:
            merges = [tuple(m) for m in json.load(fh)]
        wf = None
    else:
        merges, wf = bpe.learn_bpe(docs, n_merges=args.bpe_merges)
    encoded = bpe.encode_text(docs, merges)
    # frequency-ranked vocabulary ids (0 = UNK), deterministic ties by token
    vocab_rows = (
        bpe.bpe_vocab(wf)
        if wf is not None
        else bpe.bpe_vocab(
            encoded.select(F.col("bpe_tokens").alias("syms"), F.lit(1).alias("freq"))
        )
    ).orderBy(F.desc("freq"), F.asc("token")).collect()
    vocab = {r["token"]: i + 1 for i, r in enumerate(vocab_rows)}
    if wf is not None:
        wf.unpersist()
    ids = sequences.vocab_ids_udf(vocab, unk_id=0)
    return encoded.select("doc_id", ids(F.col("bpe_tokens")).alias("token_ids"))


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from jschon_spark import manifest as mf
    from jschon_spark import pipeline as pl
    from jschon_spark.operators import sequences
    from jschon_spark.operators.packing import _bucket

    spark = SparkSession.builder.appName("jschon_spark_pack_docs").getOrCreate()
    docs = spark.read.parquet(args.docs)

    # the bucket IS the manifest partition key, and it's computable at
    # the scan — resume never shuffles committed work
    docs = docs.withColumn("_bucket", _bucket(F.col("doc_id"), args.buckets, args.salt))

    if args.manifest:
        frontier = spark.range(args.buckets).select(F.col("id").cast("int").alias("part_id"))
        docs, frontier, n = pl.resume_pending(spark, docs, args.manifest, "_bucket", frontier)
        if n == 0:
            print("pack_docs: manifest complete, nothing to do")
            return 0
        print(f"pack_docs: processing {n} pending buckets")

    run_id = args.run_id or mf.new_run_id()
    toks = tokenize(spark, docs, args)
    seqs = sequences.assemble_sequences(
        toks, budget=args.budget, n_buckets=args.buckets, salt=args.salt, pad_id=args.pad_id
    )
    pl.append_tagged(seqs, args.out, "sequences", run_id)

    if args.manifest:
        # COMMIT every pending bucket: one no document hashes into (or
        # whose docs tokenize to nothing) is done, with n_rows = 0
        written = pl.read_written(spark, args.out, "sequences", run_id)
        counts = written.groupBy(F.col("bucket").alias("part_id")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("complete").cast("long")).alias("n_valid"),
            F.lit(True).alias("partition_valid"),
        )
        pl.commit_partitions(spark, args.manifest, frontier, counts, run_id, args.docs)
    print(f"pack_docs: run {run_id} complete")
    return 0


if __name__ == "__main__":
    sys.exit(main())
