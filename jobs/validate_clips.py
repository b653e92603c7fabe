#!/usr/bin/env python
"""spark-submit entry point for the resumable clips-validation job.

Cluster launch (the north-rule shape — multi-executor, package shipped
via --py-files):

    zip -r jschon_spark.zip jschon_spark
    spark-submit --master <cluster> --py-files jschon_spark.zip \
        jobs/validate_clips.py \
        --clips s3://bucket/clips --transcripts s3://bucket/transcripts \
        --out s3://bucket/validation_out --manifest s3://bucket/manifest

Local smoke: spark-submit --master "local[4]" --py-files jschon_spark.zip ...

Behavior (the resume-and-commit protocol of every job, in `pipeline`):
partitions the manifest records are skipped (the part_id filter prunes
parquet directories), outputs land under --out tagged with the run_id,
and ONLY THEN does each partition append its manifest row, counted from
the flag rows this run wrote — the commit point. A crash before it
leaves orphan rows whose run_id never reached the manifest (the rerun
redoes those partitions); read through `manifest.read_committed` for
exactly-once visibility over these at-least-once writes.
"""

from __future__ import annotations

import argparse
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="Validate an audio clips table (jschon_spark)")
    p.add_argument("--clips", required=True, help="clips parquet path (partitioned by part_id)")
    p.add_argument("--transcripts", default=None, help="transcripts parquet path (referential check)")
    p.add_argument("--out", required=True, help="output directory for violations/flag/audio parquet")
    p.add_argument("--manifest", default=None, help="checkpoint manifest path (enables resume)")
    p.add_argument("--run-id", default=None)
    p.add_argument("--no-audio", action="store_true", help="skip the audio invariant stage")
    p.add_argument("--partition-col", default="part_id")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    from jschon_spark import manifest as mf
    from jschon_spark import pipeline as pl

    spark = SparkSession.builder.appName("jschon_spark_validate_clips").getOrCreate()
    clips = spark.read.parquet(args.clips)

    if args.manifest:
        clips, frontier, n = pl.resume_pending(spark, clips, args.manifest, args.partition_col)
        if n == 0:
            print("validate_clips: manifest complete, nothing to do")
            return 0
        print(f"validate_clips: processing {n} pending partitions")

    transcripts = spark.read.parquet(args.transcripts) if args.transcripts else None
    run_id = args.run_id or mf.new_run_id()

    out = pl.run_validation(
        spark, clips, transcripts=transcripts, audio=not args.no_audio,
        partition_col=args.partition_col,
    )

    # every output row carries the run_id; rows become visible to
    # committed readers only after the manifest commit below
    for name, key in [("violations", "violations"), ("flag", "flag"),
                      ("column_stats", "stats"), ("duplicate_clip_ids", "duplicates")]:
        pl.append_tagged(out[key], args.out, name, run_id)
    if not args.no_audio:
        pl.append_tagged(out["audio_violations"], args.out, "audio_violations", run_id)
        pl.append_tagged(out["audio_flag"], args.out, "audio_flag", run_id)
        out["audio"].unpersist()
    if transcripts is not None:
        for name in ("missing_transcripts", "orphan_transcripts", "transcript_mismatches"):
            pl.append_tagged(out[name], args.out, name, run_id)
        out["transcript_checks"].unpersist()

    if args.manifest:
        # COMMIT the flag counts this run wrote, after every output append
        flag = pl.read_written(spark, args.out, "flag", run_id)
        counts = flag.withColumnRenamed(args.partition_col, "part_id")
        pl.commit_partitions(spark, args.manifest, frontier, counts, run_id, args.clips)
    print(f"validate_clips: run {run_id} complete")
    return 0


if __name__ == "__main__":
    sys.exit(main())
