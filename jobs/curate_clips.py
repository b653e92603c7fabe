#!/usr/bin/env python
"""spark-submit entry point for the resumable audio-curation job:
conditioning → quality gates → perceptual dedup → committed output.

Cluster launch (same shape as validate_clips.py):

    zip -r jschon_spark.zip jschon_spark
    spark-submit --master <cluster> --py-files jschon_spark.zip \
        jobs/curate_clips.py \
        --clips s3://bucket/clips --out s3://bucket/curated \
        --manifest s3://bucket/curation_manifest

Pipeline (each stage is one of the tested operators):

1. ``conditioning.condition_clips`` — canonicalize every decodable clip
   to --target-sr / --target-dbfs pcm_s16le (one zero-copy payload
   rewrite; this is the job's only payload-sized transform).
2. ``features.with_audio_features`` + ``audio_quality_flags`` — real
   DSP features and the curation gates, computed on the CONDITIONED
   audio with the payload riding along (keep_bytes) so survivors never
   re-decode.
3. ``fingerprint.with_audio_fingerprint`` + the generalized-pigeonhole
   Hamming banding — perceptual near-dup pairs over the gated
   survivors, clustered to canonical clips via distributed connected
   components (``graph.dedup_by_components``: transitive closure, not
   just pairwise drops). Only (id, fp) metadata enters the banded join;
   payloads shuffle exactly once, in the final anti-join by id.
4. Curated clips land under --out tagged with this run's run_id, then
   the per-partition manifest rows commit — the same protocol as
   validate_clips.py. A row counts the partition's processed input
   clips (n_rows) and the survivors this run wrote (n_valid).

Dedup note for resume: near-dup detection runs over each run's PENDING
rows (corpus-global within a run), so a rerun after a crash misses dup
pairs that straddle a commit boundary. Full-corpus dedup is a batch
pass over the curated table with the same operators.
"""

from __future__ import annotations

import argparse
import sys


def parse_args(argv):
    p = argparse.ArgumentParser(description="Condition, gate, and dedup an audio clips table")
    p.add_argument("--clips", required=True, help="clips parquet path (partitioned by part_id)")
    p.add_argument("--out", required=True, help="output directory for curated clips parquet")
    p.add_argument("--manifest", default=None, help="checkpoint manifest path (enables resume)")
    p.add_argument("--run-id", default=None)
    p.add_argument("--target-sr", type=int, default=16000)
    p.add_argument("--target-dbfs", type=float, default=-20.0)
    p.add_argument("--max-hamming", type=int, default=14, help="near-dup fingerprint radius")
    p.add_argument("--no-dedup", action="store_true")
    p.add_argument("--loudness-gate", action="store_true",
                   help="add BS.1770 integrated-loudness / true-peak gates")
    p.add_argument("--min-lufs", type=float, default=-45.0)
    p.add_argument("--max-lufs", type=float, default=-5.0)
    p.add_argument("--ref-transcripts", default=None,
                   help="parquet of (clip_id, transcript) second-source transcripts; enables the WER gate")
    p.add_argument("--max-wer", type=float, default=0.3)
    p.add_argument("--partition-col", default="part_id")
    p.add_argument("--provenance", action="store_true",
                   help="also write container metadata (headers-only, audio/metadata.py) "
                        "for EVERY input clip — including gated-out ones — to <out>/provenance")
    return p.parse_args(argv)


def curate(spark, clips, target_sr=16000, target_dbfs=-20.0, max_hamming=14,
           dedup=True, loudness=False, min_lufs=-45.0, max_lufs=-5.0,
           ref_transcripts=None, max_wer=0.3):
    """The curation plan (importable for tests): returns
    (curated DataFrame incl. conditioned ``bytes``, stats dict).
    ``loudness=True`` inserts the BS.1770 program-loudness gates
    (audio/loudness.py) after conditioning — one extra map-only decode
    pass, so it is opt-in."""
    from pyspark.sql import functions as F

    from jschon_spark.audio.conditioning import condition_clips
    from jschon_spark.audio.features import audio_quality_flags, with_audio_features
    from jschon_spark.audio.fingerprint import with_audio_fingerprint
    from jschon_spark.operators.dedup import simhash128_near_duplicates
    from jschon_spark.operators.graph import dedup_by_components

    if ref_transcripts is not None:
        # transcript-agreement QA (operators/transcripts.py): join the
        # second source by clip_id (broadcast vs sort-merge is the
        # usual cardinality-driven choice), WER-gate BEFORE any
        # payload-sized work so disagreeing clips never cost a decode
        from jschon_spark.operators.transcripts import transcript_agreement_gate

        refs = ref_transcripts.select(
            "clip_id", F.col("transcript").alias("ref_transcript")
        )
        clips = transcript_agreement_gate(
            clips.join(refs, "clip_id", "left"), max_wer=max_wer
        ).where(F.col("keep_transcript")).drop("ref_transcript")
    cond = condition_clips(clips, target_sr=target_sr, target_rms_dbfs=target_dbfs)
    keep = F.col("conditioned_ok") & F.col("keep")
    if loudness:
        from jschon_spark.audio.loudness import loudness_gate, with_loudness

        cond = loudness_gate(
            with_loudness(cond, keep_bytes=True),
            min_lufs=min_lufs, max_lufs=max_lufs,
        )
        keep = keep & F.col("keep_loudness")
    gated = audio_quality_flags(with_audio_features(cond, keep_bytes=True))
    kept = gated.where(keep)

    if not dedup:
        return kept, {}

    fp = with_audio_fingerprint(kept, keep_bytes=True).where(F.col("fingerprint_ok"))
    # the banded join sees only (id, fp) metadata; transitive clusters
    # collapse to their min-id canonical via connected components
    pairs = simhash128_near_duplicates(
        fp.select("clip_id", "audio_fp_a", "audio_fp_b"),
        id_col="clip_id",
        cols=("audio_fp_a", "audio_fp_b"),
        max_hamming=max_hamming,
        require_chunks=2,
    ).select("id_a", "id_b")
    curated = dedup_by_components(
        fp.drop("audio_fp_a", "audio_fp_b", "fingerprint_ok", "n_subfp"),
        pairs,
        id_col="clip_id",
        src="id_a",
        dst="id_b",
    )
    return curated, {"dedup_pairs": pairs}


def main(argv=None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from jschon_spark import manifest as mf
    from jschon_spark import pipeline as pl

    spark = SparkSession.builder.appName("jschon_spark_curate_clips").getOrCreate()
    clips = spark.read.parquet(args.clips)

    if args.manifest:
        clips, frontier, n = pl.resume_pending(spark, clips, args.manifest, args.partition_col)
        if n == 0:
            print("curate_clips: manifest complete, nothing to do")
            return 0
        print(f"curate_clips: processing {n} pending partitions")

    run_id = args.run_id or mf.new_run_id()
    if args.provenance:
        # provenance of EVERY processed clip, captured BEFORE any gate
        # (the audit value is exactly the clips that were dropped);
        # headers-only reads, metadata-sized output, same run_id so
        # read_committed gives the same exactly-once view over it
        from jschon_spark.audio.metadata import with_audio_metadata

        prov = with_audio_metadata(
            clips.select("clip_id", args.partition_col, "bytes")
        ).drop("bytes")
        pl.append_tagged(prov, args.out, "provenance", run_id)
    refs = spark.read.parquet(args.ref_transcripts) if args.ref_transcripts else None
    curated, _ = curate(
        spark, clips, target_sr=args.target_sr, target_dbfs=args.target_dbfs,
        max_hamming=args.max_hamming, dedup=not args.no_dedup,
        loudness=args.loudness_gate, min_lufs=args.min_lufs, max_lufs=args.max_lufs,
        ref_transcripts=refs, max_wer=args.max_wer,
    )
    pl.append_tagged(curated, args.out, "curated", run_id)

    if args.manifest:
        # COMMIT: n_rows counts the PROCESSED input (a fully-gated-out
        # partition still commits), n_valid the survivors this run wrote
        key = F.col(args.partition_col).alias("part_id")
        processed = clips.groupBy(key).agg(F.count(F.lit(1)).alias("n_rows"))
        written = pl.read_written(spark, args.out, "curated", run_id)
        surv = written.groupBy(key).agg(F.count(F.lit(1)).alias("n_valid"))
        counts = processed.join(surv, "part_id", "left")
        pl.commit_partitions(spark, args.manifest, frontier, counts, run_id, args.clips)
    print(f"curate_clips: run {run_id} complete")
    return 0


if __name__ == "__main__":
    sys.exit(main())
