"""The flagship job: validate an audio clips table end-to-end.

One scan feeds the compiled per-row predicates (Catalyst, codegen'd) and
the flag/basic outputs; a second, column-pruned projection feeds the
Arrow audio stage; table-level checks (uniqueness, referential, drift)
run as separate jobs over the same source. Drift is the one eager stage:
a single grouping-sets aggregation bins both current-side distributions
and the KS/PSI fold over those few bins runs on the driver (SURVEY.md
§3.3 pipeline shape).

Every job in ``jobs/`` resumes and commits through this module:
``resume_pending`` keeps the partitions the checkpoint manifest has not
committed, ``append_tagged`` writes each output tagged with the run_id,
then ``commit_partitions`` appends the manifest rows (the commit point)
with counts read back from what the run wrote (``read_written``).
"""

from __future__ import annotations

from typing import Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from jschon_spark import manifest as mf
from jschon_spark.audio import with_audio_invariant
from jschon_spark.compiler import compile_schema
from jschon_spark.operators import table_checks as tc
from jschon_spark.output import basic_output, flag_summary

# The clip schema — jschon keyword semantics over the input_hint shape.
# `bytes` is opaque binary and deliberately NOT in this metadata schema:
# requiring it here would force every scan to read the audio payload.
# Its presence/decodability is asserted by the audio stage instead.
CLIP_SCHEMA = {
    "$id": "https://jschon-spark.dev/clip",
    "type": "object",
    "required": ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"],
    "properties": {
        "clip_id": {"type": "string", "pattern": "^clip-[0-9a-f]"},
        "sr_hz": {"enum": [8000, 16000, 22050, 44100, 48000]},
        "dur_ms": {"type": "integer", "minimum": 20, "maximum": 600000},
        "codec": {"enum": ["pcm_s16le", "wav", "flac", "opus"]},
        "transcript": {"type": "string", "maxLength": 4096},
    },
}

METADATA_COLS = ["clip_id", "sr_hz", "dur_ms", "codec", "transcript"]


def validate_clips_rows(clips: DataFrame, schema: Optional[dict] = None) -> DataFrame:
    """Per-row keyword validation — metadata columns only, so the scan
    never reads the audio payload (column pruning hygiene)."""
    compiled = compile_schema(schema or CLIP_SCHEMA)
    cols = [c for c in METADATA_COLS if c in clips.columns]
    return compiled.validate(clips, instance_columns=cols)


def run_validation(
    spark: SparkSession,
    clips: DataFrame,
    transcripts: Optional[DataFrame] = None,
    baseline: Optional[pd.DataFrame] = None,
    schema: Optional[dict] = None,
    audio: bool = True,
    partition_col: str = "part_id",
) -> dict:
    """Full pipeline. Returns a dict of result DataFrames + driver-side
    drift stats. Nothing is collected here except tiny aggregates."""
    meta = clips.select(*[c for c in METADATA_COLS + [partition_col] if c in clips.columns])
    validated = validate_clips_rows(meta, schema)

    out: dict = {
        "rows": validated,
        "flag": flag_summary(validated, partition_col),
        "violations": basic_output(validated, ["clip_id", partition_col]),
        "stats": tc.column_stats(meta, [c for c in meta.columns if c != partition_col]),
        # one scan + one shuffle for both histograms (grouping sets) —
        # separate groupBys would rescan the table per column
        "categorical_histograms": tc.categorical_histograms(meta, ["codec", "sr_hz"]),
        "duplicates": tc.duplicate_keys(meta, "clip_id"),
    }

    if "transcript" in meta.columns and "dur_ms" in meta.columns:
        # transcript-duration plausibility (speakingRate/articulationRate)
        # — map-only, no shuffle, rides the same metadata scan shape
        out["speaking_rate"] = tc.speaking_rate_checks(meta)

    if audio:
        # persist post-decode (bytes dropped → tiny rows) so the flag and
        # violation outputs don't each re-decode the whole audio payload;
        # caller unpersists via out["audio"].unpersist()
        audio_df = with_audio_invariant(
            clips.select("clip_id", "bytes", "sr_hz", "dur_ms", "codec", partition_col)
        ).drop("bytes").persist()
        out["audio"] = audio_df
        out["audio_flag"] = flag_summary(audio_df, partition_col, valid_col="audio_valid")
        out["audio_violations"] = basic_output(
            audio_df, ["clip_id", partition_col], violations_col="audio_violations"
        )

    if transcripts is not None:
        # all three referential checks from ONE full-outer join (both
        # sides are fact-sized at the design point — three separate
        # anti/anti/inner joins would shuffle them three times); the
        # combined frame is tiny (violating keys only) and persisted so
        # the three derived outputs are filters, not re-joins. Caller
        # unpersists via out["transcript_checks"].unpersist().
        combined = tc.transcript_checks(
            meta.select("clip_id", "transcript"), transcripts
        ).persist()
        out["transcript_checks"] = combined
        out["missing_transcripts"] = combined.where(
            F.col("check") == "missing_transcript"
        ).select(
            F.col("clip_id"),
            F.lit("/clip_id").alias("instance_path"),
            F.lit("/$ref").alias("keyword_path"),
            F.lit("$ref").alias("keyword"),
            F.lit("no matching row for clip_id").alias("error"),
        )
        out["orphan_transcripts"] = combined.where(
            F.col("check") == "orphan_transcript"
        ).select(*transcripts.columns)
        # distinct keys: duplicate clip_ids fan out in the join, but one
        # mismatching key is one violation
        out["transcript_mismatches"] = (
            combined.where(F.col("check") == "transcript_mismatch")
            .select("clip_id")
            .distinct()
        )

    if baseline is not None:
        # one grouping-sets job bins dur_ms and sr_hz; only the O(bins)
        # count rows are collected, KS/PSI fold over them on the driver
        out["drift"] = tc.drift_check_distributed(meta, baseline)

    return out


# below this many pending partitions the literal IN-list is planned as a
# static partition filter (directory pruning at plan time); above it the
# list would bloat the plan, so a broadcast semi-join (runtime DPP) is
# used instead and the partition ids are not collected to the driver
MAX_INLINE_PARTITIONS = 10_000


def select_pending(
    clips: DataFrame, pending: DataFrame, partition_col: str = "part_id"
) -> tuple[DataFrame, Optional[list], int]:
    """(pending-only clips, partition list or None, pending count).

    Small frontiers inline as an ``isin`` partition filter — statically
    pruned directories. Large frontiers (1e5 partitions at 10^12 rows)
    stay distributed: broadcast semi-join, pruned at runtime by dynamic
    partition pruning, nothing collected."""
    # one job decides both the count and the inline list for the common
    # small case; only an over-limit frontier pays a second (count) job
    rows = pending.limit(MAX_INLINE_PARTITIONS + 1).collect()
    n = len(rows)
    if n <= MAX_INLINE_PARTITIONS:
        parts = sorted(r[0] for r in rows)
        return clips.where(F.col(partition_col).isin(parts)), parts, n
    return clips.join(F.broadcast(pending), partition_col, "semi"), None, pending.count()


def resume_pending(
    spark: SparkSession, rows: DataFrame, manifest_path: str, key: str = "part_id",
    frontier: Optional[DataFrame] = None,
) -> tuple[DataFrame, DataFrame, int]:
    """(pending rows, pending frontier, pending count).

    ``key`` is the column of ``rows`` holding the partition id, aliased
    to the manifest's ``part_id``. The frontier of all partitions is the
    distinct keys of ``rows`` unless a job passes its own (``part_id``
    column; ``pack_docs``' empty hash buckets). The pending frontier is
    returned keyed ``part_id``; an inlined one as a literal of its ids, so
    the commit neither rescans the source nor starts Python workers."""
    if frontier is None:
        frontier = rows.select(F.col(key).alias("part_id")).distinct()
    pending = mf.pending_partitions(spark, manifest_path, frontier)
    rows, parts, n = select_pending(rows, pending.withColumnRenamed("part_id", key), key)
    if parts:
        pending = spark.range(1).select(F.explode(F.lit(parts)).alias("part_id"))
    return rows, pending, n


def append_tagged(df: DataFrame, out: str, name: str, run_id: str) -> None:
    """Append ``df`` to ``{out}/{name}`` tagged with the run's ``run_id``."""
    df.withColumn("run_id", F.lit(run_id)).write.mode("append").parquet(f"{out}/{name}")


def read_written(spark: SparkSession, out: str, name: str, run_id: str) -> DataFrame:
    """This run's rows of ``{out}/{name}``. A reused run_id also counts a crashed
    run's orphans, but it already breaks ``read_committed``: run_ids must be fresh."""
    return spark.read.parquet(f"{out}/{name}").where(F.col("run_id") == run_id)


def commit_partitions(
    spark: SparkSession, manifest_path: str, frontier: DataFrame, counts: DataFrame,
    run_id: str, source_path: str,
) -> None:
    """COMMIT one manifest row per pending partition. ``counts`` holds
    the job's per-partition ``part_id``, ``n_rows``, ``n_valid`` and
    optionally ``n_invalid`` (default ``n_rows - n_valid``) and
    ``partition_valid`` (default ``n_invalid == 0``). A frontier
    partition with no counts (all rows gated out, an empty bucket)
    commits with zeros, or it would be reprocessed forever."""
    per_part = frontier.join(counts, "part_id", "left").na.fill(0).na.fill(True)
    if "n_invalid" not in counts.columns:
        per_part = per_part.withColumn("n_invalid", F.col("n_rows") - F.col("n_valid"))
    if "partition_valid" not in counts.columns:
        per_part = per_part.withColumn("partition_valid", F.col("n_invalid") == 0)
    mf.append_results(spark, manifest_path, per_part, run_id=run_id, source_path=source_path)
