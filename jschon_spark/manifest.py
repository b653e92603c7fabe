"""Checkpoint manifest: partition-keyed lineage + metrics, resume via
anti-join (north rule requirement; no jschon counterpart).

The manifest is an append-only parquet table keyed by the (Iceberg-style)
partition id, one row per partition (thousands at 10^12 rows, so it
broadcasts trivially). Every job resumes through
``pipeline.resume_pending``: anti-join the partitions against the
manifest, process only the pending ones (a partition filter prunes
parquet directories), append the run_id-tagged outputs, then commit via
``pipeline.commit_partitions``: one manifest row per partition, with
counts read back from those outputs.
"""

from __future__ import annotations

import time

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DDL = (
    "part_id int, run_id string, completed_at timestamp, n_rows long, "
    "n_valid long, n_invalid long, partition_valid boolean, source_path string"
)


def read_manifest(spark: SparkSession, path: str) -> DataFrame:
    """A missing path is an empty manifest (the first run; an empty RDD starts
    no Python workers, as a local list would). Any other failure (unknown
    filesystem, denied read) raises, lest every partition be redone."""
    try:
        return spark.read.schema(MANIFEST_DDL).parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame(spark.sparkContext.emptyRDD(), MANIFEST_DDL)


def completed_partitions(spark: SparkSession, path: str) -> DataFrame:
    return read_manifest(spark, path).select("part_id").distinct()


def pending_partitions(spark: SparkSession, path: str, all_parts: DataFrame) -> DataFrame:
    """Partitions not yet recorded — the resume frontier."""
    done = completed_partitions(spark, path)
    return all_parts.join(F.broadcast(done), "part_id", "left_anti")


def append_results(
    spark: SparkSession,
    path: str,
    flag_rows: DataFrame,
    run_id: str,
    source_path: str = "",
) -> None:
    """Record per-partition flag summaries (lineage = run_id + source)."""
    flag_rows.select(
        F.col("part_id").cast("int"),
        F.lit(run_id).alias("run_id"),
        F.current_timestamp().alias("completed_at"),
        F.col("n_rows").cast("long"),
        F.col("n_valid").cast("long"),
        F.col("n_invalid").cast("long"),
        F.col("partition_valid"),
        F.lit(source_path).alias("source_path"),
    ).write.mode("append").parquet(path)


def new_run_id() -> str:
    return f"run-{int(time.time() * 1000):x}"


def read_committed(
    spark: SparkSession,
    manifest_path: str,
    outputs: DataFrame,
    partition_col: str = "part_id",
) -> DataFrame:
    """Filter an output table down to COMMITTED rows.

    Output parquet is append-only and written BEFORE the manifest row
    (``pipeline.append_tagged``, then ``commit_partitions``), so a crash
    mid-run leaves orphan rows tagged with a run_id the manifest never
    recorded. The manifest append is the commit point: semi-joining outputs on
    (partition, run_id) against it makes exactly-once reads out of
    at-least-once writes — the Iceberg-snapshot pattern in miniature.
    The manifest is one row per partition, so the join side broadcasts.
    """
    from pyspark.sql import Window

    # one winning run per partition (first commit by timestamp, run_id
    # tiebreak): two RACING runs that both processed a partition would
    # otherwise both be visible, duplicating rows
    m = read_manifest(spark, manifest_path).select(
        F.col("part_id").alias(partition_col), "run_id", "completed_at"
    )
    w = Window.partitionBy(partition_col).orderBy("completed_at", "run_id")
    committed = (
        m.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(partition_col, "run_id")
    )
    return outputs.join(F.broadcast(committed), [partition_col, "run_id"], "semi")
