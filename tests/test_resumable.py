"""Crash-and-rerun resume with partition pruning: the manifest commit
protocol (jschon_spark.pipeline) as jobs/validate_clips.py runs it."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jobs import validate_clips
from jschon_spark import fixtures as fx
from jschon_spark import manifest as mf
from jschon_spark.output import flag_summary
from jschon_spark.pipeline import validate_clips_rows

N = 2000


@pytest.fixture(scope="module")
def clips_path(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("clips") / "clips.parquet")
    pdf = fx.gen_clips_batch(np.arange(N), audio=False)
    (
        spark.createDataFrame(pdf, schema=fx.CLIPS_DDL)
        .write.partitionBy("part_id")
        .mode("overwrite")
        .parquet(d)
    )
    return d


def _rows(df, cols=("part_id", "n_rows", "n_valid", "n_invalid", "partition_valid")):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_resume_processes_only_pending(spark, clips_path, tmp_path):
    """The production resume path: validate_clips over a manifest with
    partitions 0-7 committed processes and commits exactly 8-15, its
    commit equals the committed flag output, and a rerun is a no-op."""
    manifest_path = str(tmp_path / "manifest")
    out = str(tmp_path / "out")

    # simulate a prior run that completed partitions 0-7
    clips = spark.read.parquet(clips_path)
    done = flag_summary(validate_clips_rows(clips.where("part_id < 8")), "part_id")
    mf.append_results(spark, manifest_path, done, run_id="r0", source_path=clips_path)

    argv = ["--clips", clips_path, "--out", out, "--manifest", manifest_path, "--no-audio"]
    assert validate_clips.main(argv + ["--run-id", "r1"]) == 0
    m = mf.read_manifest(spark, manifest_path)
    assert sorted(r.part_id for r in m.where("run_id = 'r1'").collect()) == list(range(8, 16))
    assert m.count() == 16
    assert m.agg(F.sum("n_rows")).first()[0] == N

    committed = mf.read_committed(spark, manifest_path, spark.read.parquet(f"{out}/flag"))
    assert _rows(committed) == _rows(m.where("run_id = 'r1'"))

    # now complete: a rerun is a no-op and appends nothing
    assert validate_clips.main(argv + ["--run-id", "r2"]) == 0
    assert mf.read_manifest(spark, manifest_path).count() == 16
    assert spark.read.parquet(f"{out}/flag").count() == 8


def test_partition_col_other_than_part_id(spark, tmp_path):
    """--partition-col names the table's partition column; the manifest
    keys it as part_id. The first run commits every partition, the
    second is a no-op."""
    src = str(tmp_path / "clips")
    out = str(tmp_path / "out")
    manifest_path = str(tmp_path / "manifest")
    pdf = fx.gen_clips_batch(np.arange(400), audio=False).rename(columns={"part_id": "shard"})
    ddl = fx.CLIPS_DDL.replace("part_id", "shard")
    spark.createDataFrame(pdf, schema=ddl).write.partitionBy("shard").parquet(src)
    shards = sorted(pdf["shard"].unique().tolist())

    argv = ["--clips", src, "--out", out, "--manifest", manifest_path, "--no-audio",
            "--partition-col", "shard"]
    assert validate_clips.main(argv) == 0
    m = mf.read_manifest(spark, manifest_path)
    assert sorted(r.part_id for r in m.collect()) == shards
    assert m.agg(F.sum("n_rows")).first()[0] == 400
    committed = mf.read_committed(
        spark, manifest_path, spark.read.parquet(f"{out}/flag"), partition_col="shard"
    )
    assert committed.agg(F.sum("n_rows")).first()[0] == 400

    assert validate_clips.main(argv) == 0
    assert mf.read_manifest(spark, manifest_path).count() == len(shards)
    assert spark.read.parquet(f"{out}/flag").count() == len(shards)


def test_read_manifest_missing_path_is_empty(spark, tmp_path):
    assert mf.read_manifest(spark, str(tmp_path / "absent")).count() == 0


def test_read_manifest_raises_on_unreadable_path(spark):
    """Only a missing path is an empty manifest: an unknown filesystem
    must fail the run before it reprocesses every partition."""
    with pytest.raises(Exception, match="nosuchfs"):
        mf.read_manifest(spark, "nosuchfs://bucket/manifest")


def test_pending_scan_prunes_partitions(spark, clips_path, tmp_path):
    """The resume scan must read ONLY pending partition directories —
    PartitionFilters on part_id in the physical plan."""
    clips = spark.read.parquet(clips_path)
    subset = clips.where(F.col("part_id").isin([8, 9]))
    plan = subset._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the pruned scan reads 2/16 of the files
    assert subset.select("part_id").distinct().count() == 2


def test_read_committed_hides_orphan_rows(spark, clips_path, tmp_path):
    """Crash between output append and manifest append: the orphan
    output rows carry a run_id the manifest never recorded, and
    read_committed makes them invisible (exactly-once reads over
    at-least-once writes)."""
    manifest_path = str(tmp_path / "manifest")
    out_path = str(tmp_path / "out_flag")
    clips = spark.read.parquet(clips_path)
    flags = flag_summary(validate_clips_rows(clips.where("part_id < 4")), "part_id")

    # committed run: outputs first, then the manifest commit
    flags.withColumn("run_id", F.lit("r-ok")).write.mode("append").parquet(out_path)
    mf.append_results(spark, manifest_path, flags, run_id="r-ok", source_path=clips_path)
    # crashed run: outputs appended for the same partitions, no commit
    flags.withColumn("run_id", F.lit("r-dead")).write.mode("append").parquet(out_path)

    raw = spark.read.parquet(out_path)
    assert raw.count() == 8  # both runs' rows are physically present
    committed = mf.read_committed(spark, manifest_path, raw)
    got = committed.select("part_id", "run_id").collect()
    assert len(got) == 4
    assert {r.run_id for r in got} == {"r-ok"}
    assert sorted(r.part_id for r in got) == [0, 1, 2, 3]


def test_select_pending_large_frontier_stays_distributed(spark, clips_path):
    """Above MAX_INLINE_PARTITIONS the frontier is not collected: the
    subset is a broadcast semi-join, not a literal IN list."""
    import jschon_spark.pipeline as pl

    clips = spark.read.parquet(clips_path)
    pending = clips.select("part_id").distinct().where("part_id >= 8")
    old = pl.MAX_INLINE_PARTITIONS
    try:
        pl.MAX_INLINE_PARTITIONS = 2  # force the large-frontier path
        subset, parts, n = pl.select_pending(clips, pending)
    finally:
        pl.MAX_INLINE_PARTITIONS = old
    assert n == 8 and parts is None
    assert subset.select("part_id").distinct().count() == 8
    plan = subset._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "dynamicpruning" in plan


def test_read_committed_racing_runs_single_winner(spark, clips_path, tmp_path):
    """Two racing runs that both committed the same partitions: exactly
    one run's rows are visible per partition (first commit wins)."""
    import time as _time

    manifest_path = str(tmp_path / "manifest_race")
    out_path = str(tmp_path / "out_race")
    clips = spark.read.parquet(clips_path)
    flags = flag_summary(validate_clips_rows(clips.where("part_id < 3")), "part_id")
    for rid in ("r-first", "r-second"):
        flags.withColumn("run_id", F.lit(rid)).write.mode("append").parquet(out_path)
        mf.append_results(spark, manifest_path, flags, run_id=rid, source_path=clips_path)
        _time.sleep(1.1)  # distinct commit timestamps
    raw = spark.read.parquet(out_path)
    assert raw.count() == 6
    committed = mf.read_committed(spark, manifest_path, raw)
    rows = committed.select("part_id", "run_id").collect()
    assert len(rows) == 3
    assert {r.run_id for r in rows} == {"r-first"}
