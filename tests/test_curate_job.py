"""End-to-end audio curation job (jobs/curate_clips.py): conditioning +
quality gating + perceptual dedup compose correctly, outputs commit
through the manifest, and a rerun is a no-op."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from jobs.curate_clips import curate, main

SR = 16000


def _mix(seed: int, secs: float = 2.0, gain: float = 0.5) -> np.ndarray:
    rng = np.random.default_rng(seed)
    n = int(SR * secs)
    t = np.arange(n) / SR
    x = np.zeros(n)
    for f, a, ph in zip(
        rng.uniform(320, 2800, 5), rng.uniform(0.3, 1.0, 5), rng.uniform(0, 6.28, 5)
    ):
        x += a * np.sin(2 * np.pi * f * t + ph)
    spec = np.fft.rfft(rng.standard_normal(n))
    shape = np.interp(
        np.linspace(0, 1, len(spec)), np.linspace(0, 1, 16), rng.uniform(0.05, 1.0, 16)
    )
    bed = np.fft.irfft(spec * shape, n)
    x += 0.8 * bed / np.std(bed)
    x /= np.max(np.abs(x))
    return np.clip(x * gain * 32767.0, -32768, 32767).astype(np.int16)


@pytest.fixture(scope="module")
def corpus(spark):
    """20 good clips + 3 noisy duplicates of clip 0-2 + 1 silent +
    1 undecodable, spread over 4 partitions."""
    rows = []
    for i in range(20):
        rows.append((f"g{i:02d}", _mix(i).tobytes(), "pcm_s16le", SR, 2000,
                     "some plausible transcript here", i % 4))
    for i in range(3):
        dup = np.clip(
            _mix(i).astype(np.float64)
            + 0.03 * 16000 * np.random.default_rng(99 + i).standard_normal(SR * 2) / 1000,
            -32768, 32767,
        ).astype(np.int16)
        rows.append((f"d{i:02d}", dup.tobytes(), "pcm_s16le", SR, 2000,
                     "some plausible transcript here", i % 4))
    rows.append(("silent", np.zeros(SR * 2, dtype=np.int16).tobytes(),
                 "pcm_s16le", SR, 2000, "quiet", 0))
    rows.append(("broken", b"\x01", "pcm_s16le", SR, 2000, "bad", 1))
    return spark.createDataFrame(
        rows,
        "clip_id string, bytes binary, codec string, sr_hz int, dur_ms long,"
        " transcript string, part_id int",
    )


def test_curate_composition(spark, corpus):
    curated, _ = curate(spark, corpus)
    got = curated.collect()
    ids = {r["clip_id"] for r in got}
    # silent and undecodable gated out
    assert "silent" not in ids and "broken" not in ids
    # each planted dup collapsed to its canonical (min id: dXX < gXX
    # lexicographically, so the canonical is the dup row)
    for i in range(3):
        assert (f"d{i:02d}" in ids) != (f"g{i:02d}" in ids), ids
    # all other good clips survive, conditioned
    assert {f"g{i:02d}" for i in range(3, 20)} <= ids
    by_id = {r["clip_id"]: r for r in got}
    assert by_id["g05"]["sr_hz"] == 16000 and by_id["g05"]["codec"] == "pcm_s16le"
    assert by_id["g05"]["bytes"] is not None


def test_job_main_with_manifest_resume(spark, corpus, tmp_path):
    src = str(tmp_path / "clips")
    out = str(tmp_path / "curated_out")
    man = str(tmp_path / "manifest")
    corpus.write.partitionBy("part_id").parquet(src)

    assert main(["--clips", src, "--out", out, "--manifest", man]) == 0
    from jschon_spark import manifest as mf

    curated = spark.read.parquet(f"{out}/curated")
    committed = mf.read_committed(spark, man, curated)
    n1 = committed.count()
    assert n1 == 20  # 17 uncontested good + 3 dedup canonicals

    # rerun: manifest complete, no new rows appended
    assert main(["--clips", src, "--out", out, "--manifest", man]) == 0
    assert spark.read.parquet(f"{out}/curated").count() == n1


def test_curate_with_loudness_gate(spark):
    """Opt-in BS.1770 gates compose into the pipeline: survivors carry
    the loudness columns and satisfy the configured bounds (verified
    through the independent loudness kernel on the conditioned audio)."""
    import numpy as np

    from jschon_spark import fixtures as fx
    from jobs.curate_clips import curate

    clips = spark.createDataFrame(
        fx.gen_clips_batch(np.arange(120), audio=True), schema=fx.CLIPS_DDL
    )
    curated, _ = curate(spark, clips, dedup=False, loudness=True,
                        min_lufs=-30.0, max_lufs=-5.0)
    got = curated.toPandas()
    assert len(got) > 0
    assert {"integrated_lufs", "true_peak_dbtp", "keep_loudness"} <= set(got.columns)
    assert (got["integrated_lufs"] >= -30.0).all()
    assert (got["integrated_lufs"] <= -5.0).all()
    assert got["keep_loudness"].all()


def test_curate_with_wer_gate(spark):
    """A second-source transcript table gates disagreement: clips whose
    reference differs beyond max_wer (or is missing) are dropped before
    any payload work; agreeing clips survive."""
    import numpy as np
    from pyspark.sql import functions as F

    from jschon_spark import fixtures as fx
    from jobs.curate_clips import curate

    clips = spark.createDataFrame(
        fx.gen_clips_batch(np.arange(60), audio=True), schema=fx.CLIPS_DDL
    )
    # references: exact for even ids, heavily corrupted for odd, and no
    # row at all for ids 0-4 (missing side must fail closed)
    base = clips.select("clip_id", "transcript").where("transcript is not null")
    w = F.abs(F.xxhash64("clip_id")) % 2
    refs = base.where(F.monotonically_increasing_id() >= 0).select(
        "clip_id",
        F.when(w == 0, F.col("transcript"))
        .otherwise(F.lit("completely different words entirely unrelated content"))
        .alias("transcript"),
    )
    curated, _ = curate(
        spark, clips, dedup=False, ref_transcripts=refs, max_wer=0.2
    )
    got = set(r["clip_id"] for r in curated.select("clip_id").collect())
    agree = set(
        r["clip_id"]
        for r in base.withColumn("w", w).where("w = 0").collect()
    )
    disagree = set(
        r["clip_id"]
        for r in base.withColumn("w", w).where("w = 1").collect()
    )
    assert got <= agree  # survivors only from the agreeing half
    assert got & agree  # and a healthy number of them
    assert not (got & disagree)


def test_job_provenance_output(spark, corpus, tmp_path):
    """--provenance writes container metadata for EVERY input clip —
    including gated-out ones — committed under the same run_id."""
    from jschon_spark import manifest as mf

    src = str(tmp_path / "clips_p")
    out = str(tmp_path / "curated_p")
    man = str(tmp_path / "man_p")
    corpus.write.partitionBy("part_id").parquet(src)
    assert main(["--clips", src, "--out", out, "--manifest", man, "--provenance"]) == 0
    prov = mf.read_committed(spark, man, spark.read.parquet(f"{out}/provenance"))
    pdf = prov.toPandas()
    assert len(pdf) == corpus.count()  # every input row, gated or not
    # pcm_s16le payloads have no container; the malformed clip neither
    assert set(pdf["container"].dropna()) <= {"wav", "id3"}
    assert set(prov.columns) >= {"clip_id", "container", "header_sr", "tags", "run_id"}
    # rerun: manifest complete → no provenance duplication
    assert main(["--clips", src, "--out", out, "--manifest", man, "--provenance"]) == 0
    assert spark.read.parquet(f"{out}/provenance").count() == len(pdf)


def test_job_partition_col_other_than_part_id(spark, corpus, tmp_path):
    """--partition-col names the table's partition column; the manifest
    keys it as part_id, so the first run commits every partition (with
    its processed and surviving counts) and the second is a no-op."""
    from jschon_spark import manifest as mf

    src = str(tmp_path / "clips_s")
    out = str(tmp_path / "curated_s")
    man = str(tmp_path / "man_s")
    corpus.withColumnRenamed("part_id", "shard").write.partitionBy("shard").parquet(src)
    argv = ["--clips", src, "--out", out, "--manifest", man, "--no-dedup",
            "--partition-col", "shard"]
    assert main(argv) == 0
    m = mf.read_manifest(spark, man).toPandas()
    assert sorted(m["part_id"]) == [0, 1, 2, 3]
    assert m["n_rows"].sum() == corpus.count()
    curated = mf.read_committed(spark, man, spark.read.parquet(f"{out}/curated"), "shard")
    assert m["n_valid"].sum() == curated.count() == 23  # silent + broken gated out
    assert main(argv) == 0
    assert mf.read_manifest(spark, man).count() == 4
