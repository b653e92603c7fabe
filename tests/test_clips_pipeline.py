"""End-to-end clips validation against the fixture oracle.

The fixture injects a known count of each violation (FIXTURES.md §1);
the pipeline must recover exactly those counts — this is the
"per-partition pass/fail parity" gate of BASELINE.md.
"""

import math
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import DataFrame

from jschon_spark import fixtures as fx
from jschon_spark.pipeline import run_validation

N = 2000  # tiny scale


@pytest.fixture(scope="module")
def clips_df(spark):
    pdf = fx.gen_clips_batch(np.arange(N), audio=True)
    return spark.createDataFrame(pdf, schema=fx.CLIPS_DDL)


@pytest.fixture(scope="module")
def transcripts_df(spark):
    pdf = fx.gen_transcripts_batch(np.arange(N))
    return spark.createDataFrame(pdf, schema=fx.TRANSCRIPTS_DDL)


@pytest.fixture(scope="module")
def results(spark, clips_df, transcripts_df):
    return run_validation(
        spark, clips_df, transcripts_df, baseline=fx.baseline_snapshot(), audio=True
    )


def test_violation_counts_match_injection(results):
    expected = fx.expected_violation_counts(N)
    viols = results["violations"].toPandas()
    by_kw = viols.groupby("keyword").size().to_dict()
    assert by_kw.get("pattern", 0) == expected["pattern"]
    assert by_kw.get("enum", 0) == expected["enum"]
    assert by_kw.get("minimum", 0) == expected["minimum"]
    assert by_kw.get("maximum", 0) == expected["maximum"]
    assert by_kw.get("required", 0) == expected["required"]
    assert by_kw.get("maxLength", 0) == expected["maxLength"]


def test_flag_summary_partition_parity(results):
    flag = results["flag"].toPandas().set_index("part_id").sort_index()
    assert set(flag.index) == set(range(fx.N_PARTS))
    assert int(flag["n_rows"].sum()) == N
    # exact per-partition parity: a partition is invalid iff one of its
    # row ids carries a row-level injection slot
    row_slots = (fx.SLOT_PATTERN, fx.SLOT_ENUM, fx.SLOT_MIN, fx.SLOT_MAX, fx.SLOT_REQUIRED, fx.SLOT_MAXLEN)
    expected_invalid_parts = {
        i % fx.N_PARTS for i in range(N) if (i % fx.MOD) in row_slots
    }
    got_invalid_parts = set(flag.index[~flag["partition_valid"]])
    assert got_invalid_parts == expected_invalid_parts
    expected_total = sum(
        fx.expected_violation_counts(N)[k]
        for k in ["pattern", "enum", "minimum", "maximum", "required", "maxLength"]
    )
    assert int(flag["n_invalid"].sum()) == expected_total


def test_uniqueness_check(results):
    expected = fx.expected_violation_counts(N)
    dups = results["duplicates"].toPandas()
    assert int((dups["n_occurrences"] - 1).sum()) == expected["duplicate_clip_id"]


def test_referential_checks(results):
    expected = fx.expected_violation_counts(N)
    assert results["missing_transcripts"].count() == expected["missing_transcript_row"]
    assert results["orphan_transcripts"].count() == expected["orphan_transcript"]
    # duplicate clip_id pairs join both texts under one key → each dup
    # key also surfaces as a (genuine) mismatch
    assert (
        results["transcript_mismatches"].count()
        == expected["text_mismatch"] + expected["duplicate_clip_id"]
    )


def test_audio_invariant(results):
    expected = fx.expected_violation_counts(N)
    av = results["audio_violations"].toPandas()
    by_kw = av.groupby("keyword").size().to_dict()
    assert by_kw.get("snr", 0) == expected["snr"]
    assert by_kw.get("frames", 0) == expected["truncated"]
    assert by_kw.get("decode", 0) == 0


def test_drift_same_distribution_passes(results):
    drift = results["drift"]
    assert drift["ks_pass"], drift
    assert drift["psi_pass"], drift


def test_drift_shifted_distribution_fails(spark, clips_df):
    from pyspark.sql import functions as F

    from jschon_spark.operators.table_checks import drift_check_distributed

    shifted = clips_df.withColumn("dur_ms", (F.col("dur_ms") * 1.5).cast("int"))
    drift = drift_check_distributed(shifted, fx.baseline_snapshot())
    assert not drift["ks_pass"], drift


def test_column_stats(results):
    stats = results["stats"].toPandas().set_index("column_name")
    assert int(stats.loc["clip_id", "n_rows"]) == N
    assert stats.loc["transcript", "n_nulls"] > 0
    assert float(stats.loc["dur_ms", "null_rate"]) == 0.0


def test_manifest_resume(spark, clips_df, tmp_path):
    from jschon_spark import manifest as mf
    from jschon_spark.output import flag_summary
    from jschon_spark.pipeline import validate_clips_rows

    path = str(tmp_path / "manifest")
    all_parts = clips_df.select("part_id").distinct()
    pending0 = mf.pending_partitions(spark, path, all_parts)
    assert pending0.count() == fx.N_PARTS

    # complete half the partitions
    half = clips_df.where("part_id < 8")
    flags = flag_summary(validate_clips_rows(half), "part_id")
    mf.append_results(spark, path, flags, run_id="r1", source_path="fixture")
    pending1 = mf.pending_partitions(spark, path, all_parts)
    assert pending1.count() == fx.N_PARTS - 8
    assert set(r.part_id for r in pending1.collect()) == set(range(8, 16))


def test_audio_adversarial_payloads(spark):
    """Malformed payloads must produce decode violations, never crash
    the job (the reference raises at load; at table scale every bad row
    is a violation row — SURVEY §1.4). The invariant decodes exactly
    the payloads every other audio stage decodes, G.711 and IMA ADPCM
    included."""
    import io
    import struct
    import wave

    import numpy as np

    from jschon_spark.audio import ALAW_LUT, MULAW_LUT, with_audio_invariant
    from jschon_spark.audio.adpcm import encode_ima_adpcm
    from jschon_spark.audio.features import with_audio_features
    from jschon_spark.fixtures import clip_seed, synth_pcm
    from tests.test_adpcm import _ima_wav

    def wav_bytes(samples, sr, nch=1):
        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(nch)
            w.setsampwidth(2)
            w.setframerate(sr)
            w.writeframes(samples.astype("<i2").tobytes())
        return buf.getvalue()

    def signal(cid):
        # the reference signal the SNR check re-synthesizes for the row
        return synth_pcm(clip_seed(cid), 16000, 1600)  # 100 ms @ 16 kHz

    def companded(x, lut):
        # nearest-code G.711 encode over the decode table (tests/test_g711.py)
        order = np.argsort(lut)
        vals = lut[order].astype(np.int32)
        idx = np.clip(np.searchsorted(vals, x), 1, 255)
        lower = (x - vals[idx - 1]) < (vals[idx] - x)
        return order[np.where(lower, idx - 1, idx)].astype(np.uint8).tobytes()

    good = signal("clip-aa")
    stereo = np.repeat(good, 2)
    rows = [
        ("clip-aa", good.tobytes(), 16000, 100, "pcm_s16le"),  # pristine
        ("clip-ab", None, 16000, 100, "pcm_s16le"),  # null payload
        ("clip-ac", good.tobytes()[:-1], 16000, 100, "pcm_s16le"),  # odd length
        ("clip-ad", good.tobytes(), 16000, 100, "flac"),  # undecodable codec
        ("clip-ae", b"RIFFgarbage", 16000, 100, "wav"),  # corrupt header
        ("clip-af", wav_bytes(stereo, 16000, nch=2), 16000, 100, "wav"),  # stereo
        ("clip-ag", wav_bytes(good, 8000), 16000, 100, "wav"),  # header sr mismatch
        ("clip-ah", b"", 16000, 100, "pcm_s16le"),  # empty → 0 frames
        ("clip-ai", companded(signal("clip-ai"), MULAW_LUT), 16000, 100, "pcm_mulaw"),
        ("clip-aj", companded(signal("clip-aj"), ALAW_LUT), 16000, 100, "pcm_alaw"),
        ("clip-ak", encode_ima_adpcm(signal("clip-ak")), 16000, 100, "adpcm_ima"),
        # IMA ADPCM WAV (fmt 0x11) whose header says 0 Hz
        ("clip-al", _ima_wav(signal("clip-al"), 0), 16000, 100, "wav"),
        # headerless payloads at sr_hz 0 (no reference signal to
        # synthesize) and at a null sr_hz (no rate to decode at)
        ("clip-am", good.tobytes(), 0, 100, "pcm_s16le"),
        ("clip-an", good.tobytes(), None, 100, "pcm_s16le"),
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4], 0) for r in rows],
        "clip_id string, bytes binary, sr_hz int, dur_ms int, codec string, part_id int",
    )
    out = {r.clip_id: r for r in with_audio_invariant(df).collect()}
    for cid in ("clip-aa", "clip-ai", "clip-aj"):
        assert out[cid].audio_valid is True, cid
    for cid in ("clip-ai", "clip-aj"):
        assert out[cid].snr_db >= 30.0, (cid, out[cid].snr_db)
    for cid in ("clip-ab", "clip-ac", "clip-ad", "clip-ae", "clip-af", "clip-ag", "clip-ah", "clip-al", "clip-am", "clip-an"):
        assert out[cid].audio_valid is False, cid
        kws = {v.keyword for v in out[cid].audio_violations}
        assert kws, cid
    # decode failures vs frame-count failures are distinguished
    assert {v.keyword for v in out["clip-ae"].audio_violations} == {"decode"}
    assert {v.keyword for v in out["clip-ah"].audio_violations} == {"frames"}
    # 0 Hz decodes (0 frames expected, SNR -inf); a null rate does not
    assert out["clip-am"].decode_ok is True and out["clip-am"].snr_db == float("-inf")
    assert {v.keyword for v in out["clip-am"].audio_violations} == {"frames"}
    assert {v.keyword for v in out["clip-an"].audio_violations} == {"decode"}
    assert out["clip-ak"].decode_ok is True
    assert "decode" not in {v.keyword for v in out["clip-ak"].audio_violations}
    # a header rate that differs from sr_hz fails the row but keeps its
    # frame count — 0 Hz included
    for cid in ("clip-ag", "clip-al"):
        assert out[cid].decode_ok is False and out[cid].n_frames == 1600, cid
    # one walk: the invariant decodes exactly the rows the feature stage
    # decodes, except where a header rate disagrees with sr_hz
    feats = {r.clip_id: r.features_ok for r in with_audio_features(df).collect()}
    for cid, r in out.items():
        if cid not in ("clip-ag", "clip-al"):
            assert r.decode_ok == feats[cid], cid


def test_drift_statistics_matches_numpy_reference(spark):
    """The fully-distributed PSI/KS plan agrees with the driver-side
    numpy ks_statistic/psi_statistic on the same binned data."""
    import numpy as np
    import pandas as pd

    from jschon_spark.operators.table_checks import (
        drift_statistics,
        ks_statistic,
        psi_statistic,
    )

    rng = np.random.default_rng(7)
    cur = rng.normal(100.0, 20.0, 4000)
    base = rng.normal(110.0, 25.0, 5000)
    width = 10.0
    cur_df = spark.createDataFrame(pd.DataFrame({"v": cur}))
    base_df = spark.createDataFrame(pd.DataFrame({"v": base}))
    row = drift_statistics(cur_df, base_df, "v", width).collect()[0]

    def binned(x):
        b = np.floor(x / width).astype(int)
        u, c = np.unique(b, return_counts=True)
        return pd.DataFrame({"bin_lo": u.astype(float), "count": c})

    cb, bb = binned(cur), binned(base)
    ks = ks_statistic(cb, bb)
    # psi_statistic clamps raw shares; drift_statistics uses the same
    # eps=1e-6 clamp on shares — compare to 6dp
    psi = psi_statistic(cb.rename(columns={"bin_lo": "k"}), bb.rename(columns={"bin_lo": "k"}), key="k")
    assert abs(row["ks"] - ks) < 1e-6, (row["ks"], ks)
    assert abs(row["psi"] - psi) < 1e-6, (row["psi"], psi)
    # drift against itself is exactly zero
    zero = drift_statistics(cur_df, cur_df, "v", width).collect()[0]
    assert zero["psi"] == 0.0 and zero["ks"] == 0.0


def _job_ids(spark, group, fn):
    """Run ``fn()`` under a fresh Spark job group; return its job ids."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _drift_by_brute_force(dur, sr, baseline, width):
    """KS/PSI from explicit per-row binning in plain Python — shares no
    code with table_checks: a null duration never bins, a null sample
    rate is its own category, shares are clamped at 1e-6 for PSI."""
    def shares(counts):
        total = sum(counts.values())
        return {k: v / total for k, v in counts.items()}

    cur_dur = Counter(math.floor(d / width) for d in dur if not pd.isna(d))
    cur_sr = Counter(None if pd.isna(r) else float(r) for r in sr)
    side = {c: baseline[baseline["column_name"] == c] for c in ("dur_ms", "sr_hz")}
    base_dur = {math.floor(lo / width): n for lo, n in zip(side["dur_ms"]["bin_lo"], side["dur_ms"]["count"])}
    base_sr = dict(zip(side["sr_hz"]["bin_lo"], side["sr_hz"]["count"]))

    p, q = shares(cur_dur), shares(base_dur)
    ks = cp = cq = 0.0
    for k in sorted(set(p) | set(q)):
        cp, cq = cp + p.get(k, 0.0), cq + q.get(k, 0.0)
        ks = max(ks, abs(cp - cq))
    p, q = shares(cur_sr), shares(base_sr)
    psi = 0.0
    for k in set(p) | set(q):
        a, b = max(p.get(k, 0.0), 1e-6), max(q.get(k, 0.0), 1e-6)
        psi += (a - b) * math.log(a / b)
    return ks, psi


def test_drift_distributed_is_default_and_matches_driver_path(spark, clips_df, monkeypatch):
    """The pipeline's drift stage is one grouping-sets aggregation whose
    O(bins) rows are folded on the driver. Its statistics agree with the
    fully distributed drift_statistics plan and with a brute-force
    binning of the same rows; the call runs one query with one shuffle,
    and binning stays a Spark aggregate (no Python evaluation)."""
    import uuid

    from jschon_spark.operators.table_checks import drift_check_distributed, drift_statistics

    baseline = fx.baseline_snapshot()
    meta = clips_df.drop("bytes")
    width = 100.0  # the snapshot's duration bin width

    queries = []
    to_pandas = type(meta).toPandas  # the session's concrete DataFrame class
    monkeypatch.setattr(type(meta), "toPandas", lambda self: queries.append(self) or to_pandas(self))
    got = {}
    jobs = _job_ids(spark, f"drift-{uuid.uuid4()}", lambda: got.update(drift_check_distributed(meta, baseline)))
    monkeypatch.undo()

    # reference 1: the distributed drift_statistics plan, the baseline
    # side expanded back to one row per counted value
    def base_rows(col):
        side = baseline[baseline["column_name"] == col]
        values = np.repeat(side["bin_lo"].to_numpy(float), side["count"].to_numpy())
        return spark.createDataFrame(pd.DataFrame({col: values}))

    ks_ref = drift_statistics(meta, base_rows("dur_ms"), "dur_ms", width).collect()[0]["ks"]
    psi_ref = drift_statistics(meta, base_rows("sr_hz"), "sr_hz", 1.0).collect()[0]["psi"]
    assert abs(got["ks_dur"] - ks_ref) < 1e-6, (got, ks_ref)
    assert abs(got["psi_sr"] - psi_ref) < 1e-6, (got, psi_ref)

    # reference 2: brute-force binning of the same rows
    rows = meta.select("dur_ms", "sr_hz").toPandas()
    ks_bf, psi_bf = _drift_by_brute_force(rows["dur_ms"], rows["sr_hz"], baseline, width)
    assert abs(got["ks_dur"] - ks_bf) < 1e-6, (got, ks_bf)
    assert abs(got["psi_sr"] - psi_bf) < 1e-6, (got, psi_bf)
    assert got["ks_pass"] == (got["ks_dur"] <= 0.1) and got["psi_pass"] == (got["psi_sr"] <= 0.2)

    # one query: one fetch of the bin counts, one Exchange. Adaptive
    # execution submits a shuffle's map stage as a job of its own, so
    # "one job" reads as the job count of a plain one-shuffle aggregate
    assert len(queries) == 1
    one_agg = _job_ids(spark, f"agg-{uuid.uuid4()}", lambda: meta.groupBy("sr_hz").count().collect())
    assert 1 <= len(jobs) == len(one_agg) <= 2, (jobs, one_agg)
    qe = queries[0]._jdf.queryExecution()
    assert "FLOOR" in qe.analyzed().toString().upper()
    plan = qe.executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("Exchange") == 1 and "Expand" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# (bin_lo, count) baseline bins for the edge-case test: duration bin
# [500, 600) and sample rate 48000 occur only here
_EDGE_BASELINE = pd.DataFrame(
    [
        ("dur_ms", 0.0, 100.0, 3),
        ("dur_ms", 100.0, 200.0, 2),
        ("dur_ms", 200.0, 300.0, 1),
        ("dur_ms", 500.0, 600.0, 4),
        ("sr_hz", 8000.0, 8000.0, 2),
        ("sr_hz", 16000.0, 16000.0, 5),
        ("sr_hz", 48000.0, 48000.0, 1),
    ],
    columns=["column_name", "bin_lo", "bin_hi", "count"],
)
_EDGE_ROWS = [(150, 16000), (250, 16000), (250, 8000), (30, 44100), (1050, 8000)]


# Expected (ks_dur, psi_sr) are the outputs of the former distributed
# plan (drift_plan: bin joins + window ECDFs, deleted since) on these
# frames, hard-coded so the edge semantics cannot drift with the code.
@pytest.mark.parametrize(
    "extra, ks_dur, psi_sr",
    [
        pytest.param([], 0.2, 4.079114, id="plain"),
        # a null duration is left out of the KS bins (ks unchanged) but
        # still counts toward its sample rate's PSI share
        pytest.param([(None, 16000)], 0.2, 3.52281, id="null-dur"),
        # a null sample rate is a PSI category of its own
        pytest.param([(450, None)], 0.233333, 5.682208, id="null-sr"),
        pytest.param([(None, 16000), (450, None), (None, None)], 0.233333, 6.168992, id="both-null"),
        # nothing to bin: every baseline bin is a baseline-only bin
        pytest.param(None, 1.0, 12.915217, id="empty"),
        # durations far outside the baseline's bins, on both sides and
        # at the int32 limits
        pytest.param(
            [(900000, 16000), (-5000, 8000), (2147483647, 44100), (-2147483648, 16000)],
            0.333333,
            4.288388,
            id="far",
        ),
        pytest.param([(-5000, 8000), (-70000, 8000), (-1, 16000)], 0.375, 3.234987, id="far-below"),
        pytest.param([(900000, 16000), (600, 8000), (2147483647, 16000)], 0.5, 3.01257, id="far-above"),
    ],
)
def test_drift_edge_semantics(spark, monkeypatch, extra, ks_dur, psi_sr):
    from jschon_spark.operators.table_checks import drift_check_distributed

    rows = [] if extra is None else _EDGE_ROWS + extra
    df = spark.createDataFrame(rows, "dur_ms int, sr_hz int")
    fetched = []
    to_pandas = type(df).toPandas
    monkeypatch.setattr(type(df), "toPandas", lambda self: fetched.append(to_pandas(self)) or fetched[-1])
    got = drift_check_distributed(df, _EDGE_BASELINE)
    monkeypatch.undo()
    # the duration bins collected stay within the baseline's bins 0..5
    # widened by one on each side, however far out the data lies
    (hist,) = fetched
    assert (hist["column"] == "dur_ms").sum() <= 8, hist
    assert abs(got["ks_dur"] - ks_dur) < 1e-6, got
    assert abs(got["psi_sr"] - psi_sr) < 1e-6, got
    ks_bf, psi_bf = _drift_by_brute_force(
        [r[0] for r in rows], [r[1] for r in rows], _EDGE_BASELINE, 100.0
    )
    assert abs(got["ks_dur"] - ks_bf) < 1e-6 and abs(got["psi_sr"] - psi_bf) < 1e-6, (got, ks_bf, psi_bf)


def test_second_pipeline_pass_fits_codegen_cache(spark):
    """A repeated run_validation pass reuses its generated classes: the
    pass must fit in Spark's codegen cache (spark.sql.codegen.cache.maxEntries,
    100 by default) — past it, every pass recompiles all its classes
    (Janino, then the JIT) and the cost shows up as driver CPU.

    The cache is a Guava cache: four LRU segments of 25 entries, and a
    class's segment hashes the class loader's identity, so it changes
    from JVM to JVM. This ~80-class pass overflows one segment in about
    3 of 10 JVMs and recompiles that segment's ~25 classes each pass; two
    segments overflow in under 1% of JVMs. A pass past 100 classes
    recompiles nearly all of them (the former drift plan: ~130)."""
    # frames of its own: no persisted plan shared with other tests, so
    # both passes start from the same cache state
    clips = spark.createDataFrame(fx.gen_clips_batch(np.arange(N), audio=False), schema=fx.CLIPS_DDL)
    transcripts = spark.createDataFrame(fx.gen_transcripts_batch(np.arange(N)), schema=fx.TRANSCRIPTS_DDL)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def run_pass():
        out = run_validation(
            spark, clips, transcripts=transcripts, baseline=fx.baseline_snapshot(), audio=False
        )
        for df in out.values():
            if isinstance(df, DataFrame):
                df.write.format("noop").mode("overwrite").save()
        out["transcript_checks"].unpersist()

    run_pass()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    run_pass()
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before < 50


def test_transcript_checks_single_join(spark):
    """Round-4: the three clip<->transcript referential checks come out
    of ONE full-outer join (both sides are fact-sized at 10^12 rows —
    three anti/anti/inner joins would shuffle both tables three times).
    Value semantics: hand-built rows covering all three categories plus
    agreeing/dup/null-key rows."""
    from jschon_spark.operators.table_checks import transcript_checks

    clips = spark.createDataFrame(
        [
            ("c1", "hello world"),   # agrees
            ("c2", "goodbye"),       # text differs -> mismatch
            ("c3", "no transcript"), # missing from side table
            ("c5", None),            # both null -> agrees (null-safe)
            ("c6", "dup"),           # duplicate key, one copy mismatches
            ("c6", "dup"),
            (None, "null key"),      # null key never matches -> missing
        ],
        "clip_id string, transcript string",
    )
    transcripts = spark.createDataFrame(
        [
            ("t1", "c1", "hello world"),
            ("t2", "c2", "goodbye!"),
            ("t4", "c4", "orphan row"),  # no such clip
            ("t5", "c5", None),
            ("t6", "c6", "dup"),
        ],
        "transcript_id string, clip_id string, text string",
    )
    got = transcript_checks(clips, transcripts)
    by = {}
    for r in got.collect():
        by.setdefault(r["check"], []).append(r)
    assert sorted(r["clip_id"] or "∅" for r in by["missing_transcript"]) == ["c3", "∅"]
    assert [(r["transcript_id"], r["clip_id"], r["text"]) for r in by["orphan_transcript"]] == [
        ("t4", "c4", "orphan row")
    ]
    assert sorted(r["clip_id"] for r in by["transcript_mismatch"]) == ["c2"]

    # plan: exactly one join, no Python (AQE plan strings repeat the
    # initial plan below the final one — look at the final section only)
    import re

    plan = got._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    joins = re.findall(r"(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan)
    assert len(joins) == 1, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_pipeline_transcript_outputs_schema_compat(spark, clips_df, transcripts_df):
    """The derived outputs keep their pre-combination schemas (consumers
    write them as-is)."""
    from jschon_spark.pipeline import run_validation

    out = run_validation(spark, clips_df, transcripts=transcripts_df, audio=False)
    assert out["missing_transcripts"].columns == [
        "clip_id", "instance_path", "keyword_path", "keyword", "error",
    ]
    assert out["orphan_transcripts"].columns == transcripts_df.columns
    assert out["transcript_mismatches"].columns == ["clip_id"]
    out["transcript_checks"].unpersist()


def test_categorical_histograms_one_pass_matches_per_column(spark, clips_df):
    """Round-4: both categorical histograms come from ONE grouping-sets
    scan; values match the per-column groupBys exactly (null data
    values included — grouping() disambiguates them)."""
    from jschon_spark.operators.table_checks import (
        categorical_histogram,
        categorical_histograms,
    )

    meta = clips_df.drop("bytes")
    combined = categorical_histograms(meta, ["codec", "sr_hz"])
    by: dict = {}
    for r in combined.collect():
        by.setdefault(r["column"], {})[r["value"]] = r["count"]
    for col in ("codec", "sr_hz"):
        per = {
            (str(r["value"]) if r["value"] is not None else None): r["count"]
            for r in categorical_histogram(meta, col).collect()
        }
        assert by[col] == per, col

    # plan: a single Exchange (one shuffle) feeds both histograms
    plan = combined._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert plan.count("Exchange") == 1, plan
    assert "Expand" in plan  # grouping-sets expansion, not two scans


def test_speaking_rate_stage_present_and_map_only(results):
    """run_validation exposes the transcript-duration plausibility check
    whenever transcript+dur_ms exist; plan stays shuffle-free."""
    sr = results["speaking_rate"]
    assert set(sr.columns) == {
        "clip_id", "keyword", "check", "words_per_sec", "chars_per_sec"
    }
    plan = sr._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # fixture transcripts are plausible for their durations by
    # construction; only injected violation rows may trip the band
    rows = sr.collect()
    assert all(r["keyword"] in ("speakingRate", "articulationRate") for r in rows)
