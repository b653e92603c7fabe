"""Table-level validation operators (SURVEY.md §2.10).

These re-express jschon's per-document semantics at table scale:
``uniqueItems`` becomes a distributed key-uniqueness check
(reference jschon/vocabulary/validation.py:163-177), ``$ref`` becomes a
referential anti-join (core.py:82-103), and column statistics /
distribution drift feed the checks the north rule demands.

Scale notes (the 100 TB story):
- stats/histograms are single-pass partial aggregations — Spark's hash
  aggregate combines map-side, so a hot key never ships raw rows;
- uniqueness groups by the key only (map-side combine ≙ built-in
  salting for counts); the violating-rows join is a semi-join against
  an (almost always tiny) duplicate-key set, broadcast;
- referential checks pick broadcast vs sort-merge from the dim-side
  HLL cardinality estimate, with AQE skew-join enabled as backstop;
- drift reduces each side to a few dozen bin counts before any
  driver-side math (KS/PSI on numpy) — no data-scale collect.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def column_stats(df: DataFrame, cols: Optional[Sequence[str]] = None) -> DataFrame:
    """min/max/null-rate/approx-distinct per column, single pass.

    One wide aggregation → one row; unpivoted to (column_name, ...) rows.
    """
    cols = list(cols or df.columns)
    aggs = []
    for c in cols:
        dt = df.schema[c].dataType
        orderable = not isinstance(dt, (T.MapType, T.BinaryType))
        aggs.extend(
            [
                F.count(F.lit(1)).alias(f"{c}__n"),
                F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"),
                (F.min(F.col(c)).cast("string") if orderable else F.lit(None)).alias(f"{c}__min"),
                (F.max(F.col(c)).cast("string") if orderable else F.lit(None)).alias(f"{c}__max"),
                F.approx_count_distinct(F.col(c)).alias(f"{c}__adist"),
            ]
        )
    row = df.agg(*aggs)
    parts = []
    for c in cols:
        parts.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__n").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                (F.col(f"{c}__nulls") / F.col(f"{c}__n")).alias("null_rate"),
                F.col(f"{c}__min").alias("min_value"),
                F.col(f"{c}__max").alias("max_value"),
                F.col(f"{c}__adist").alias("approx_distinct"),
            )
        )
    return row.select(F.explode(F.array(*parts)).alias("s")).select("s.*")


def hll_sketches(df: DataFrame, cols: Sequence[str], lg_k: int = 12) -> DataFrame:
    """Mergeable per-column HLL sketches (Spark ≥3.5 Datasketches).
    Sketches from different partitions/snapshots union with
    ``hll_union_agg`` — the building block for incremental distinct
    counts across checkpointed runs."""
    aggs = [
        F.hll_sketch_estimate(F.hll_sketch_agg(F.col(c).cast("string"), lg_k)).alias(c)
        for c in cols
    ]
    row = df.agg(*aggs)
    parts = [
        F.struct(F.lit(c).alias("column_name"), F.col(c).alias("distinct_estimate"))
        for c in cols
    ]
    return row.select(F.explode(F.array(*parts)).alias("s")).select("s.*")


def categorical_histogram(df: DataFrame, col: str) -> DataFrame:
    """Value → count for a low-cardinality column (codec, sr_hz).
    Map-side combine makes this skew-immune."""
    return df.groupBy(F.col(col).alias("value")).agg(F.count(F.lit(1)).alias("count"))


def categorical_histograms(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Histograms for SEVERAL low-cardinality columns in one scan + one
    shuffle via ``GROUPING SETS ((c1),(c2),…)`` — per-column groupBys
    would each rescan the table, which at 10^12 rows is k full passes
    for k histograms.  Long-form output ``(column, value, count)``
    (values rendered as strings); ``grouping()`` disambiguates a null
    data value from a column aggregated away by the other sets."""
    sets = df.groupingSets([[c] for c in cols], *[F.col(c) for c in cols])
    name = F.lit(None).cast("string")
    val = F.lit(None).cast("string")
    for c in cols:
        name = F.when(F.grouping(c) == 0, F.lit(c)).otherwise(name)
        val = F.when(F.grouping(c) == 0, F.col(c).cast("string")).otherwise(val)
    return sets.agg(
        name.alias("column"), val.alias("value"), F.count(F.lit(1)).alias("count")
    ).select("column", "value", "count")


def numeric_histogram(df: DataFrame, col: str, bin_width: float, lo: float = 0.0) -> DataFrame:
    """Fixed-width bins; the shuffle carries only (bin, partial count)."""
    bin_col = F.floor((F.col(col) - F.lit(lo)) / F.lit(bin_width)).cast("long")
    return (
        df.where(F.col(col).isNotNull())
        .groupBy(bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("count"))
        .select(
            (F.lit(lo) + F.col("bin") * F.lit(bin_width)).alias("bin_lo"),
            (F.lit(lo) + (F.col("bin") + 1) * F.lit(bin_width)).alias("bin_hi"),
            "count",
        )
    )


# -- uniqueness (≙ uniqueItems at table scale) ------------------------------


def duplicate_keys(df: DataFrame, key: str | Sequence[str]) -> DataFrame:
    """Keys appearing more than once, with their multiplicity.

    ``groupBy(key).count()`` partial-aggregates map-side, so even a
    pathologically hot key ships one partial row per task — the
    explicit two-phase salt the reference design calls for is what
    Spark's hash aggregate already does for algebraic aggregates.
    """
    keys = [key] if isinstance(key, str) else list(key)
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .where(F.col("n_occurrences") > 1)
    )


# -- referential (≙ $ref-style cross-record constraint) ---------------------

BROADCAST_ROW_THRESHOLD = 20_000_000


def _estimated_rows(df: DataFrame) -> Optional[int]:
    """Cheap cardinality estimate from the optimized plan statistics
    (parquet row-count metadata — no job)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        # fall back to a size-based estimate (~64 B/row for key columns)
        return int(stats.sizeInBytes()) // 64
    except Exception:
        return None


def referential_check(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: Optional[str] = None,
    broadcast_rows: int = BROADCAST_ROW_THRESHOLD,
    dim_rows: Optional[int] = None,
) -> DataFrame:
    """Rows of ``fact`` whose key has no match in ``dim`` (left anti).

    Join strategy is cardinality-driven: if the dim side is estimated
    small (plan stats / caller-provided HLL estimate) we broadcast the
    *projected key column only*; otherwise fall through to sort-merge
    with AQE skew-join splitting hot keys.
    """
    dim_key = dim_key or fact_key
    dim_keys = dim.select(F.col(dim_key).alias(fact_key)).where(F.col(dim_key).isNotNull())
    est = dim_rows if dim_rows is not None else _estimated_rows(dim_keys)
    if est is not None and est <= broadcast_rows:
        dim_keys = F.broadcast(dim_keys)
    return fact.join(dim_keys, on=fact_key, how="left_anti")


def transcript_checks(
    clips: DataFrame,
    transcripts: DataFrame,
    key: str = "clip_id",
    clip_text: str = "transcript",
    transcript_text: str = "text",
) -> DataFrame:
    """All three clip↔transcript referential checks in ONE
    co-partitioned pass: ``missing_transcript`` (clip key absent from
    the side table), ``orphan_transcript`` (side-table key absent from
    clips), ``transcript_mismatch`` (both present, payload text differs,
    null-safe).  ≙ failed ``$ref`` in both directions plus
    const-equality of the payload (reference
    jschon/vocabulary/core.py:82-103, validation.py const).

    The separate anti/anti/inner joins shuffle both tables three times;
    when BOTH sides are fact-sized (10^12 clips vs ~10^12 transcripts —
    neither broadcastable) this full-outer formulation is a single
    sort-merge join (AQE skew-split still applies) and every check is a
    filter over its output.  Keep ``referential_check`` for the
    asymmetric small-dim case where a broadcast anti-join wins.

    Returns ``(key, check, <transcripts' payload columns>)`` — payload
    columns are non-null for orphan rows so callers can emit the full
    orphaned side-table row without a join back."""
    extra = [c for c in transcripts.columns if c != key]
    left = clips.select(
        F.col(key), F.col(clip_text).alias("__clip_text"), F.lit(1).alias("__l")
    )
    right = transcripts.select(F.col(key), *extra, F.lit(1).alias("__r"))
    j = left.join(right, key, "full_outer")
    check = (
        F.when(F.col("__r").isNull(), F.lit("missing_transcript"))
        .when(F.col("__l").isNull(), F.lit("orphan_transcript"))
        .when(
            ~F.col("__clip_text").eqNullSafe(F.col(transcript_text)),
            F.lit("transcript_mismatch"),
        )
    )
    return j.select(F.col(key), check.alias("check"), *extra).where(
        F.col("check").isNotNull()
    )


def speaking_rate_columns(
    transcript: Column, dur_ms: Column
) -> "dict[str, Column]":
    """Words/sec and chars/sec of a transcript against its clip
    duration — pure codegen'd arithmetic, no UDF, no shuffle.
    Null-safe: null transcript or non-positive duration yield nulls
    (the required/minimum keywords own those failures)."""
    secs = dur_ms.cast("double") / F.lit(1000.0)
    n_words = F.size(F.filter(F.split(F.trim(transcript), r"\s+"), lambda w: w != ""))
    n_chars = F.length(transcript)
    ok = transcript.isNotNull() & (dur_ms > 0)
    return {
        "words_per_sec": F.when(ok, n_words / secs),
        "chars_per_sec": F.when(ok, n_chars / secs),
    }


def speaking_rate_checks(
    clips: DataFrame,
    key: str = "clip_id",
    text_col: str = "transcript",
    dur_col: str = "dur_ms",
    min_wps: float = 0.4,
    max_wps: float = 8.0,
    min_cps: float = 2.0,
    max_cps: float = 45.0,
    round_to: Optional[int] = 6,
) -> DataFrame:
    """Transcript↔duration plausibility: flags clips whose transcript is
    too short or too long for the audio duration (wrong pairing,
    truncation, or runaway ASR). Human speech sits ~2-3 words/sec;
    the default band [0.4, 8.0] wps / [2, 45] cps only catches
    physically implausible pairs. Emits jschon-style violation rows
    ``(key, keyword, check, words_per_sec, chars_per_sec)`` where
    keyword is ``speakingRate`` (word rate) or ``articulationRate``
    (char rate) — map-only, fully SQL-expressible (driver oracle:
    ``clip_transcript_rate``). Rows with null transcript / non-positive
    duration are skipped here; required/minimum own them."""
    rates = speaking_rate_columns(F.col(text_col), F.col(dur_col))
    wps, cps = rates["words_per_sec"], rates["chars_per_sec"]
    rnd = (lambda c: F.round(c, round_to)) if round_to is not None else (lambda c: c)
    base = clips.select(
        F.col(key),
        rnd(wps).alias("words_per_sec"),
        rnd(cps).alias("chars_per_sec"),
        F.when(wps < min_wps, F.lit("speaking_rate_low"))
        .when(wps > max_wps, F.lit("speaking_rate_high"))
        .alias("_wcheck"),
        F.when(cps < min_cps, F.lit("articulation_rate_low"))
        .when(cps > max_cps, F.lit("articulation_rate_high"))
        .alias("_ccheck"),
    )
    both = base.select(
        key,
        "words_per_sec",
        "chars_per_sec",
        F.explode(
            F.filter(
                F.array(
                    F.struct(F.lit("speakingRate").alias("keyword"), F.col("_wcheck").alias("check")),
                    F.struct(F.lit("articulationRate").alias("keyword"), F.col("_ccheck").alias("check")),
                ),
                lambda s: s["check"].isNotNull(),
            )
        ).alias("v"),
    )
    return both.select(
        key, F.col("v.keyword").alias("keyword"), F.col("v.check").alias("check"),
        "words_per_sec", "chars_per_sec",
    )


# -- distribution drift ------------------------------------------------------


def ks_statistic(current_bins: pd.DataFrame, baseline_bins: pd.DataFrame) -> float:
    """Two-sample KS statistic from binned counts (columns: bin_lo,
    count). Bin counts are tiny — numpy on the driver, per SURVEY §2.10."""
    merged = pd.merge(
        current_bins[["bin_lo", "count"]].rename(columns={"count": "cur"}),
        baseline_bins[["bin_lo", "count"]].rename(columns={"count": "base"}),
        on="bin_lo",
        how="outer",
    ).fillna(0.0).sort_values("bin_lo")
    cur_cdf = merged["cur"].cumsum() / max(merged["cur"].sum(), 1)
    base_cdf = merged["base"].cumsum() / max(merged["base"].sum(), 1)
    return float(np.abs(cur_cdf.to_numpy() - base_cdf.to_numpy()).max())


def psi_statistic(current: pd.DataFrame, baseline: pd.DataFrame, key: str = "bin_lo") -> float:
    """Population Stability Index over categorical/binned counts."""
    merged = pd.merge(
        current[[key, "count"]].rename(columns={"count": "cur"}),
        baseline[[key, "count"]].rename(columns={"count": "base"}),
        on=key,
        how="outer",
    ).fillna(0.0)
    eps = 1e-6
    p = np.maximum(merged["cur"].to_numpy() / max(merged["cur"].sum(), 1), eps)
    q = np.maximum(merged["base"].to_numpy() / max(merged["base"].sum(), 1), eps)
    return float(np.sum((p - q) * np.log(p / q)))


def drift_statistics(
    current: DataFrame,
    baseline: DataFrame,
    col: str,
    bin_width: float,
    eps: float = 1e-6,
) -> DataFrame:
    """PSI + two-sample KS between two DataFrames' distributions of
    ``col``, as ONE fully-distributed Spark plan (no driver-side numpy
    — the SQL-oracle-checkable sibling of ``drift_check_distributed``,
    for when both sides are Spark relations). Each side
    reduces to fixed-width bin counts via map-side combine (the only
    shuffle ships ≤ #bins rows), the bin tables full-outer join on the
    bin id, and PSI/KS fold over the joined bins — a window cumsum for
    the KS ECDFs over ≤ dozens of rows, then one global aggregate.
    Returns a single row (psi double, ks double), both rounded to 6dp.
    Scale story: input size only affects the two groupBys; everything
    after them is O(bins)."""
    def raw_bins(df: DataFrame) -> DataFrame:
        return (
            df.where(F.col(col).isNotNull())
            .groupBy(F.floor(F.col(col) / F.lit(bin_width)).alias("bin"))
            .agg(F.count(F.lit(1)).alias("n"))
        )

    return _drift_from_bins(raw_bins(current), raw_bins(baseline), eps)


def _share_bins(counted: DataFrame, share_name: str) -> DataFrame:
    """(bin, n) counts → (bin, share). The total is a 1-row broadcast."""
    total = counted.select(F.sum("n").alias("t"))
    return counted.crossJoin(F.broadcast(total)).select(
        "bin", (F.col("n") / F.col("t")).alias(share_name)
    )


def _drift_from_bins(cur: DataFrame, base: DataFrame, eps: float = 1e-6) -> DataFrame:
    """PSI + KS as one distributed plan over two (bin, n) count frames
    (the core of drift_statistics)."""
    from pyspark.sql import Window

    joined = (
        _share_bins(cur, "p")
        .join(_share_bins(base, "q"), "bin", "full_outer")
        .select(
            "bin",
            F.coalesce("p", F.lit(0.0)).alias("p"),
            F.coalesce("q", F.lit(0.0)).alias("q"),
        )
    )
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    per_bin = joined.select(
        "p",
        "q",
        # PSI clamps each share at eps (matches psi_statistic above)
        (
            (F.greatest(F.col("p"), F.lit(eps)) - F.greatest(F.col("q"), F.lit(eps)))
            * F.log(F.greatest(F.col("p"), F.lit(eps)) / F.greatest(F.col("q"), F.lit(eps)))
        ).alias("psi_term"),
        F.abs(F.sum("p").over(w) - F.sum("q").over(w)).alias("ecdf_gap"),
    )
    return per_bin.agg(
        F.round(F.sum("psi_term"), 6).alias("psi"),
        F.round(F.max("ecdf_gap"), 6).alias("ks"),
    )


def drift_check_distributed(
    df: DataFrame,
    baseline: pd.DataFrame,
    dur_col: str = "dur_ms",
    sr_col: str = "sr_hz",
    bin_width: float = 100.0,
    ks_threshold: float = 0.1,
    psi_threshold: float = 0.2,
) -> dict:
    """The pipeline's drift stage: KS on the duration distribution + PSI
    on the sample-rate categories vs a frozen baseline snapshot
    (FIXTURES.md §3, a tiny pre-binned pandas table). Both current-side
    distributions are binned by ONE Spark aggregation,
    :func:`categorical_histograms` over the duration bin and the sample
    rate: one scan, map-side combine, one shuffle of at most #bins rows.
    Duration bins are ``floor(dur / width)`` over non-null durations (the
    width comes from the baseline's bins), clamped to the baseline's bin
    range widened by one bin on each side. KS stays exact: below that
    range the baseline ECDF is 0 and the gap peaks at its last bin; above
    it the baseline ECDF is 1 and the gap only shrinks. So corrupt or
    out-of-range durations add at most two bins to the collected rows.
    The sample rate is cast to double and a null rate is its own
    category. The O(bins) rows are collected and folded against the
    baseline on the driver with :func:`ks_statistic` /
    :func:`psi_statistic`; the baseline never becomes a Spark relation.
    Both statistics are rounded to 6dp."""
    base_dur = baseline[baseline["column_name"] == dur_col]
    width = (
        float(base_dur["bin_hi"].iloc[0] - base_dur["bin_lo"].iloc[0])
        if len(base_dur)
        else bin_width
    )
    base_bins = np.floor(base_dur["bin_lo"].to_numpy(float) / width)
    # no baseline durations: any one current bin gives the same KS
    lo, hi = (int(base_bins.min()) - 1, int(base_bins.max()) + 1) if len(base_bins) else (0, 0)
    dur = F.floor(F.col(dur_col) / F.lit(width))
    keyed = df.select(
        # least/greatest skip nulls: a null duration must stay null
        F.when(dur.isNotNull(), F.least(F.greatest(dur, F.lit(lo)), F.lit(hi))).alias(dur_col),
        F.col(sr_col).cast("double").alias(sr_col),
    )
    hist = categorical_histograms(keyed, [dur_col, sr_col]).toPandas()
    hist = hist.assign(bin_lo=hist["value"].astype(float), count=hist["count"].astype("int64"))
    cur_dur = hist[(hist["column"] == dur_col) & hist["bin_lo"].notna()]
    cur_sr = hist[hist["column"] == sr_col]
    base_dur_bins = pd.DataFrame({"bin_lo": base_bins, "count": base_dur["count"].to_numpy()})
    base_sr = baseline[baseline["column_name"] == sr_col][["bin_lo", "count"]]
    ks = round(ks_statistic(cur_dur, base_dur_bins), 6)
    psi = round(psi_statistic(cur_sr, base_sr), 6)
    return {
        "ks_dur": ks,
        "psi_sr": psi,
        "ks_pass": bool(ks <= ks_threshold),
        "psi_pass": bool(psi <= psi_threshold),
    }
