"""Deterministic sampling operators for training-mix construction.

``sample()``/``rand()`` are banned here on purpose: a training-data
pipeline needs samples that are (a) reproducible across reruns and
resumable jobs, (b) independent of partitioning/row order, and (c)
verifiable by an external engine.  The standard trick is hash-gated
Bernoulli: keep a row iff a cryptographic hash of (stable key ‖ salt)
falls below the rate threshold.  We compare the first 8 hex chars of
``md5`` against an 8-hex-digit threshold — a plain string comparison
that MD5-capable engines (Spark, DuckDB, Presto, …) evaluate
identically, so the DuckDB oracle verifies the exact sample.

Everything is JVM-side codegen (md5/substring/comparison — no UDF, no
shuffle): the sample is a pure map-side filter, which is also the 100 TB
story — selectivity reaches the parquet scan as a post-scan filter and
the op adds zero exchanges.  Changing ``salt`` draws an independent
sample; keeping it fixed makes the sample stable under retries and
incremental appends (new rows don't re-flip old rows' coins).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX_SPAN = 16**8  # the 8-hex-digit coin space


def rate_threshold_hex(rate: float) -> str:
    """8-hex-digit threshold such that P(substr(md5,1,8) < t) = rate.

    rate >= 1 maps to ``"g"`` — lexicographically above every hex
    string, i.e. keep-all — and rate <= 0 to ``"00000000"`` (keep
    none), so boundary strata need no special-casing in the filter."""
    if rate >= 1.0:
        return "g"
    n = int(round(rate * _HEX_SPAN))
    if n <= 0:
        return "00000000"
    return format(n, "08x")


def hash_coin(key: Column, salt: str) -> Column:
    """The row's coin: first 8 hex chars of md5(key ‖ '|' ‖ salt)."""
    return F.substring(F.md5(F.concat(key.cast("string"), F.lit("|" + salt))), 1, 8)


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str,
    key_col: str,
    default_rate: float = 0.0,
    salt: str = "mix-v1",
) -> DataFrame:
    """Per-stratum hash-gated Bernoulli sample — the training-mix
    primitive ("keep 50% of en, 25% of de, 5% of the rest").  The
    per-stratum threshold is a small CASE expression folded into the
    row filter, so the whole op stays a map-side scan filter."""
    thr: Column = F.lit(rate_threshold_hex(default_rate))
    for value, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == value, F.lit(rate_threshold_hex(rate))).otherwise(thr)
    return df.where(hash_coin(F.col(key_col), salt) < thr)


def temperature_rates(
    counts: dict[str, int], alpha: float = 0.7, target_frac: float = 1.0
) -> dict[str, float]:
    """Temperature-scaled mixture rates — the standard multilingual /
    multi-source rebalancing rule (sample stratum s with probability
    proportional to p_s^alpha, p_s = count_s / total; alpha=1 keeps the
    natural mix, alpha→0 approaches uniform-over-strata; see e.g.
    mBERT/XLM-R exponential-smoothing sampling, Conneau et al. 2020).

    Returns per-stratum KEEP rates for ``stratified_sample`` such that
    the expected output is ``target_frac`` of the corpus with stratum
    shares ∝ p_s^alpha. Rates are capped at 1.0 (hash-gated sampling
    never upsamples); when the cap binds, the realized mix flattens
    toward the cap — callers wanting exact shares lower target_frac
    until no cap binds (the returned dict is exactly what was applied,
    so the caller can check: rate < 1.0 for every stratum)."""
    if not counts:
        return {}
    total = float(sum(counts.values()))
    if total <= 0:
        return {s: 0.0 for s in counts}
    weights = {s: (c / total) ** alpha if c > 0 else 0.0 for s, c in counts.items()}
    wsum = sum(weights.values()) or 1.0
    want_total = target_frac * total
    return {
        s: min(1.0, (want_total * weights[s] / wsum) / counts[s]) if counts[s] else 0.0
        for s in counts
    }


def temperature_sample(
    df: DataFrame,
    strata_col: str,
    key_col: str,
    alpha: float = 0.7,
    target_frac: float = 1.0,
    salt: str = "mix-v1",
) -> DataFrame:
    """One-stop temperature rebalancing: ONE count-by-stratum pass
    (partial-aggregated; stratum cardinality is small by construction)
    computes the rates, then the same map-side hash-gated filter as
    stratified_sample applies them — deterministic, append-stable, and
    externally replayable (an oracle recomputes both the counts and
    the md5 coins).

    Rows with a NULL stratum take no part in the temperature mix: they
    are excluded from the count pass and fall through to
    ``default_rate=0.0`` in the applied filter (``col == value`` is
    never true for NULL), i.e. they are dropped from the sample."""
    counts = {
        r[strata_col]: r["n"]
        for r in df.where(F.col(strata_col).isNotNull())
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rates = temperature_rates(counts, alpha=alpha, target_frac=target_frac)
    return stratified_sample(
        df, rates, strata_col=strata_col, key_col=key_col, default_rate=0.0, salt=salt
    )
