"""Seeded benchmark inputs, their on-disk cache and the exact oracles.

A seed picks one of ``BLOCKS`` blocks of fixture row ids:
``row_offset(seed, rows)`` is a multiple of ``fixtures.MOD``, so every
block carries the same injected violations at the same slots and the
expected counts follow from the row ids alone (``clips_oracle``). Inputs
are generated once per (block, rows) and cached under the work
directory, so a series of runs pays generation at most ``BLOCKS`` times
per workload; generation time is reported apart from set-up time.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import time

import numpy as np

from jschon_spark import fixtures as fx

# hot clip ids embed the row id in 8 digits; keep every id below 10**8
# so they stay unique
MAX_ROW_ID = 10**8
BLOCKS = 4

ROW_KEYWORDS = ("pattern", "enum", "minimum", "maximum", "required", "maxLength")
AUDIO_KEYWORDS = ("decode", "frames", "snr")
_ROW_SLOTS = {
    "pattern": fx.SLOT_PATTERN,
    "enum": fx.SLOT_ENUM,
    "minimum": fx.SLOT_MIN,
    "maximum": fx.SLOT_MAX,
    "required": fx.SLOT_REQUIRED,
    "maxLength": fx.SLOT_MAXLEN,
}


def row_offset(seed: int, rows: int) -> int:
    """First row id of the block that ``seed`` selects: a multiple of
    ``fixtures.MOD`` with every block below ``MAX_ROW_ID``."""
    stride = -(-rows // fx.MOD) * fx.MOD
    if stride * BLOCKS > MAX_ROW_ID:
        raise ValueError(f"{BLOCKS} blocks of {rows} rows do not fit below row id {MAX_ROW_ID}")
    return (seed % BLOCKS) * stride


def clips_oracle(offset: int, rows: int, pending_parts=None, audio: bool = True) -> dict:
    """Exact expected outputs of ``run_validation`` over fixture rows
    ``[offset, offset + rows)`` joined with their transcripts, restricted
    to clips in ``pending_parts`` (all partitions when None). Derived
    from the row ids and the fixture's injection slots only."""
    ids = np.arange(offset, offset + rows, dtype=np.int64)
    slot = ids % fx.MOD
    part = ids % fx.N_PARTS
    scope = np.ones(rows, bool) if pending_parts is None else np.isin(part, list(pending_parts))
    prev_scope = np.concatenate([[False], scope[:-1]])  # row id - 1 is in scope
    next_scope = np.concatenate([scope[1:], [False]])  # row id + 1 is in scope
    dup = slot == fx.SLOT_DUP  # carries the clip_id of row id - 1

    def n(mask) -> int:
        return int(np.count_nonzero(mask))

    out = {
        "n_rows": n(scope),
        "keywords": {k: n(scope & (slot == s)) for k, s in _ROW_SLOTS.items()},
        "n_invalid": n(scope & np.isin(slot, list(_ROW_SLOTS.values()))),
        "n_null_transcripts": n(scope & (slot == fx.SLOT_REQUIRED)),
        # a duplicate key needs both rows that share it in scope
        "duplicates": n(scope & dup & prev_scope),
        # the clip whose transcripts row was dropped
        "missing_transcripts": n(scope & (slot == fx.SLOT_NO_TRANSCRIPT)),
        # transcripts rows whose clip_id no in-scope clip carries: the
        # injected orphans, plus every kept row whose key is out of scope.
        # A key is in scope through its own row, or through the duplicate
        # at row id + 1 that copies it; a duplicate's key through row id - 1.
        "orphan_transcripts": n(slot == fx.SLOT_ORPHAN)
        + n(
            (slot != fx.SLOT_NO_TRANSCRIPT)
            & ~np.where(
                dup,
                scope | prev_scope,
                scope | (next_scope & (np.roll(slot, -1) == fx.SLOT_DUP)),
            )
        ),
        # distinct keys with a text mismatch: the injected edits, plus
        # every duplicated key with a clip in scope (each clip row meets
        # the other row's transcript, whose text differs)
        "transcript_mismatches": n(scope & (slot == fx.SLOT_TEXT_MISMATCH))
        + n(dup & (scope | prev_scope)),
    }
    if audio:
        out["audio_keywords"] = {
            "decode": 0,
            # oversized rows keep at most max_dur_ms of audio
            "frames": n(scope & np.isin(slot, [fx.SLOT_TRUNC, fx.SLOT_MAX])),
            "snr": n(scope & (slot == fx.SLOT_SNR)),
        }
        out["audio_invalid"] = sum(out["audio_keywords"].values())
    return out


def _write_chunk(out_dir: str, chunk: int, lo: int, hi: int, audio: bool, max_dur_ms: int) -> None:
    """Generate fixture rows ``[lo, hi)`` and write them as one parquet
    file per clips partition plus one transcripts file."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = np.arange(lo, hi)
    clips = fx.gen_clips_batch(ids, audio=audio, max_dur_ms=max_dur_ms)
    for part, rows in clips.groupby("part_id"):
        part_dir = os.path.join(out_dir, "clips.parquet", f"part_id={part}")
        os.makedirs(part_dir, exist_ok=True)
        table = pa.Table.from_pandas(rows.drop(columns="part_id"), preserve_index=False)
        pq.write_table(table, os.path.join(part_dir, f"chunk-{chunk:03d}.parquet"))
    side = pa.Table.from_pandas(fx.gen_transcripts_batch(ids), preserve_index=False)
    pq.write_table(side, os.path.join(out_dir, "transcripts.parquet", f"chunk-{chunk:03d}.parquet"))


def _cached(path: str, build) -> dict:
    """Return the cached ``meta.json`` under ``path``, building it with
    ``build(tmp_dir) -> dict`` first when absent. The directory appears
    atomically, so an interrupted build is never mistaken for a cache hit."""
    meta_path = os.path.join(path, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        meta.update(cache_hit=True, generate_s=0.0)
        return meta
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    meta = build(tmp)
    meta["generate_s"] = time.perf_counter() - t0
    with open(os.path.join(tmp, "meta.json"), "w") as f:
        json.dump(meta, f)
    try:
        os.rename(tmp, path)
    except OSError:  # a concurrent run published the same inputs first
        shutil.rmtree(tmp)
    meta["cache_hit"] = False
    return meta


def clips_inputs(cache_dir: str, seed: int, rows: int, audio: bool, max_dur_ms: int, workers: int) -> dict:
    """Clips (partitioned by ``part_id``) and transcripts parquet for the
    seed's row block, generated by ``workers`` processes without Spark so
    that generation leaves nothing behind in the measured session.
    Returns paths, the row offset and generation time."""
    offset = row_offset(seed, rows)
    kind = "audio" if audio else "meta"
    path = os.path.join(cache_dir, f"clips-{kind}-offset{offset}-rows{rows}-dur{max_dur_ms}")

    def build(tmp: str) -> dict:
        os.makedirs(os.path.join(tmp, "transcripts.parquet"))
        bounds = np.linspace(offset, offset + rows, 2 * workers + 1).astype(int)
        jobs = [
            (tmp, i, int(lo), int(hi), audio, max_dur_ms)
            for i, (lo, hi) in enumerate(zip(bounds[:-1], bounds[1:]))
        ]
        with multiprocessing.get_context("spawn").Pool(workers) as pool:
            pool.starmap(_write_chunk, jobs)
        # flush the new files now, so their writeback does not overlap
        # the measured part of the run
        os.sync()
        return {"offset": offset, "rows": rows}

    meta = _cached(path, build)
    meta["clips"] = os.path.join(path, "clips.parquet")
    meta["transcripts"] = os.path.join(path, "transcripts.parquet")
    return meta


# sf0.01-shaped TPC-H orders and customer tables (15k and 1.5k rows), with
# the value ranges of the contract test data so the schemas' keywords fail
# on real fractions of rows
ORDERS_ROWS = 15_000
CUSTOMER_ROWS = 1_500
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def tpch_tables(seed: int) -> dict:
    """pyarrow ``orders`` and ``customer`` tables drawn from ``seed``."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    days = rng.integers(0, 365 * 7, ORDERS_ROWS)
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(ORDERS_ROWS, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, CUSTOMER_ROWS, ORDERS_ROWS)),
            "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]), ORDERS_ROWS)),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, ORDERS_ROWS), 2)),
            "o_orderdate": pa.array(
                (np.datetime64("1994-01-01") + days).astype("datetime64[us]")
            ),
            "o_orderpriority": pa.array(rng.choice(_PRIORITIES, ORDERS_ROWS)),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(np.arange(CUSTOMER_ROWS, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(CUSTOMER_ROWS)]),
            "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMER_ROWS).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, CUSTOMER_ROWS), 2)),
            "c_mktsegment": pa.array(rng.choice(_SEGMENTS, CUSTOMER_ROWS)),
        }
    )
    return {"orders": orders, "customer": customer}


def tpch_oracle(orders_path: str, customer_path: str) -> dict:
    """Verdict and violation counts from DuckDB running the contract's
    own oracle SQL (``__spark_entry__.oracle_sql``) over the parquet."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{orders_path}')")
        con.execute(f"CREATE VIEW customer AS SELECT * FROM read_parquet('{customer_path}')")
        n_valid, n_invalid = con.execute(
            f"SELECT sum(n_valid), sum(n_invalid) FROM ({sql['validate_orders_flag']})"
        ).fetchone()
        (n_viols,) = con.execute(
            f"SELECT count(*) FROM ({sql['validate_orders_violations']})"
        ).fetchone()
        c_valid, c_rows = con.execute(
            "SELECT count(*) FILTER (WHERE valid), count(*) "
            f"FROM ({sql['validate_customer_applicators']})"
        ).fetchone()
    finally:
        con.close()
    return {
        "orders": {"n_valid": int(n_valid), "n_invalid": int(n_invalid), "n_violations": int(n_viols)},
        "customer": {"n_valid": int(c_valid), "n_invalid": int(c_rows - c_valid)},
    }


def tpch_inputs(cache_dir: str, seed: int) -> dict:
    """Cached orders/customer parquet for ``seed`` plus their oracle."""
    import pyarrow.parquet as pq

    path = os.path.join(cache_dir, f"tpch-seed{seed}")

    def build(tmp: str) -> dict:
        tables = tpch_tables(seed)
        for name, table in tables.items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        return {
            "oracle": tpch_oracle(
                os.path.join(tmp, "orders.parquet"), os.path.join(tmp, "customer.parquet")
            )
        }

    meta = _cached(path, build)
    meta["orders"] = os.path.join(path, "orders.parquet")
    meta["customer"] = os.path.join(path, "customer.parquet")
    return meta
