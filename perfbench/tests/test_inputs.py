"""The seed-offset oracle against a brute-force count over generated rows."""

import numpy as np
import pandas as pd
import pytest

from jschon_spark import fixtures as fx
from perfbench import inputs

ROWS = 3000
SEED = 7


def test_row_offset_is_a_slot_aligned_block():
    offsets = {inputs.row_offset(s, ROWS) for s in range(2 * inputs.BLOCKS)}
    assert len(offsets) == inputs.BLOCKS
    assert all(o % fx.MOD == 0 and o + ROWS <= inputs.MAX_ROW_ID for o in offsets)
    assert inputs.row_offset(SEED, ROWS) == inputs.row_offset(SEED + inputs.BLOCKS, ROWS) > 0


def _brute_force(offset, pending):
    ids = np.arange(offset, offset + ROWS)
    clips = fx.gen_clips_batch(ids, audio=False)
    side = fx.gen_transcripts_batch(ids)
    if pending is not None:
        clips = clips[clips["part_id"].isin(pending)]
    t = clips["transcript"]
    keywords = {
        "pattern": int((~clips["clip_id"].str.match("^clip-[0-9a-f]")).sum()),
        "enum": int((~clips["sr_hz"].isin([8000, 16000, 22050, 44100, 48000])).sum()),
        "minimum": int((clips["dur_ms"] < 20).sum()),
        "maximum": int((clips["dur_ms"] > 600000).sum()),
        "required": int(t.isna().sum()),
        "maxLength": int((t.str.len() > 4096).sum()),
    }
    pairs = clips.merge(side, on="clip_id")
    same = (pairs["transcript"] == pairs["text"]) | (pairs["transcript"].isna() & pairs["text"].isna())
    return {
        "n_rows": len(clips),
        "keywords": keywords,
        "duplicates": int((clips["clip_id"].value_counts() > 1).sum()),
        "missing_transcripts": int((~clips["clip_id"].isin(set(side["clip_id"]))).sum()),
        "orphan_transcripts": int((~side["clip_id"].isin(set(clips["clip_id"]))).sum()),
        "transcript_mismatches": pairs.loc[~same, "clip_id"].nunique(),
    }


@pytest.mark.parametrize("pending", [None, tuple(range(8, 16)), (1, 2, 5, 8, 9)])
def test_oracle_matches_brute_force_with_nonzero_seed(pending):
    offset = inputs.row_offset(SEED, ROWS)
    want = _brute_force(offset, pending)
    got = inputs.clips_oracle(offset, ROWS, pending_parts=pending, audio=False)
    for key, value in want.items():
        assert got[key] == value, key
    assert got["n_invalid"] <= sum(got["keywords"].values())


def test_tpch_tables_are_seeded():
    a, b, c = inputs.tpch_tables(1), inputs.tpch_tables(1), inputs.tpch_tables(2)
    assert a["orders"].equals(b["orders"]) and a["customer"].equals(b["customer"])
    assert not a["orders"].equals(c["orders"])
    assert pd.Series(a["orders"]["o_orderstatus"].to_pylist()).isin(["O", "F", "P"]).all()
