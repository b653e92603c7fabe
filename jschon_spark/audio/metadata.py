"""Container-metadata extraction for audio payloads (WAV INFO, ID3v2).

Corpus curation needs PROVENANCE metadata — title/artist/date/software
tags riding inside the payload container — without decoding any audio:
license audits, source attribution, dedup hints, date filters. This
stage parses:

- **RIFF/WAVE**: the ``fmt `` chunk (format tag, channels, rate, bits)
  and ``LIST``/``INFO`` tag chunks (INAM/IART/ICRD/ICMT/ISFT/IGNR →
  title/artist/date/comment/software/genre — the public RIFF INFO
  registry).
- **ID3v2** (v2.3/v2.4) prefixes: syncsafe-sized header, text frames
  TIT2/TPE1/TALB/TDRC/TYER/TCON with encodings 0-3 (latin-1/UTF-16
  BOM/UTF-16BE/UTF-8). An ID3 tag identifies the container even when
  the audio codec itself (MP3 etc.) is not decodable here — metadata
  extraction and audio decode are independent capabilities, and a
  pipeline gates on ``meta_ok``/``container`` before routing payloads.

Everything is header-sized work on a zero-copy slice walk: the stage
reads only the first bytes it needs, never the audio frames, and ships
back a metadata-sized frame (map<string,string> tags + typed header
fields). Map-only, no shuffle — the same 100 TB shape as every other
per-row stage here.

Reference scope note: handrews/jschon has no audio surface; part of the
training-data-pipeline extension (SURVEY.md §2.11). All formats are
public specifications (RIFF/INFO, id3.org).
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from jschon_spark.audio import riff_chunks, wav_chunks

_INFO_TAGS = {
    b"INAM": "title",
    b"IART": "artist",
    b"ICRD": "date",
    b"ICMT": "comment",
    b"ISFT": "software",
    b"IGNR": "genre",
    b"ICOP": "copyright",
}

_ID3_FRAMES = {
    "TIT2": "title",
    "TPE1": "artist",
    "TALB": "album",
    "TDRC": "date",
    "TYER": "date",
    "TCON": "genre",
    "TCOP": "copyright",
    "TSSE": "software",
}

META_FIELDS = [
    ("container", T.StringType()),  # wav | id3 | None
    ("fmt_tag", T.IntegerType()),
    ("header_sr", T.IntegerType()),
    ("n_channels", T.IntegerType()),
    ("bits_per_sample", T.IntegerType()),
    ("tags", T.MapType(T.StringType(), T.StringType())),
]


def parse_wav_metadata(blob: bytes) -> Optional[dict]:
    """fmt fields + LIST/INFO tags over the one RIFF/WAVE chunk walk
    (``audio.wav_chunks``; the INFO sub-chunks through
    ``audio.riff_chunks``). None if not RIFF/WAVE."""
    chunks = wav_chunks(blob)
    if chunks is None:
        return None
    out = {
        "container": "wav",
        "fmt_tag": None,
        "header_sr": None,
        "n_channels": None,
        "bits_per_sample": None,
        "tags": {},
    }
    for cid, b0, b1 in chunks:
        if cid == b"fmt " and b1 - b0 >= 16:
            tag, nch, sr, _br, _ba, bits = struct.unpack_from("<HHIIHH", blob, b0)
            out.update(
                fmt_tag=int(tag), header_sr=int(sr),
                n_channels=int(nch), bits_per_sample=int(bits),
            )
        elif cid == b"LIST" and blob[b0 : b0 + 4] == b"INFO":
            for sub, s0, s1 in riff_chunks(blob, b0 + 4, b1):
                key = _INFO_TAGS.get(sub)
                if key:
                    out["tags"][key] = blob[s0:s1].split(b"\x00", 1)[0].decode(
                        "latin-1", "replace"
                    )
    return out


def _syncsafe(b: bytes) -> int:
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def _id3_text(payload: bytes) -> str:
    if not payload:
        return ""
    enc, body = payload[0], payload[1:]
    try:
        if enc == 0:
            return body.decode("latin-1", "replace").rstrip("\x00")
        if enc == 1:
            return body.decode("utf-16", "replace").rstrip("\x00")
        if enc == 2:
            return body.decode("utf-16-be", "replace").rstrip("\x00")
        return body.decode("utf-8", "replace").rstrip("\x00")
    except Exception:
        return ""


def parse_id3v2(blob: bytes) -> Optional[dict]:
    """ID3v2.3/2.4 prefix → text-frame tags. None if no ID3 header."""
    if blob is None or len(blob) < 10 or blob[:3] != b"ID3":
        return None
    major = blob[3]
    if major not in (3, 4):
        return None
    size = _syncsafe(blob[6:10])
    end = min(10 + size, len(blob))
    out = {
        "container": "id3",
        "fmt_tag": None,
        "header_sr": None,
        "n_channels": None,
        "bits_per_sample": None,
        "tags": {},
    }
    pos = 10
    if blob[5] & 0x40:  # extended header: skip by its declared size
        if pos + 4 > end:
            return out
        ext = _syncsafe(blob[pos : pos + 4]) if major == 4 else struct.unpack_from(">I", blob, pos)[0] + 4
        pos += ext
    while pos + 10 <= end:
        fid = blob[pos : pos + 4]
        if fid == b"\x00\x00\x00\x00":
            break
        raw_sz = blob[pos + 4 : pos + 8]
        fsz = _syncsafe(raw_sz) if major == 4 else struct.unpack(">I", raw_sz)[0]
        payload = blob[pos + 10 : min(pos + 10 + fsz, end)]
        key = _ID3_FRAMES.get(fid.decode("latin-1", "replace"))
        if key and key not in out["tags"]:
            text = _id3_text(payload)
            if text:
                out["tags"][key] = text
        pos += 10 + fsz
    return out


def extract_audio_metadata(blob: bytes) -> dict:
    """One payload → metadata dict (container None when unrecognized)."""
    got = parse_wav_metadata(blob) or parse_id3v2(blob)
    if got is None:
        return {
            "container": None,
            "fmt_tag": None,
            "header_sr": None,
            "n_channels": None,
            "bits_per_sample": None,
            "tags": None,
        }
    return got


def with_audio_metadata(df: DataFrame, blob_col: str = "bytes") -> DataFrame:
    """Append container/fmt/tag metadata columns — mapInPandas, reads
    only container headers (never audio frames), output is
    metadata-sized. Malformed containers yield container=None rows,
    never task failures."""
    out_fields = list(df.schema.fields) + [
        T.StructField(name, dt) for name, dt in META_FIELDS
    ]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            metas = []
            for b in pdf[blob_col]:
                try:
                    metas.append(extract_audio_metadata(bytes(b) if b is not None else b""))
                except Exception:
                    metas.append(extract_audio_metadata(b""))
            for name, _ in META_FIELDS:
                pdf[name] = [m[name] for m in metas]
            yield pdf

    return df.mapInPandas(run, T.StructType(out_fields))
