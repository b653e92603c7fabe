"""Tar-shard (WebDataset-convention) source and sink.

Large multimodal training corpora ship as directories of tar shards
whose members follow the public WebDataset naming convention
(github.com/webdataset/webdataset): members of one logical sample share
a key, `<key>.<ext>` — e.g. ``000017.wav`` + ``000017.json`` +
``000017.txt``. The SHARD is the unit of parallelism and of sequential
I/O: readers stream whole shards, never seek per sample.

Spark mapping:

- ``read_tar_shards``: ``spark.read.format("binaryFile")`` lists the
  shards (one task per shard — binaryFile never splits a file) and a
  ``mapInPandas`` stage untars each in memory via stdlib ``tarfile``,
  emitting one row per member ``(shard, key, ext, bytes)``. Listing,
  scheduling, and retries are Spark's; the Python stage is pure
  per-shard CPU. Column pruning cannot reach inside a tar, so filter
  by ext EARLY (``exts=`` pushes the filter into the untar loop — a
  metadata-only read of a .wav corpus never materializes the .json
  members).
- ``group_samples``: one row per (shard, key) with a ``map<ext,binary>``
  — one groupBy on the sample key. At shard-local key spaces this
  shuffles sample-sized rows once; downstream operators (audio decode,
  image stats) take the map column directly.
- ``write_tar_shards``: the sink — repartition to the target shard
  count, then one ``mapInPandas`` writes one tar per partition
  (members sorted by key within the shard, per the convention) and
  returns a manifest row per shard (path, samples, bytes) so the write
  is observable without re-listing.

Payload bytes cross into Python exactly once in each direction; no
driver-side file handling anywhere.

Reference scope note: handrews/jschon has no source surface beyond
in-memory JSON; this module is part of the training-data-pipeline
extension (SURVEY.md §2.11).
"""

from __future__ import annotations

import io
import os
import tarfile
from typing import Iterable, Optional

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MEMBER_SCHEMA = "shard string, key string, ext string, bytes binary"
MANIFEST_SCHEMA = "shard_path string, n_members long, n_bytes long"


def _split_member(name: str) -> tuple[str, str]:
    """WebDataset key split: everything up to the FIRST dot of the
    basename is the key, the rest is the extension (so
    ``a/b/0001.seg.wav`` → key ``a/b/0001``, ext ``seg.wav``)."""
    dirname, base = os.path.split(name)
    dot = base.find(".")
    if dot <= 0:
        return name, ""
    key = base[:dot]
    return (f"{dirname}/{key}" if dirname else key), base[dot + 1 :]


def read_tar_shards(
    spark: SparkSession,
    path: str,
    exts: Optional[Iterable[str]] = None,
    recursive: bool = False,
) -> DataFrame:
    """One row per tar member across every shard under ``path``
    (``(shard, key, ext, bytes)``). One Spark task per shard; pass
    ``exts`` to drop unwanted members inside the untar loop before
    they ever become rows."""
    want = set(exts) if exts is not None else None

    reader = spark.read.format("binaryFile")
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    shards = reader.load(path).select("path", "content")

    def gen(batches):
        for pdf in batches:
            for shard_path, content in zip(pdf["path"], pdf["content"]):
                rows = []
                with tarfile.open(fileobj=io.BytesIO(content), mode="r:*") as tf:
                    for m in tf:
                        if not m.isfile():
                            continue
                        key, ext = _split_member(m.name)
                        if want is not None and ext not in want:
                            continue
                        fobj = tf.extractfile(m)
                        if fobj is None:
                            continue
                        rows.append((shard_path, key, ext, fobj.read()))
                yield pd.DataFrame(rows, columns=["shard", "key", "ext", "bytes"])

    return shards.mapInPandas(gen, MEMBER_SCHEMA)


def group_samples(members: DataFrame) -> DataFrame:
    """One row per logical sample: ``(shard, key, parts map<ext,binary>)``
    — a single hash aggregation on the sample key."""
    return members.groupBy("shard", "key").agg(
        F.map_from_entries(F.collect_list(F.struct("ext", "bytes"))).alias("parts")
    )


def write_tar_shards(
    members: DataFrame,
    out_dir: str,
    n_shards: int,
    prefix: str = "shard",
) -> DataFrame:
    """Write ``(key, ext, bytes)`` rows as ``n_shards`` tar shards under
    ``out_dir`` (samples hash-assigned to shards by key so all members
    of a sample land together; members sorted by (key, ext) within a
    shard). Returns the manifest DataFrame — collect/write it AFTER
    this action to observe the shard paths. Repartition + one
    mapInPandas; each task streams one tar to disk."""

    def gen(it):
        buf_rows = []
        for pdf in it:
            buf_rows.append(pdf[["key", "ext", "bytes"]])
        import pandas as _pd
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if not buf_rows:
            yield _pd.DataFrame([], columns=["shard_path", "n_members", "n_bytes"])
            return
        all_rows = _pd.concat(buf_rows).sort_values(["key", "ext"])
        os.makedirs(out_dir, exist_ok=True)
        shard_path = os.path.join(out_dir, f"{prefix}-{pid:06d}.tar")
        n_bytes = 0
        with tarfile.open(shard_path, "w") as tf:
            for _, r in all_rows.iterrows():
                data = bytes(r["bytes"])
                info = tarfile.TarInfo(name=f"{r['key']}.{r['ext']}")
                info.size = len(data)
                tf.addfile(info, io.BytesIO(data))
                n_bytes += len(data)
        yield _pd.DataFrame(
            [(shard_path, len(all_rows), n_bytes)],
            columns=["shard_path", "n_members", "n_bytes"],
        )

    return members.repartition(n_shards, "key").mapInPandas(gen, MANIFEST_SCHEMA)
