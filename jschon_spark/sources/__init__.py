"""Sources beyond plain Parquet: WebDataset-style tar shards
(``sources.webdataset``). Clip, transcript and TPC-H-shaped tables are
read with ``spark.read.parquet``; the clips layout is
Iceberg-format-ready (directory partitioning on part_id ≙ the Iceberg
partition spec, SURVEY.md §7.1).
"""
