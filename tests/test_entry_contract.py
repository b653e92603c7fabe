"""Mimics the driver's correctness gate: run every ``queries()`` entry
and compare against its ``oracle_sql()`` DuckDB result at sf=0.01 —
row count + column set + order-insensitive value comparison."""

import json
import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def _normalize(pdf):
    cols = sorted(pdf.columns)
    rows = [tuple(_canon(r[c]) for c in cols) for _, r in pdf.iterrows()]
    return cols, sorted(rows)


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLES.keys()))
def test_query_matches_oracle(spark, duck, name):
    assert name in QUERIES, f"oracle {name} has no queries() entry"
    spark_pdf = QUERIES[name](spark, SF_DIR).toPandas()
    duck_pdf = duck.execute(ORACLES[name]).df()
    s_cols, s_rows = _normalize(spark_pdf)
    d_cols, d_rows = _normalize(duck_pdf)
    assert s_cols == d_cols, f"{name}: column mismatch {s_cols} vs {d_cols}"
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    mismatches = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:5]
    assert not mismatches, f"{name}: value mismatches (first 5): {mismatches}"


@pytest.mark.parametrize(
    "name", sorted(set(QUERIES.keys()) - set(ORACLES.keys()))
)
def test_rows_only_queries_run(spark, name):
    """Non-SQL-expressible ops must at least run with a stable schema."""
    df = QUERIES[name](spark, "/root/testdata/sf0.001")
    assert df.columns
    assert df.count() >= 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert df.columns == ["keyword", "keyword_path", "n_violations"]
    assert len(rows) >= 1  # orders data violates the schema somewhere


def test_queries_order_least_covered_oracles_first(monkeypatch):
    """Oracle-backed queries lead, fewest CORRECTNESS_r*.json rows
    first (stable on registry order); rows-only queries follow."""
    order = list(QUERIES)
    registry = list(entry_mod._query_registry())
    assert sorted(order) == sorted(registry)
    counts = entry_mod._correctness_counts()
    backed = [k for k in registry if k in ORACLES]
    assert order[: len(backed)] == sorted(backed, key=lambda k: counts.get(k, 0))
    assert order[:5] == [
        "events_click_attribution",
        "events_sessions",
        "events_session_stats",
        "lineitem_price_quantiles",
        "orders_top3_per_customer",
    ]
    assert all(counts.get(k, 0) == 0 for k in order[:5])
    assert all(counts.get(k, 0) > 0 for k in order[5 : len(backed)])
    # no CORRECTNESS files: the registry order is unchanged
    monkeypatch.setattr(entry_mod, "_correctness_counts", dict)
    assert list(entry_mod.queries())[: len(backed)] == backed


def test_correctness_counts_reads_round_files(tmp_path, monkeypatch):
    """Counts, per query, the CORRECTNESS_r*.json files beside the entry
    module that hold a row for it; other JSON files are ignored."""
    monkeypatch.setattr(entry_mod, "__file__", str(tmp_path / "__spark_entry__.py"))
    assert entry_mod._correctness_counts() == {}
    row = {"rows_match": True}
    for name, keys in [
        ("CORRECTNESS_r01.json", ["a", "b"]),
        ("CORRECTNESS_r02.json", ["a"]),
        ("CORRECTNESS.json", ["c"]),
        ("BENCH_r01.json", ["d"]),
    ]:
        (tmp_path / name).write_text(json.dumps({k: row for k in keys}))
    assert entry_mod._correctness_counts() == {"a": 2, "b": 1}


def test_embedding_topk_registry():
    """Embedding top-k keeps the exact query (oracle-backed) and the
    index-backed ones; the dominated variants' queries are gone."""
    for name in ("embedding_ivf_topk", "embedding_ann_recall", "embedding_ann_indexed"):
        assert name in QUERIES and name not in ORACLES
    assert "embedding_topk" in QUERIES and "embedding_topk" in ORACLES
    removed = {
        "embedding_ann_topk", "embedding_ivfpq_topk", "embedding_pq_topk",
        "embedding_quantized_topk", "embedding_quantized_recall",
    }
    assert not removed & (set(QUERIES) | set(ORACLES))


def test_ann_recall_gate_measures_ivf(spark):
    """The recall gate compares the IVF probe with the exact scan, both
    without the query's own row."""
    from jschon_spark.operators.similarity import brute_force_topk

    sf_dir = "/root/testdata/sf0.001"
    got = [tuple(r) for r in QUERIES["embedding_ann_recall"](spark, sf_dir).collect()]
    emb = entry_mod._t(spark, sf_dir, "embeddings")
    query = emb.where("vec_id = 0").select("embedding").collect()[0][0]
    exact = [r.vec_id for r in brute_force_topk(emb, query, k=11).collect() if r.vec_id != 0][:10]
    approx = [r.vec_id for r in entry_mod._ivf_topk(spark, sf_dir, k=11).collect() if r.vec_id != 0][:10]
    overlap = len(set(exact) & set(approx))
    hit = int(exact[0] in approx)
    assert got == [(1, hit, float(hit)), (10, overlap, round(overlap / 10.0, 2))]
