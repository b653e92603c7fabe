"""Schema inference: profiles from one aggregation pass, the emitted
2020-12 schema, and the round trip through the real compiler (the
profiled table validates clean; perturbed rows violate exactly the
inferred constraint)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from jschon_spark.compiler import compile_schema
from jschon_spark.compiler.infer import infer_schema, profile_table


@pytest.fixture(scope="module")
def table(spark):
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3, 4],
            "name": ["ann", "bo", "cyrus", "dee"],
            "status": ["ok", "ok", "bad", "ok"],
            "score": [0.5, 1.5, 2.5, 3.5],
            "flag": [True, False, True, True],
            "tags": [["a"], ["a", "b"], [], ["c", "d", "e"]],
            "note": ["x", None, "yy", None],
        }
    )
    return spark.createDataFrame(
        pdf,
        schema="id long, name string, status string, score double, "
        "flag boolean, tags array<string>, note string",
    )


def test_profile_single_pass(table):
    p = profile_table(table)
    assert p["id"] == {"kind": "numeric", "n_nulls": 0, "min": 1, "max": 4}
    assert p["score"]["min"] == 0.5 and p["score"]["max"] == 3.5
    assert p["name"]["min_length"] == 2 and p["name"]["max_length"] == 5
    assert p["status"]["enum"] == ["bad", "ok"]
    assert p["note"]["n_nulls"] == 2
    assert p["tags"]["min_items"] == 0 and p["tags"]["max_items"] == 3


def test_inferred_schema_shape(table):
    s = infer_schema(table)
    assert s["type"] == "object"
    assert s["properties"]["id"] == {"type": "integer", "minimum": 1, "maximum": 4}
    assert s["properties"]["score"] == {"type": "number", "minimum": 0.5, "maximum": 3.5}
    assert s["properties"]["status"] == {"enum": ["bad", "ok"]}
    assert s["properties"]["flag"] == {"type": "boolean"}
    assert s["properties"]["tags"]["type"] == "array"
    assert s["properties"]["tags"]["minItems"] == 0
    assert s["properties"]["tags"]["maxItems"] == 3
    assert s["properties"]["tags"]["items"] == {"type": "string"}
    # note has observed nulls -> not required; everything else is
    assert "note" not in s["required"]
    assert set(s["required"]) == {"id", "name", "status", "score", "flag", "tags"}


def test_enum_gate_bounds_collect(spark):
    """High-cardinality strings must NOT become enums (the approx
    count gates the exact collect)."""
    df = spark.range(500).select(
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("c")
    )
    p = profile_table(df, enum_limit=16)
    assert "enum" not in p["c"]
    s = infer_schema(df)
    assert s["properties"]["c"]["maxLength"] == 4  # 'v499'


def test_round_trip_validates_clean(table):
    """The profiled table satisfies its own inferred schema through the
    REAL compiler."""
    s = infer_schema(table)
    cols = list(table.columns)
    out = compile_schema(s).validate(table, instance_columns=cols)
    assert out.where(~F.col("valid")).count() == 0


def test_perturbed_rows_violate(spark, table):
    """Out-of-range / out-of-enum / null-required rows fail with the
    inferred keyword."""
    s = infer_schema(table)
    bad = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [99],  # > inferred maximum 4
                "name": ["ok"],
                "status": ["unknown"],  # not in enum
                "score": [1.0],
                "flag": [True],
                "tags": [["a"]],
                "note": [None],
            }
        ),
        schema=table.schema,
    )
    out = compile_schema(s).validate(bad, instance_columns=list(table.columns))
    row = out.collect()[0]
    assert not row["valid"]
    kws = {v["keyword"] for v in row["violations"]}
    assert "maximum" in kws and "enum" in kws


def test_column_subset(table):
    s = infer_schema(table, columns=["id", "status"])
    assert set(s["properties"]) == {"id", "status"}


def test_inferred_schema_flags_drift(spark, table):
    """The infer → validate → monitor loop: a batch validated against
    the baseline's inferred schema reports nothing when it conforms; a
    drifted batch surfaces each drift as its keyword."""
    from jschon_spark.output import violation_histogram

    schema = infer_schema(table)
    compiled = compile_schema(schema)

    def drift(batch):
        return violation_histogram(compiled.validate(batch, instance_columns=table.columns))

    assert drift(table).count() == 0

    drifted = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [10, 2],  # 10 > max 4
                "name": ["zz", "aa"],
                "status": ["NEW", "ok"],  # new enum member
                "score": [1.0, 2.0],
                "flag": [True, False],
                "tags": [["a"], ["b"]],
                "note": ["x", "y"],
            }
        ),
        schema=table.schema,
    )
    got = {r["keyword"]: r["n_violations"] for r in drift(drifted).collect()}
    assert got.get("maximum") == 1
    assert got.get("enum") == 1
    assert schema["properties"]["status"] == {"enum": ["bad", "ok"]}
