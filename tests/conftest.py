"""Shared fixtures: one session-scoped SparkSession + DuckDB oracle diff."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="session")
def spark():
    from a_tree_spark.engine.session import get_spark

    spark = get_spark("a_tree_spark-tests", cpus=4, shuffle_partitions=8,
                      extra_conf={"spark.driver.memory": "8g"})
    yield spark
    spark.stop()


def event_batch(attributes, events: list[dict]):
    """Typed Arrow RecordBatch of ``events``, one column per attribute
    of ``attributes`` (a missing key is null) — the evaluator's only
    input format. FLOAT columns are decimals at scale 9, wider than the
    evaluator's scale 6, so its own rounding is exercised."""
    import pyarrow as pa

    from a_tree_spark.expr.schema import AttributeKind as K

    types = {
        K.BOOLEAN: pa.bool_(),
        K.INTEGER: pa.int64(),
        K.FLOAT: pa.decimal128(28, 9),
        K.STRING: pa.string(),
        K.INTEGER_LIST: pa.list_(pa.int64()),
        K.STRING_LIST: pa.list_(pa.string()),
    }
    return pa.record_batch(
        [
            pa.array([e.get(d.name) for e in events], type=types[d.kind])
            for d in attributes
        ],
        names=attributes.names(),
    )


def duck_connection(sf_dir: str = SF_DIR) -> duckdb.DuckDBPyConnection:
    """Mirror the driver's harness: every table pre-registered as a view."""
    con = duckdb.connect()
    for table in TABLES:
        path = os.path.join(sf_dir, f"{table}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _normalize(value):
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        return round(value, 9)
    if hasattr(value, "tolist"):  # numpy arrays from duckdb
        return tuple(_normalize(v) for v in value.tolist())
    if isinstance(value, (list, tuple)):
        return tuple(_normalize(v) for v in value)
    import decimal

    if isinstance(value, decimal.Decimal):
        return str(value.normalize())
    return value


def rows_of(records) -> list[tuple]:
    # key=repr: total order even for rows mixing NULLs with values
    return sorted(
        (tuple(_normalize(v) for v in row) for row in records), key=repr
    )


def _spark_pandas_family(data_type) -> str:
    """What family of pandas dtype the DRIVER will see for a Spark
    column. The driver diffs via pandas value hashes, which are
    byte-sensitive: a DuckDB HUGEINT (uncast windowed SUM) arrives as
    float64 while Spark emits int64 — rows/schema match, hash breaks
    (round-2 raster_vector, round-5 sessionize)."""
    t = data_type.simpleString()
    if t in ("bigint", "int", "smallint", "tinyint"):
        return "integer"
    if t in ("double", "float"):
        return "float"
    if t == "boolean":
        return "bool"
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith("timestamp") or t == "date":
        return "datetime"
    return "object"  # string / array / binary / map / struct


def assert_driver_dtypes(spark_df, oracle_pdf):
    """Pin the oracle's pandas dtypes (what the driver's `.df()` path
    yields) to the Spark schema. Catches the HUGEINT/Decimal dialect
    traps that are invisible to fetchall() (Python int == numpy
    float64 compares equal, but the driver's value hash does not)."""
    import decimal

    fields = {f.name: f for f in spark_df.schema.fields}
    assert sorted(oracle_pdf.columns) == sorted(fields), (
        f"column mismatch: spark={sorted(fields)} "
        f"oracle={sorted(oracle_pdf.columns)}"
    )
    for c in oracle_pdf.columns:
        family = _spark_pandas_family(fields[c].dataType)
        dt = oracle_pdf[c].dtype
        if family == "decimal":
            raise AssertionError(
                f"{c}: Spark emits DECIMAL — the driver's pandas hash "
                f"cannot compare Decimal residue; cast to BIGINT/DOUBLE "
                f"in BOTH engines"
            )
        if family == "integer":
            if dt.kind in "iu":
                continue
            if dt.kind == "f" and bool(oracle_pdf[c].isna().any()):
                # pandas promotes nullable ints to float64 on BOTH the
                # Spark and oracle sides — but ONLY skip when the Spark
                # field is actually nullable AND every non-null value
                # round-trips exactly through float64; a nullable
                # HUGEINT aggregate past 2^53 is precision-lossy in the
                # driver's hash even though both sides are float64
                # (ADVICE r6 tightened the blanket NaN bypass)
                nonnull = oracle_pdf[c].dropna()
                roundtrips = bool(
                    len(nonnull) == 0
                    or (
                        (nonnull == nonnull.round()).all()
                        and nonnull.abs().le(2.0**53).all()
                    )
                )
                if fields[c].nullable and roundtrips:
                    continue
            raise AssertionError(
                f"{c}: Spark {fields[c].dataType.simpleString()} but "
                f"oracle pandas dtype {dt} — HUGEINT trap: CAST the "
                f"oracle aggregate to BIGINT (nullable-int bypass needs "
                f"a nullable Spark field and exact float64 round-trip)"
            )
        if family == "float":
            assert dt.kind == "f", f"{c}: Spark float but oracle {dt}"
        elif family == "bool":
            assert dt.kind in "bO", f"{c}: Spark boolean but oracle {dt}"
        elif family == "datetime":
            assert dt.kind == "M", f"{c}: Spark timestamp but oracle {dt}"
        elif family == "object":
            assert dt.kind == "O", (
                f"{c}: Spark {fields[c].dataType.simpleString()} but "
                f"oracle pandas dtype {dt}"
            )
            nonnull = oracle_pdf[c].dropna()
            if len(nonnull) and isinstance(nonnull.iloc[0], decimal.Decimal):
                raise AssertionError(
                    f"{c}: oracle yields Decimal objects — cast to "
                    f"BIGINT/DOUBLE (driver hash breaks on Decimal)"
                )


def assert_matches_duckdb(spark_df, oracle_sql: str, sf_dir: str = SF_DIR):
    """Order-insensitive row diff of a Spark DataFrame vs DuckDB SQL,
    with columns aligned by name (the driver sorts columns by name),
    PLUS a driver-fidelity dtype check: the oracle is also fetched via
    `.df()` (the driver's pandas path) and its dtypes pinned to the
    Spark schema."""
    con = duck_connection(sf_dir)
    assert_driver_dtypes(spark_df, con.execute(oracle_sql).df())
    oracle = con.execute(oracle_sql)
    oracle_cols = [d[0] for d in oracle.description]
    oracle_rows = oracle.fetchall()
    con.close()

    spark_cols = spark_df.columns
    assert sorted(spark_cols) == sorted(oracle_cols), (
        f"column mismatch: spark={sorted(spark_cols)} oracle={sorted(oracle_cols)}"
    )
    order = sorted(spark_cols)
    spark_rows = [
        tuple(row[c] for c in order) for row in spark_df.collect()
    ]
    oracle_index = {c: i for i, c in enumerate(oracle_cols)}
    oracle_rows = [
        tuple(row[oracle_index[c]] for c in order) for row in oracle_rows
    ]
    got, want = rows_of(spark_rows), rows_of(oracle_rows)
    assert got == want, (
        f"row mismatch: spark={len(got)} oracle={len(want)}\n"
        f"first spark-only: {[r for r in got if r not in want][:3]}\n"
        f"first oracle-only: {[r for r in want if r not in got][:3]}"
    )
