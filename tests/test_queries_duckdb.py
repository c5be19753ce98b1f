"""Local mirror of the driver's correctness gate: every queries() entry
with an oracle_sql() twin must match DuckDB on the same parquet tables —
row count, column names/types, and order-insensitive values.

Round-3 hardening (VERDICT r02 item 2): the round-2 driver failure
(`ann_ivf_train`) was an arrow-TYPE mismatch (DuckDB DECIMAL128(38,0) vs
Spark BIGINT) invisible to a rounded-Python-value compare, because
Decimal(42) == 42 in Python. This gate now ALSO asserts canonical
arrow-level type equality per column, so an uncast SUM in a DuckDB twin
fails locally before it can fail at the driver."""

import hashlib
import math
import os
import sys

import duckdb
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entrymod

SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def _canon_arrow(t: "pa.DataType") -> str:
    """Canonical type string for an arrow type (DuckDB result side)."""
    if pa.types.is_int64(t):
        return "i64"
    if pa.types.is_int32(t):
        return "i32"
    if pa.types.is_int16(t):
        return "i16"
    if pa.types.is_int8(t):
        return "i8"
    if pa.types.is_float64(t):
        return "f64"
    if pa.types.is_float32(t):
        return "f32"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "bin"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "ts"
    if pa.types.is_decimal(t):
        return f"dec({t.precision},{t.scale})"  # deliberately != i64
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{_canon_arrow(t.value_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{_canon_arrow(f.type)}" for f in t)
        return f"struct<{inner}>"
    return str(t)


def _canon_spark(dt) -> str:
    """Canonical type string for a Spark DataType (same alphabet)."""
    from pyspark.sql import types as T

    scalar = {
        T.LongType: "i64", T.IntegerType: "i32", T.ShortType: "i16",
        T.ByteType: "i8", T.DoubleType: "f64", T.FloatType: "f32",
        T.BooleanType: "bool", T.StringType: "str", T.BinaryType: "bin",
        T.DateType: "date", T.TimestampType: "ts", T.TimestampNTZType: "ts",
    }
    for k, v in scalar.items():
        if isinstance(dt, k):
            return v
    if isinstance(dt, T.DecimalType):
        return f"dec({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"list<{_canon_spark(dt.elementType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(f"{f.name}:{_canon_spark(f.dataType)}" for f in dt.fields)
        return f"struct<{inner}>"
    return dt.simpleString()


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9)
    return v


def _rows_to_set(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    # NULL-safe sort: key each cell as (is_null, typename, value) so
    # mixed None/float columns don't break Python's comparison
    return sorted(
        (tuple(_norm(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple((v is None, str(type(v)), "" if v is None else v) for v in t),
    )


QUERY_NAMES = sorted(entrymod.oracle_sql().keys())


@pytest.fixture(scope="module")
def duck():
    con = _duck()
    yield con
    con.close()


@pytest.mark.parametrize("name", QUERY_NAMES)
def test_query_parity(spark, duck, name):
    qfn = entrymod.queries()[name]
    sdf = qfn(spark, SF_DIR)
    srows = sdf.collect()
    scols = sdf.columns

    tbl = duck.execute(entrymod.oracle_sql()[name]).arrow()
    dcols = list(tbl.column_names)
    drows = [tuple(d[c] for c in dcols) for d in tbl.to_pylist()]

    assert sorted(scols) == sorted(dcols), f"{name}: columns {scols} vs {dcols}"
    stypes = {f.name: _canon_spark(f.dataType) for f in sdf.schema.fields}
    dtypes = {f.name: _canon_arrow(f.type) for f in tbl.schema}
    for c in sorted(scols):
        assert stypes[c] == dtypes[c], (
            f"{name}.{c}: canonical type mismatch spark={stypes[c]} "
            f"duckdb={dtypes[c]} (would fail the driver hash)"
        )
    assert len(srows) == len(drows), f"{name}: rows {len(srows)} vs {len(drows)}"
    a = _rows_to_set(scols, [[r[c] for c in scols] for r in srows])
    b = _rows_to_set(dcols, drows)
    mism = [(x, y) for x, y in zip(a, b) if x != y][:3]
    assert a == b, f"{name}: value mismatch, first diffs {mism}"


def test_oracle_sql_texts_pinned():
    """All 88 ``oracle_sql()`` twin texts stay byte-identical: one sha256
    over name + text, names sorted. A change that edits a twin on purpose
    updates this digest and names the texts it changed. Last change:
    training_corpus_v3, training_corpus_v4 and training_corpus_v5 splice
    the shared survivor CTEs (``simsearch._survivors_cte``)."""
    o = entrymod.oracle_sql()
    assert len(o) == 88
    digest = hashlib.sha256("".join(k + o[k] for k in sorted(o)).encode())
    assert digest.hexdigest() == (
        "19e7f770e9be5c425c1a9628e7c9ff09f89fffa74b3b4d139e74c4b4a4f742c4"
    )


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert df.columns == ["conv_id", "turn_idx", "turn_seq", "main_text", "spans"]
    assert len(rows) > 0


def test_rows_only_queries(spark):
    qs, osql = entrymod.queries(), entrymod.oracle_sql()
    for name in sorted(set(qs) - set(osql)):
        assert qs[name](spark, SF_DIR).count() > 0, name
