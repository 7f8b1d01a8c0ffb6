"""The driver-side murmur3 replica must match F.hash bit-for-bit for
every supported key type — any divergence silently breaks bucket
pruning correctness."""

import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from paimon_python_spark.bucketing import bucket_of, spark_hash

CASES = [
    ((5,), [T.IntegerType()]),
    ((-42,), [T.IntegerType()]),
    ((0,), [T.IntegerType()]),
    ((123456789012,), [T.LongType()]),
    ((-1,), [T.LongType()]),
    (("hello world",), [T.StringType()]),
    (("",), [T.StringType()]),
    (("héllo ünïcode",), [T.StringType()]),
    ((3.14,), [T.DoubleType()]),
    ((-0.0,), [T.DoubleType()]),
    ((True,), [T.BooleanType()]),
    ((False,), [T.BooleanType()]),
    ((None,), [T.IntegerType()]),
    ((datetime.date(2024, 3, 1),), [T.DateType()]),
    ((7, "abc", 99999999999), [T.IntegerType(), T.StringType(), T.LongType()]),
    ((None, "x"), [T.LongType(), T.StringType()]),
]


@pytest.mark.parametrize("values,dtypes", CASES)
def test_matches_spark_hash(spark, values, dtypes):
    schema = T.StructType(
        [T.StructField(f"c{i}", dt) for i, dt in enumerate(dtypes)]
    )
    df = spark.createDataFrame([values], schema)
    expected = df.select(
        F.hash(*[f.name for f in schema.fields]).alias("h"),
        F.pmod(F.hash(*[f.name for f in schema.fields]), F.lit(16)).alias("b"),
    ).collect()[0]
    assert spark_hash(list(values), dtypes) == expected.h
    assert bucket_of(list(values), dtypes, 16) == expected.b


# ---- JVM-native BinaryRow hash expression (r13) ----
#
# binary_row_hash_expr / binary_row_bucket_expr replace the lake write
# path's pandas-UDF routing with a parsed JVM expression. They must be
# VALUE-IDENTICAL to the Python oracle (encode_binary_row +
# murmur_hash_words / fixed_bucket) for every supported type shape —
# bucket routing is an interop contract with real Paimon readers.

import random


def _brh_gen(dt, rnd):
    if rnd.random() < 0.15:
        return None
    if isinstance(dt, T.LongType):
        return rnd.choice([0, 1, -1, 2**62, -(2**62), rnd.getrandbits(63) - 2**62])
    if isinstance(dt, T.IntegerType):
        return rnd.choice([0, -1, 2**31 - 1, -(2**31), rnd.randint(-10**6, 10**6)])
    if isinstance(dt, T.ShortType):
        return rnd.randint(-32768, 32767)
    if isinstance(dt, T.ByteType):
        return rnd.randint(-128, 127)
    if isinstance(dt, T.BooleanType):
        return rnd.random() < 0.5
    if isinstance(dt, T.DateType):
        return datetime.date(1970, 1, 1) + datetime.timedelta(
            days=rnd.randint(-30000, 30000)
        )
    if isinstance(dt, T.StringType):
        n = rnd.choice([0, 1, 3, 7, 8, 9, 15, 16, 23, 40])
        alph = "abcXYZ019_é漢🙂"
        return "".join(rnd.choice(alph) for _ in range(n))
    if isinstance(dt, T.BinaryType):
        n = rnd.choice([0, 2, 7, 8, 13, 32])
        return bytes(rnd.getrandbits(8) for _ in range(n))
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        # signed zeros, NaN, infinities, subnormals of both widths and
        # arbitrary doubles (FLOAT keys round like struct '<f')
        tiny = 1e-45 if isinstance(dt, T.FloatType) else 5e-324
        return rnd.choice(
            [
                0.0,
                -0.0,
                float("nan"),
                float("inf"),
                -float("inf"),
                tiny,
                -tiny,
                rnd.randint(-(2**20), 2**20) / 64.0,
                rnd.uniform(-1e30, 1e30),
            ]
        )
    raise AssertionError(dt)


BRH_COMBOS = [
    [T.LongType()],
    [T.IntegerType()],
    [T.ShortType()],
    [T.ByteType()],
    [T.BooleanType()],
    [T.DateType()],
    [T.StringType()],
    [T.BinaryType()],
    [T.StringType(), T.LongType()],
    [T.LongType(), T.StringType(), T.StringType()],
    [T.StringType(), T.BinaryType(), T.IntegerType(), T.BooleanType()],
    [T.DateType(), T.StringType(), T.ShortType()],
    [T.FloatType()],
    [T.DoubleType()],
    [T.DoubleType(), T.StringType(), T.FloatType()],
]


@pytest.mark.parametrize(
    "dtypes", BRH_COMBOS, ids=[",".join(t.simpleString() for t in c) for c in BRH_COMBOS]
)
def test_binary_row_hash_expr_matches_python_oracle(spark, dtypes):
    from paimon_python_spark.paimon_import import (
        binary_row_bucket_expr,
        binary_row_hash_expr,
        encode_binary_row,
        fixed_bucket,
        logical_value,
        murmur_hash_words,
    )

    rnd = random.Random(13 + len(dtypes))
    names = [f"c{i}" for i in range(len(dtypes))]
    schema = T.StructType([T.StructField(n, dt, True) for n, dt in zip(names, dtypes)])
    rows = [tuple(_brh_gen(dt, rnd) for dt in dtypes) for _ in range(150)]
    df = spark.createDataFrame(rows, schema)
    hx = binary_row_hash_expr(names, dtypes)
    bx = binary_row_bucket_expr(names, dtypes, 7)
    assert hx is not None and bx is not None
    got = df.select(F.expr(hx).alias("h"), F.expr(bx).alias("b")).collect()

    for row, g in zip(rows, got):
        # the shared normalizer: DATE as epoch days, NaN routes as NULL
        lrow = [logical_value(v, dt) for v, dt in zip(row, dtypes)]
        assert g["h"] == murmur_hash_words(encode_binary_row(lrow, dtypes)[4:]), row
        assert g["b"] == fixed_bucket(lrow, dtypes, 7), row


def test_binary_row_hash_expr_refuses_unhashable_types():
    """The expression is the one definition of a hashable bucket key:
    every other key shape raises, naming the column."""
    from paimon_python_spark.paimon_import import binary_row_hash_expr

    for dt in (T.DecimalType(10, 2), T.TimestampType(), T.ArrayType(T.LongType())):
        with pytest.raises(ValueError, match="bucket key column 'c1'"):
            binary_row_hash_expr(["c0", "c1"], [T.LongType(), dt])
    wide = [f"c{i}" for i in range(56)]
    with pytest.raises(ValueError, match="'c55'"):
        binary_row_hash_expr(wide, [T.IntegerType()] * 56)
    with pytest.raises(ValueError):
        binary_row_hash_expr([], [])


@pytest.mark.parametrize(
    "ktype,literal",
    [
        ("TIMESTAMP(6) WITH LOCAL TIME ZONE", "TIMESTAMP'2024-01-01 00:00:00'"),
        ("DECIMAL(10, 2)", "CAST(1.5 AS DECIMAL(10, 2))"),
    ],
    ids=["timestamp", "decimal"],
)
def test_unhashable_bucket_key_refused_on_driver(spark, tmp_path, ktype, literal):
    """A bucket key routing cannot hash fails on the driver with a
    ValueError naming the column — at create_lake_table, and at the
    write entry points of a lake another writer created — instead of
    inside a Python worker once the write job runs."""
    from paimon_python_spark.lake_datasource import PaimonLakeBatchWriter
    from paimon_python_spark.paimon_import import write_paimon_table_fixture
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        write_lake_pk_append,
    )

    fields = [("kx", f"{ktype} NOT NULL"), ("v", "STRING")]
    with pytest.raises(ValueError, match="bucket key column 'kx'"):
        create_lake_table(
            str(tmp_path / "new"),
            fields,
            primary_keys=["kx"],
            options={"bucket": "2"},
        )
    d = str(tmp_path / "foreign")
    write_paimon_table_fixture(d, fields, [], ["kx"], [], options={"bucket": "2"})
    df = spark.sql(f"SELECT {literal} AS kx, 'a' AS v")
    with pytest.raises(ValueError, match="bucket key column 'kx'"):
        write_lake_pk_append(d, df)
    with pytest.raises(ValueError, match="bucket key column 'kx'"):
        PaimonLakeBatchWriter(d, overwrite=False)


def test_binary_row_hash_expr_plan_is_pure_jvm(spark):
    """The routed plan must carry NO Python-evaluation node — removing
    the per-commit Python-worker round trip is the point."""
    from paimon_python_spark.paimon_import import binary_row_bucket_expr

    df = spark.range(10).selectExpr(
        "id AS k",
        "cast(id as string) AS s",
        "cast(id / 3 as float) AS f",
        "id / 7 AS d",
    )
    bx = binary_row_bucket_expr(
        ["s", "k", "f", "d"],
        [T.StringType(), T.LongType(), T.FloatType(), T.DoubleType()],
        4,
    )
    qe = df.withColumn("__bucket", F.expr(bx))._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # deterministic, so the routing shuffle is not indeterminate on
    # retry; and the projection stays inside whole-stage codegen
    assert qe.analyzed().projectList().last().deterministic()
    assert plan.startswith("*(1) Project")
