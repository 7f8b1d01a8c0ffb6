"""Parity tests for the Arrow-native driver-local frame builder.

r12 optimization: ``local_df`` constructs metadata frames through
``spark.createDataFrame(pyarrow.Table)`` so that evaluating them never
touches a Python worker. These tests pin the Arrow path to the classic
pickled-row path bit-for-bit across the value types the engine's call
sites use (strings, ints, binary, arrays, structs, maps, timestamps,
decimals, nulls), plus the empty-frame and fallback behaviors.
"""

import datetime
import decimal

from pyspark.sql import Row
from pyspark.sql import types as T

from paimon_python_spark._localdf import _arrow_local_df, local_df


def _classic(spark, rows, schema):
    n = max(1, len(rows)) if rows else 1
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=min(n, 4)), schema
    )


def _assert_parity(spark, rows, schema):
    got = local_df(spark, rows, schema)
    want = _classic(spark, rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    return got


def test_scalar_and_binary_parity(spark):
    schema = T.StructType(
        [
            T.StructField("s", T.StringType()),
            T.StructField("i", T.IntegerType()),
            T.StructField("l", T.LongType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("b", T.BinaryType()),
            T.StructField("f", T.BooleanType()),
        ]
    )
    rows = [
        ("a", 1, 2**40, 1.5, b"\x00\xff", True),
        (None, None, None, None, None, None),
        ("", 0, -1, float("inf"), bytearray(b"xy"), False),
    ]
    df = _assert_parity(spark, rows, schema)
    # the whole point: no Python-evaluated node anywhere in the lineage
    assert "Python" not in df._jdf.queryExecution().executedPlan().toString()


def test_nested_parity(spark):
    schema = T.StructType(
        [
            T.StructField("file", T.StringType()),
            T.StructField("positions", T.ArrayType(T.LongType())),
            T.StructField(
                "st",
                T.StructType(
                    [
                        T.StructField("x", T.IntegerType()),
                        T.StructField("y", T.StringType()),
                    ]
                ),
            ),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
        ]
    )
    rows = [
        ("f1", [1, 5, 9], Row(x=1, y="a"), {"k": 1, "j": 2}),
        ("f2", [], (2, None), {}),
        ("f3", None, None, None),
    ]
    _assert_parity(spark, rows, schema)


def test_temporal_decimal_parity(spark):
    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("dt", T.DateType()),
            T.StructField("dec", T.DecimalType(12, 2)),
        ]
    )
    rows = [
        (
            datetime.datetime(2024, 3, 1, 12, 30, 45, 123456),
            datetime.date(2024, 3, 1),
            decimal.Decimal("1234.56"),
        ),
        (None, None, None),
    ]
    _assert_parity(spark, rows, schema)


def test_ddl_string_schema(spark):
    rows = [(1, [0.5, 1.5], 2.0), (2, None, None)]
    _assert_parity(spark, rows, "cell int, cvec array<double>, half_sq double")


def test_empty_frame(spark):
    schema = T.StructType(
        [
            T.StructField("a", T.StringType()),
            T.StructField("b", T.ArrayType(T.IntegerType())),
        ]
    )
    df = local_df(spark, [], schema)
    assert df.schema == schema
    assert df.collect() == []
    assert df.count() == 0


def test_dict_rows(spark):
    schema = T.StructType(
        [T.StructField("a", T.IntegerType()), T.StructField("b", T.StringType())]
    )
    rows = [{"a": 1, "b": "x"}, {"a": None, "b": None}]
    got = local_df(spark, rows, schema)
    assert [(r.a, r.b) for r in got.collect()] == [(1, "x"), (None, None)]


def test_fan_out_keeps_slices(spark):
    rows = [(f"f{i}",) for i in range(3)]
    df = local_df(spark, rows, "f string", fan_out=True)
    assert df.rdd.getNumPartitions() == 3
    assert sorted(r.f for r in df.collect()) == ["f0", "f1", "f2"]


def test_fallback_on_unconvertible(spark):
    # a value Arrow cannot coerce for the declared type falls back to
    # the classic path instead of raising
    class Weird:
        def __str__(self):
            return "w"

    schema = T.StructType([T.StructField("s", T.StringType())])
    try:
        df = local_df(spark, [(Weird(),)], schema)
        rows = df.collect()
        assert len(rows) == 1
    except Exception:
        # classic path may also reject it — either way local_df must
        # behave exactly like createDataFrame would, so only assert
        # that the arrow path did not change the failure mode
        import pytest

        with pytest.raises(Exception):
            _classic(spark, [(Weird(),)], schema).collect()


def test_pinned_width_tracks_session_confs(spark):
    """pinned_width is scale-adaptive: the configured shuffle width or
    the cluster parallelism, whichever is larger — never a hard-coded
    local constant (r12: group-write stages pin this width so AQE's
    byte-coalescing cannot serialize per-group file writes)."""
    from paimon_python_spark._localdf import pinned_width

    dp = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(dp + 7))
        assert pinned_width(spark) == min(dp + 7, 4 * dp)
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        assert pinned_width(spark) == max(dp, 2)
        # ceiling 1: an arbitrarily large configured shuffle width must
        # not fan a tiny commit into hundreds of empty Python tasks
        spark.conf.set("spark.sql.shuffle.partitions", str(100 * dp))
        assert pinned_width(spark) == 4 * dp
        # ceiling 2: a known group-count bound caps further (with 8x
        # headroom so hash spreading keeps groups on separate tasks)
        assert pinned_width(spark, max_groups=1) == min(4 * dp, 8)
        assert pinned_width(spark, max_groups=dp) == min(8 * dp, 4 * dp)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_group_write_keeps_width(spark):
    """The lake group writer's exchange is a user repartition on the
    group keys, so AQE cannot coalesce the mapInArrow write stage to
    one task even when the shuffled bytes are tiny. The width is
    OBSERVED via the status tracker (row count and
    one-file-per-bucket also pass with a single coalesced task, so they
    guard nothing): the post-exchange stage must run exactly
    pinned_width tasks — a width the input's own partitioning cannot
    produce by accident. The same repartition closes each group on one
    task: a multi-task PK commit writes exactly one level-0 file per
    (partition, bucket) it touches, and an append-lake compaction over
    a multi-task input writes exactly one file per partition."""
    import shutil
    import tempfile
    import time

    from pyspark.sql import functions as F

    from paimon_python_spark._localdf import pinned_width
    from paimon_python_spark.paimon_import import plan_paimon_files
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        compact_lake,
        create_lake_table,
        write_lake_append,
        write_lake_pk_append,
    )

    wh = tempfile.mkdtemp(prefix="pinw_")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    sc = spark.sparkContext
    try:
        # a shuffle width DISTINCT from the input's partition count and
        # the parallelism, so only the pinned exchange can produce it
        want = sc.defaultParallelism + 1
        spark.conf.set("spark.sql.shuffle.partitions", str(want))
        assert pinned_width(spark, max_groups=4) == want
        path = wh + "/t"
        create_lake_table(
            path,
            [("k", "BIGINT NOT NULL"), ("v", "DOUBLE")],
            primary_keys=["k"],
            options={"bucket": "4"},
        )
        src = spark.range(4000).select(
            F.col("id").alias("k"), (F.col("id") * 1.5).alias("v")
        )
        sc.setJobGroup("pinw", "group write width probe")
        try:
            write_lake_pk_append(path, src)
        finally:
            sc.setJobGroup(None, None)
        tracker = sc.statusTracker()
        widths = set()
        deadline = time.time() + 10
        while time.time() < deadline:
            widths = {
                tracker.getStageInfo(sid).numTasks
                for jid in tracker.getJobIdsForGroup("pinw")
                for sid in (tracker.getJobInfo(jid) or _NoJob()).stageIds
                if tracker.getStageInfo(sid) is not None
            }
            if want in widths:
                break
            time.sleep(0.2)
        assert want in widths, (
            f"no stage ran at the pinned width {want} (saw {widths}) — "
            "AQE coalesced the group-write exchange"
        )
        out = (
            PaimonLakeTable(path).new_read_builder().new_read().to_df()
        )
        assert out.count() == 4000
        # the data landed one file per bucket (the group invariant the
        # pinned repartition must preserve)
        import os

        buckets = {
            d for d in os.listdir(path) if d.startswith("bucket-")
        }
        assert buckets == {"bucket-0", "bucket-1", "bucket-2", "bucket-3"}

        # a partitioned PK commit from 4 input tasks: one level-0 file
        # per touched (partition, bucket) group
        pk_path = wh + "/pk"
        create_lake_table(
            pk_path,
            [("p", "INT NOT NULL"), ("k", "BIGINT NOT NULL"), ("v", "DOUBLE")],
            partition_keys=["p"],
            primary_keys=["p", "k"],
            options={"bucket": "2"},
        )
        multi = spark.range(2000, numPartitions=4).select(
            (F.col("id") % 3).cast("int").alias("p"),
            F.col("id").alias("k"),
            (F.col("id") * 1.5).alias("v"),
        )
        write_lake_pk_append(pk_path, multi)
        files = plan_paimon_files(pk_path)
        groups = {(e.partition["p"], e.bucket) for e in files}
        assert len(groups) == 6 and len(files) == 6
        assert all(e.level == 0 for e in files)

        # an append lake written from 4 input tasks holds one file per
        # (partition, input task); its compaction folds each partition
        # into ONE file although the compaction input spans many tasks
        ap = wh + "/append"
        create_lake_table(
            ap, [("p", "INT NOT NULL"), ("v", "BIGINT")], partition_keys=["p"]
        )
        write_lake_append(
            ap,
            spark.range(400, numPartitions=4).select(
                (F.col("id") % 2).cast("int").alias("p"), F.col("id").alias("v")
            ),
        )
        assert len(plan_paimon_files(ap)) == 8
        compact_lake(ap)
        after = plan_paimon_files(ap)
        assert sorted(e.partition["p"] for e in after) == [0, 1]
        assert PaimonLakeTable(ap).new_read_builder().new_read().to_df().count() == 400
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
        shutil.rmtree(wh, ignore_errors=True)


class _NoJob:
    stageIds: list = []


def test_cast_select_sql_plan_equals_column_form(spark):
    """The parsed cast-select strings (r13: one py4j round trip per
    select instead of 3 per column on every commit's plan construction)
    must analyze to EXACTLY the plan the Column form produced — same
    casts, same output schema, down to weird column names."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from paimon_python_spark._localdf import cast_select_sql, quote_ident

    df = spark.range(10).selectExpr(
        "id AS k",
        "cast(id as int) AS `a b`",
        "cast(id as double) AS v",
        "named_struct('x', id, 'y', cast(id as string)) AS s",
        "array(id, id + 1) AS arr",
        "cast(cast(id as string) as decimal(18,2)) AS d",
    )
    fields = [
        T.StructField("k", T.LongType()),          # same-type (folds away)
        T.StructField("a b", T.LongType()),        # widening + space
        T.StructField("v", T.FloatType()),         # narrowing
        T.StructField(
            "s",
            T.StructType(
                [
                    T.StructField("x", T.LongType()),
                    T.StructField("y", T.StringType()),
                ]
            ),
        ),
        T.StructField("arr", T.ArrayType(T.LongType())),
        T.StructField("d", T.DecimalType(18, 2)),
    ]
    col_form = df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in fields]
    )
    sql_form = df.selectExpr(*cast_select_sql(fields))
    assert sql_form.schema == col_form.schema
    p1 = col_form._jdf.queryExecution().analyzed().toString()
    p2 = sql_form._jdf.queryExecution().analyzed().toString()
    # analyzed plans are string-equal up to expression ids
    import re

    norm = lambda s: re.sub(r"#\d+", "#", s)
    assert norm(p1) == norm(p2)
    assert sql_form.collect() == col_form.collect()
    # a backtick IN the name only works through the quoted SQL form
    # (F.col itself cannot express it) — schema + value check
    tick = spark.range(3).selectExpr("cast(id as string) AS `q``tick`")
    out = tick.selectExpr(
        *cast_select_sql([T.StructField("q`tick", T.StringType())])
    )
    assert out.schema.fieldNames() == ["q`tick"]
    assert [r[0] for r in out.collect()] == ["0", "1", "2"]
    assert quote_ident("a`b") == "`a``b`"
