"""Real-Paimon-warehouse import (paimon_import.py).

The fixture tables here are written TO THE PUBLISHED FORMAT SPEC
(https://paimon.apache.org/docs/master/concepts/spec/): JSON
schema/snapshot files, avro manifest lists + manifests with nested
records, BinaryRow-encoded partition values with the 4-byte arity
prefix. No Paimon JVM exists in this container, so the fixtures stand
in for a Flink-written lake; every byte-level convention the importer
assumes (bitset width incl. header bits, inline ≤7-byte var-length
compaction, little-endian slots) is exercised round-trip here.
"""

import json
import os

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from paimon_python_spark.paimon_import import (
    decode_binary_row,
    encode_binary_row,
    import_paimon_table,
    parse_paimon_type,
    plan_paimon_files,
    write_paimon_table_fixture as write_paimon_fixture,
)



def _route_kv2(table, n_buckets):
    """Route a single-bigint-key kv fixture table into its spec buckets
    (hand-placed buckets make bucket pruning/bucket-local merges
    unsound — a real fixed-bucket writer always routes by the hash)."""
    from pyspark.sql import types as T

    from paimon_python_spark.paimon_import import route_kv_fixture_files

    key = [c[len("_KEY_"):] for c in table.column_names if c.startswith("_KEY_")]
    return route_kv_fixture_files(table, key, [T.LongType()] * len(key), n_buckets)


# ---- unit: type strings / BinaryRow ----


def test_parse_paimon_type_strings():
    cases = {
        "INT": T.IntegerType(),
        "INT NOT NULL": T.IntegerType(),
        "BIGINT": T.LongType(),
        "STRING": T.StringType(),
        "VARCHAR(10)": T.StringType(),
        "CHAR(3)": T.StringType(),
        "DOUBLE": T.DoubleType(),
        "DECIMAL(10, 2)": T.DecimalType(10, 2),
        "TIMESTAMP(3)": T.TimestampNTZType(),
        "DATE": T.DateType(),
        "BYTES": T.BinaryType(),
        "BOOLEAN": T.BooleanType(),
    }
    for s, expect in cases.items():
        dt, nullable = parse_paimon_type(s)
        assert dt == expect, s
        assert nullable == ("NOT NULL" not in s)
    with pytest.raises(ValueError):
        parse_paimon_type("INTERVAL DAY")


def test_binary_row_roundtrip_all_types():
    types = [
        T.IntegerType(),
        T.LongType(),
        T.StringType(),   # inline (<= 7 bytes)
        T.StringType(),   # spilled (> 7 bytes)
        T.DoubleType(),
        T.BooleanType(),
        T.ShortType(),
        T.ByteType(),
        T.FloatType(),
        T.DateType(),
        T.BinaryType(),
    ]
    values = [
        -42,
        1 << 40,
        "abc",
        "a longer partition value",
        2.5,
        True,
        -7,
        3,
        1.5,
        19000,
        b"\x00\xff1234567890",
    ]
    enc = encode_binary_row(values, types)
    assert decode_binary_row(enc, types) == values


def test_binary_row_nulls_and_wide_rows():
    # arity 60 > 56 exercises the second null-bitset word
    types = [T.IntegerType()] * 60
    values = [i if i % 3 else None for i in range(60)]
    enc = encode_binary_row(values, types)
    assert decode_binary_row(enc, types) == values
    # bitset width: ((60 + 63 + 8) // 64) * 8 = 16 bytes + 60*8 slots
    assert len(enc) == 4 + 16 + 480


def test_binary_row_inline_boundary():
    types = [T.StringType(), T.StringType()]
    for a, b in [("", "1234567"), ("12345678", "x")]:
        enc = encode_binary_row([a, b], types)
        assert decode_binary_row(enc, types) == [a, b]


# ---- fixture plan / import ----


@pytest.fixture()
def append_fixture(tmp_path):
    p = str(tmp_path / "paimon_append")
    sch = pa.schema([("dt", pa.string()), ("k", pa.int32()), ("v", pa.string())])
    t1 = pa.table({"dt": ["a", "a"], "k": [1, 2], "v": ["x", "y"]}, schema=sch)
    t2 = pa.table({"dt": ["b"], "k": [3], "v": ["z"]}, schema=sch)
    t3 = pa.table({"dt": ["a"], "k": [9], "v": ["dead"]}, schema=sch)
    write_paimon_fixture(
        p,
        [("dt", "STRING NOT NULL"), ("k", "INT"), ("v", "STRING")],
        ["dt"],
        [],
        [
            (0, {"dt": "a"}, 0, t1),
            (0, {"dt": "b"}, 0, t2),
            (0, {"dt": "a"}, 0, t3),
            (1, {"dt": "a"}, 0, t3),  # DELETE folds the third file away
        ],
    )
    return p


def test_plan_paimon_files_folds_deletes(append_fixture):
    entries = plan_paimon_files(append_fixture)
    names = sorted(e.file_name for e in entries)
    assert names == ["data-fixture-0.parquet", "data-fixture-1.parquet"]
    by_name = {e.file_name: e for e in entries}
    assert by_name["data-fixture-0.parquet"].partition == {"dt": "a"}
    assert by_name["data-fixture-1.parquet"].partition == {"dt": "b"}
    assert by_name["data-fixture-0.parquet"].row_count == 2


def test_import_append_table(append_fixture, catalog):
    t = import_paimon_table(append_fixture, catalog, "default.imported_append")
    out = (
        t.new_read_builder().new_read().to_pandas().sort_values("k")
    )
    assert list(out.dt) == ["a", "a", "b"]
    assert list(out.k) == [1, 2, 3]
    assert list(out.v) == ["x", "y", "z"]
    # partition pruning works on the imported table
    pb = t.new_read_builder().new_predicate_builder()
    rb = t.new_read_builder().with_filter(pb.equal("dt", "b"))
    assert (
        sum(len(s.file_paths()) for s in rb.new_scan().plan().splits()) == 1
    )


def test_import_pk_table(tmp_path, catalog):
    p = str(tmp_path / "paimon_pk")
    # key-value layout: _KEY_<pk>, _SEQUENCE_NUMBER, _VALUE_KIND, values
    kv_schema = pa.schema(
        [
            ("_KEY_k", pa.int32()),
            ("_SEQUENCE_NUMBER", pa.int64()),
            ("_VALUE_KIND", pa.int32()),
            ("k", pa.int32()),
            ("v", pa.string()),
        ]
    )
    f1 = pa.table(
        {
            "_KEY_k": [1, 2, 3],
            "_SEQUENCE_NUMBER": [0, 1, 2],
            "_VALUE_KIND": [0, 0, 0],
            "k": [1, 2, 3],
            "v": ["a", "b", "c"],
        },
        schema=kv_schema,
    )
    f2 = pa.table(
        {
            "_KEY_k": [2, 3, 4],
            "_SEQUENCE_NUMBER": [3, 4, 5],
            "_VALUE_KIND": [0, 3, 0],  # upsert k=2, DELETE k=3, insert k=4
            "k": [2, 3, 4],
            "v": ["B", "c", "d"],
        },
        schema=kv_schema,
    )
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        [],
        ["k"],
        [(0, {}, 0, f1), (0, {}, 0, f2)],
        options={"bucket": "1"},
    )
    t = import_paimon_table(p, catalog, "default.imported_pk")
    out = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out.k) == [1, 2, 4]
    assert list(out.v) == ["a", "B", "d"]


# ---- ADVICE-driven hardening: DV rejection, partition naming, tie-break ----


def test_dv_tables_plan_normally(append_fixture):
    """DV tables are no longer rejected at plan time (r5 verdict task
    1); a dangling indexManifest surfaces as a loud file error from the
    DV planner, never a silent skip."""
    from paimon_python_spark.paimon_import import plan_paimon_dv

    snap_path = os.path.join(append_fixture, "snapshot", "snapshot-1")
    with open(snap_path) as f:
        snap = json.load(f)
    snap["indexManifest"] = "index-manifest-0"
    with open(snap_path, "w") as f:
        json.dump(snap, f)
    assert len(plan_paimon_files(append_fixture)) > 0
    with pytest.raises(FileNotFoundError):
        plan_paimon_dv(append_fixture)


def test_dv_option_without_index_reads_all_rows(tmp_path, spark):
    """deletion-vectors.enabled with no index manifest yet (no deletes
    have happened): plan is empty, read sees every row."""
    from paimon_python_spark.paimon_import import plan_paimon_dv
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "paimon_dvopt")
    t1 = pa.table({"k": pa.array([1], pa.int32())})
    write_paimon_fixture(
        p,
        [("k", "INT")],
        [],
        [],
        [(0, {}, 0, t1)],
        options={"deletion-vectors.enabled": "true"},
    )
    assert plan_paimon_files(p)
    assert plan_paimon_dv(p) == []
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert list(out.k) == [1]


def test_partition_segment_formatting():
    from paimon_python_spark.paimon_import import (
        DEFAULT_PARTITION_NAME,
        format_partition_segment,
    )

    assert (
        format_partition_segment(None, T.StringType(), DEFAULT_PARTITION_NAME)
        == "__DEFAULT_PARTITION__"
    )
    assert format_partition_segment(None, T.DateType(), "mydefault") == "mydefault"
    # 19737 epoch days = 2024-01-15 (raw int out of decode_binary_row)
    assert format_partition_segment(19737, T.DateType(), "x") == "2024-01-15"
    assert format_partition_segment(True, T.BooleanType(), "x") == "true"
    assert format_partition_segment(7, T.IntegerType(), "x") == "7"


def test_import_date_partitioned(tmp_path, catalog):
    p = str(tmp_path / "paimon_datepart")
    sch = pa.schema([("dt", pa.int32()), ("k", pa.int32())])
    t1 = pa.table({"dt": [19737, 19737], "k": [1, 2]}, schema=sch)
    write_paimon_fixture(
        p,
        [("dt", "DATE NOT NULL"), ("k", "INT")],
        ["dt"],
        [],
        [(0, {"dt": 19737}, 0, t1)],
    )
    # directory must be the ISO-formatted date, not the raw day int
    assert os.path.isdir(os.path.join(p, "dt=2024-01-15", "bucket-0"))
    entries = plan_paimon_files(p)
    assert entries[0].partition == {"dt": 19737}
    t = import_paimon_table(p, catalog, "default.imported_datepart")
    out = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out.k) == [1, 2]


def test_import_missing_file_fails_loudly(append_fixture, catalog):
    os.remove(
        os.path.join(append_fixture, "dt=b", "bucket-0", "data-fixture-1.parquet")
    )
    with pytest.raises(FileNotFoundError, match="partition directory naming"):
        import_paimon_table(append_fixture, catalog, "default.imported_broken")


def test_import_pk_equal_seq_deterministic_tiebreak(tmp_path, catalog):
    """Equal sequence numbers (user sequence.field) must resolve by
    manifest entry order — the later commit's value wins, every run."""
    kv_schema = pa.schema(
        [
            ("_KEY_k", pa.int32()),
            ("_SEQUENCE_NUMBER", pa.int64()),
            ("_VALUE_KIND", pa.int32()),
            ("k", pa.int32()),
            ("v", pa.string()),
        ]
    )
    f1 = pa.table(
        {"_KEY_k": [1], "_SEQUENCE_NUMBER": [7], "_VALUE_KIND": [0], "k": [1], "v": ["old"]},
        schema=kv_schema,
    )
    f2 = pa.table(
        {"_KEY_k": [1], "_SEQUENCE_NUMBER": [7], "_VALUE_KIND": [0], "k": [1], "v": ["new"]},
        schema=kv_schema,
    )
    p = str(tmp_path / "paimon_pk_tie")
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        [],
        ["k"],
        [(0, {}, 0, f1), (0, {}, 0, f2)],
        options={"bucket": "1"},
    )
    t = import_paimon_table(p, catalog, "default.imported_pk_tie")
    out = t.new_read_builder().new_read().to_pandas()
    assert list(out.k) == [1]
    assert list(out.v) == ["new"]


# ---- in-place lake read (no copy) ----


def test_lake_read_append_two_commits(append_fixture, spark):
    """Two successive Paimon commits; each read re-plans fresh metadata
    — a concurrently-written lake stays current with no re-import."""
    from paimon_python_spark.paimon_import import append_paimon_fixture_snapshot
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    t = PaimonLakeTable(append_fixture)
    out1 = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out1.k) == [1, 2, 3]
    # second commit lands while the handle is open
    sch = pa.schema([("dt", pa.string()), ("k", pa.int32()), ("v", pa.string())])
    t4 = pa.table({"dt": ["c", "c"], "k": [7, 8], "v": ["p", "q"]}, schema=sch)
    append_paimon_fixture_snapshot(append_fixture, [(0, {"dt": "c"}, 0, t4)])
    out2 = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out2.k) == [1, 2, 3, 7, 8]
    assert list(out2.dt) == ["a", "a", "b", "c", "c"]
    # time travel back to snapshot 1
    old = t.new_read_builder().with_snapshot(1).new_read().to_pandas()
    assert sorted(old.k) == [1, 2, 3]


def test_lake_read_partition_pruning_and_residual(append_fixture, spark):
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    t = PaimonLakeTable(append_fixture)
    rb = t.new_read_builder()
    pb = rb.new_predicate_builder()
    out = (
        rb.with_filter(pb.and_predicates([pb.equal("dt", "a"), pb.greater_than("k", 1)]))
        .with_projection(["k", "v"])
        .new_read()
        .to_pandas()
    )
    assert list(out.columns) == ["k", "v"]
    assert list(out.k) == [2]
    with pytest.raises(ValueError, match="not in table schema"):
        t.new_read_builder().with_projection(["nope"])


def test_lake_read_pk_merge(tmp_path, spark):
    """PK lake table read in place: merge resolves upserts and deletes
    across two snapshots without materializing anything."""
    from paimon_python_spark.paimon_import import append_paimon_fixture_snapshot
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    kv_schema = pa.schema(
        [
            ("_KEY_k", pa.int32()),
            ("_SEQUENCE_NUMBER", pa.int64()),
            ("_VALUE_KIND", pa.int32()),
            ("k", pa.int32()),
            ("v", pa.string()),
        ]
    )
    f1 = pa.table(
        {"_KEY_k": [1, 2, 3], "_SEQUENCE_NUMBER": [0, 1, 2], "_VALUE_KIND": [0, 0, 0],
         "k": [1, 2, 3], "v": ["a", "b", "c"]},
        schema=kv_schema,
    )
    p = str(tmp_path / "paimon_pk_lake")
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        [],
        ["k"],
        [(0, {}, 0, f1)],
        options={"bucket": "1"},
    )
    t = PaimonLakeTable(p)
    out1 = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out1.v) == ["a", "b", "c"]
    f2 = pa.table(
        {"_KEY_k": [2, 3], "_SEQUENCE_NUMBER": [3, 4], "_VALUE_KIND": [0, 3],
         "k": [2, 3], "v": ["B", "c"]},
        schema=kv_schema,
    )
    append_paimon_fixture_snapshot(p, [(0, {}, 0, f2)])
    out2 = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out2.k) == [1, 2]
    assert list(out2.v) == ["a", "B"]


def test_lake_read_avro_format(tmp_path, spark):
    """Avro-format lake (file.format=avro): data files written by the
    engine codec, read in place through the distributed binaryFile +
    mapInPandas path — including the PK merge whose tie-break needs
    file provenance that mapInPandas severs (carried explicitly)."""
    from paimon_python_spark.paimon_import import append_paimon_fixture_snapshot
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    kv_schema = pa.schema(
        [
            ("_KEY_k", pa.int32()),
            ("_SEQUENCE_NUMBER", pa.int64()),
            ("_VALUE_KIND", pa.int32()),
            ("k", pa.int32()),
            ("v", pa.string()),
        ]
    )
    f1 = pa.table(
        {"_KEY_k": [1, 2], "_SEQUENCE_NUMBER": [0, 1], "_VALUE_KIND": [0, 0],
         "k": [1, 2], "v": ["a", "b"]},
        schema=kv_schema,
    )
    f2 = pa.table(
        {"_KEY_k": [2], "_SEQUENCE_NUMBER": [2], "_VALUE_KIND": [0],
         "k": [2], "v": ["B"]},
        schema=kv_schema,
    )
    p = str(tmp_path / "paimon_avro_lake")
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        [],
        ["k"],
        [(0, {}, 0, f1)],
        options={"bucket": "1", "file.format": "avro"},
    )
    assert os.path.exists(os.path.join(p, "bucket-0", "data-fixture-0.avro"))
    t = PaimonLakeTable(p)
    out1 = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out1.v) == ["a", "b"]
    append_paimon_fixture_snapshot(p, [(0, {}, 0, f2)])
    out2 = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out2.v) == ["a", "B"]


def test_lake_scan_plan_splits(append_fixture, spark):
    """TableScan parity on the lake adapter: one split per (partition,
    bucket), manifest stats, partition pruning at plan time."""
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    t = PaimonLakeTable(append_fixture)
    splits = t.new_read_builder().new_scan().plan().splits()
    assert len(splits) == 2  # dt=a and dt=b (third file DELETEd)
    assert sum(s.row_count() for s in splits) == 3
    assert all(s.file_size() > 0 for s in splits)
    rb = t.new_read_builder()
    pb = rb.new_predicate_builder()
    pruned = rb.with_filter(pb.equal("dt", "b")).new_scan().plan().splits()
    assert len(pruned) == 1
    assert pruned[0].row_count() == 1
    assert pruned[0].file_paths()[0].endswith("data-fixture-1.parquet")


def test_lake_read_residual_filter_pushes_to_scan(append_fixture, spark):
    """The lake read is declarative: the residual predicate must reach
    the parquet scan as a PushedFilter (Catalyst sees a plain filter
    over a file scan — no pushdown-blocking opacity in the adapter)."""
    import io
    from contextlib import redirect_stdout

    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    rb = PaimonLakeTable(append_fixture).new_read_builder()
    pb = rb.new_predicate_builder()
    df = rb.with_filter(pb.greater_than("k", 1)).new_read().to_df()
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    pushed = [
        ln for ln in plan.splitlines() if "PushedFilters" in ln and "[]" not in ln
    ]
    assert pushed, f"no non-empty PushedFilters in lake-read plan:\n{plan}"


def test_lake_avro_provenance_multi_file_single_task(tmp_path, spark):
    """Regression (r5 advisor, high): a Python-side read severs
    input_file_name() provenance — when one task decodes several avro
    files into one concatenated batch, tagging via input_file_name()
    stamps every row with a single file, breaking the entry-order/level
    tie-break join. The read must tag each row with its TRUE source
    file name."""
    from paimon_python_spark.paimon_import import _load_lake_entries, read_paimon_schema
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    kv_schema = pa.schema(
        [
            ("_KEY_k", pa.int32()),
            ("_SEQUENCE_NUMBER", pa.int64()),
            ("_VALUE_KIND", pa.int32()),
            ("k", pa.int32()),
            ("v", pa.string()),
        ]
    )
    f1 = pa.table(
        {"_KEY_k": [1], "_SEQUENCE_NUMBER": [5], "_VALUE_KIND": [0],
         "k": [1], "v": ["old"]},
        schema=kv_schema,
    )
    f2 = pa.table(
        {"_KEY_k": [1], "_SEQUENCE_NUMBER": [5], "_VALUE_KIND": [0],
         "k": [1], "v": ["new"]},
        schema=kv_schema,
    )
    p = str(tmp_path / "avro_prov")
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        [],
        ["k"],
        [(0, {}, 0, f1), (0, {}, 0, f2)],
        options={"bucket": "1", "file.format": "avro"},
    )
    info = read_paimon_schema(p)
    entries = plan_paimon_files(p)
    assert len(entries) == 2
    # per-row provenance must be exact even when one task decodes both
    # files (the read packs small specs into shared tasks)
    rows = (
        _load_lake_entries(spark, info, entries,
                           lambda e: os.path.join(p, "bucket-0", e.file_name),
                           "avro", table_path=p, file_name_col="__f")
        .coalesce(1)
        .select("v", "__f")
        .toPandas()
        .sort_values("v")
    )
    by_v = dict(zip(rows.v, rows.__f))
    assert by_v["old"] == "data-fixture-0.avro"
    assert by_v["new"] == "data-fixture-1.avro"
    # end-to-end: equal sequence numbers -> later commit (entry order) wins,
    # independent of task packing / parallelism
    from paimon_python_spark.paimon_lake import PaimonLakeTable

    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert list(out.v) == ["new"]


def test_lake_date_partition_predicate_pruning(tmp_path, spark):
    """Regression (r5 advisor, medium): DATE partitions decode to raw
    epoch-day ints; a user predicate with a date (or ISO-string)
    literal must still prune correctly instead of dropping every entry
    and silently returning zero rows."""
    import datetime

    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    d1, d2 = datetime.date(2024, 1, 15), datetime.date(2024, 1, 16)
    tbl = lambda ks, vs: pa.table(
        {"k": pa.array(ks, pa.int32()), "v": pa.array(vs, pa.string())}
    )
    p = str(tmp_path / "date_part")
    write_paimon_fixture(
        p,
        [("dt", "DATE"), ("k", "INT NOT NULL"), ("v", "STRING")],
        ["dt"],
        [],
        [
            (0, {"dt": (d1 - datetime.date(1970, 1, 1)).days}, 0, tbl([1], ["a"])),
            (0, {"dt": (d2 - datetime.date(1970, 1, 1)).days}, 0, tbl([2], ["b"])),
        ],
    )
    t = PaimonLakeTable(p)
    for lit in (d1, "2024-01-15"):
        rb = t.new_read_builder()
        pb = rb.new_predicate_builder()
        rb = rb.with_filter(pb.equal("dt", lit))
        assert len(rb.new_scan().plan().splits()) == 1, lit
        out = rb.new_read().to_df().select("k", "v").toPandas()
        assert list(out.k) == [1] and list(out.v) == ["a"], lit


def test_lake_append_avro_format(tmp_path, spark):
    """Regression (r5 advisor, medium): append-table lake reads must
    route through the codec-based avro loader (no spark-avro package in
    this container) — both with partition columns absent from the data
    files (hive-style injection) and flat."""
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "avro_append")
    write_paimon_fixture(
        p,
        [("dt", "STRING"), ("k", "INT NOT NULL"), ("v", "STRING")],
        ["dt"],
        [],
        [
            (0, {"dt": "a"}, 0,
             pa.table({"k": pa.array([1, 2], pa.int32()),
                       "v": pa.array(["x", "y"], pa.string())})),
            (0, {"dt": "b"}, 0,
             pa.table({"k": pa.array([3], pa.int32()),
                       "v": pa.array(["z"], pa.string())})),
        ],
        options={"file.format": "avro"},
    )
    out = (
        PaimonLakeTable(p)
        .new_read_builder()
        .new_read()
        .to_pandas()
        .sort_values("k")
    )
    assert list(out.k) == [1, 2, 3]
    assert list(out.dt) == ["a", "a", "b"]


def test_append_fixture_snapshot_delete_references_prior_add(tmp_path, spark):
    """Regression (r5 advisor, low): a DELETE in an appended snapshot
    must reference the original ADD's file name (fresh names never
    match in the plan fold -> silent no-op)."""
    from paimon_python_spark.paimon_import import append_paimon_fixture_snapshot
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "del_fix")
    t1 = pa.table({"k": pa.array([1], pa.int32())})
    t2 = pa.table({"k": pa.array([2], pa.int32())})
    write_paimon_fixture(
        p, [("dt", "STRING"), ("k", "INT NOT NULL")], ["dt"], [],
        [(0, {"dt": "a"}, 0, t1), (0, {"dt": "b"}, 0, t2)],
    )
    # delete the dt=a file (latest prior ADD in that partition/bucket)
    append_paimon_fixture_snapshot(p, [(1, {"dt": "a"}, 0, t1)], tag="del")
    live = plan_paimon_files(p)
    assert len(live) == 1 and live[0].partition == {"dt": "b"}
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert list(out.k) == [2]
    # a DELETE that matches nothing must raise, not silently no-op
    with pytest.raises(ValueError):
        append_paimon_fixture_snapshot(p, [(1, {"dt": "zz"}, 0, t1)], tag="bad")


def test_lake_read_dv_pk_table(tmp_path, spark):
    """DV-enabled PK lake (r5 verdict task 1): the snapshot's index
    manifest references spec-format roaring bitmaps; the read must
    anti-join marked (file, position) pairs instead of rejecting."""
    from paimon_python_spark.paimon_import import (
        attach_paimon_dv_fixture,
        plan_paimon_dv,
    )
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    kv = pa.schema(
        [
            ("_KEY_k", pa.int32()),
            ("_SEQUENCE_NUMBER", pa.int64()),
            ("_VALUE_KIND", pa.int32()),
            ("k", pa.int32()),
            ("v", pa.string()),
        ]
    )
    f1 = pa.table(
        {"_KEY_k": [1, 2, 3], "_SEQUENCE_NUMBER": [0, 1, 2],
         "_VALUE_KIND": [0, 0, 0], "k": [1, 2, 3], "v": ["a", "b", "c"]},
        schema=kv,
    )
    f2 = pa.table(
        {"_KEY_k": [2], "_SEQUENCE_NUMBER": [3], "_VALUE_KIND": [0],
         "k": [2], "v": ["B"]},
        schema=kv,
    )
    p = str(tmp_path / "dv_pk")
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        [],
        ["k"],
        [(0, {}, 0, f1), (0, {}, 0, f2)],
        options={"bucket": "1", "deletion-vectors.enabled": "true"},
    )
    # DV marks: position 1 of file 0 (the stale k=2 version) and
    # position 2 (k=3 -- a true row-level delete)
    attach_paimon_dv_fixture(p, {"data-fixture-0.parquet": [1, 2]})
    assert len(plan_paimon_dv(p)) == 1
    out = (
        PaimonLakeTable(p).new_read_builder().new_read().to_pandas().sort_values("k")
    )
    assert list(out.k) == [1, 2]
    assert list(out.v) == ["a", "B"]


def test_lake_read_dv_append_table_and_import(tmp_path, spark):
    """Row-level deletes on an APPEND lake (Paimon DELETE FROM):
    in-place read skips marked positions; import must materialize the
    filtered rows, never copy marked files verbatim."""
    from paimon_python_spark.catalog import Catalog
    from paimon_python_spark.paimon_import import attach_paimon_dv_fixture
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "dv_append")
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        [],
        [],
        [
            (0, {}, 0,
             pa.table({"k": pa.array([1, 2, 3, 4], pa.int32()),
                       "v": pa.array(["a", "b", "c", "d"], pa.string())})),
        ],
    )
    attach_paimon_dv_fixture(p, {"data-fixture-0.parquet": [0, 2]})
    out = (
        PaimonLakeTable(p).new_read_builder().new_read().to_pandas().sort_values("k")
    )
    assert list(out.k) == [2, 4]
    cat = Catalog.create({"warehouse": str(tmp_path / "wh")})
    cat.create_database("db", False)
    t = import_paimon_table(p, cat, "db.imp")
    got = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(got.k) == [2, 4]
    assert list(got.v) == ["b", "d"]


def test_dv_index_file_roundtrip(tmp_path):
    """Spec-format DV index file: BIG-endian control ints, CRC32,
    magic, little-endian portable roaring payload."""
    from paimon_python_spark.paimon_import import (
        read_dv_index_entry,
        write_dv_index_file,
    )

    p = str(tmp_path / "idx")
    dv = {"f1.parquet": [5, 6, 100000], "f2.parquet": list(range(5000))}
    ranges = write_dv_index_file(p, dv)
    for name, (off, ln) in ranges.items():
        got = read_dv_index_entry(p, off, ln)
        assert list(got) == sorted(dv[name]), name
    # corrupted payload must fail loudly, not return wrong positions
    raw = bytearray(open(p, "rb").read())
    off, ln = ranges["f1.parquet"]
    raw[off + 4 + 8] ^= 0xFF
    bad = str(tmp_path / "bad")
    open(bad, "wb").write(bytes(raw))
    with pytest.raises(ValueError):
        read_dv_index_entry(bad, off, ln)


def test_lake_field_id_rename_evolution(tmp_path, spark):
    """r5 verdict task 2: a real lake whose second snapshot RENAMES a
    column (same field id) must read old files' data under the new
    name — by-name mergeSchema would silently surface NULLs. Also
    covers add (new id -> NULL-filled) and reorder in the same ALTER."""
    from paimon_python_spark.paimon_import import (
        add_paimon_fixture_schema,
        append_paimon_fixture_snapshot,
    )
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "evo_lake")
    # schema-0: (0: k INT, 1: val STRING)
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("val", "STRING")],
        [],
        [],
        [(0, {}, 0,
          pa.table({"k": pa.array([1, 2], pa.int32()),
                    "val": pa.array(["a", "b"], pa.string())}))],
    )
    # ALTER: rename val->renamed (keeps id 1), add extra (id 2),
    # and reorder so renamed comes first
    add_paimon_fixture_schema(
        p,
        [(1, "renamed", "STRING"), (0, "k", "INT NOT NULL"), (2, "extra", "BIGINT")],
    )
    append_paimon_fixture_snapshot(
        p,
        [(0, {}, 0,
          pa.table({"renamed": pa.array(["c"], pa.string()),
                    "k": pa.array([3], pa.int32()),
                    "extra": pa.array([30], pa.int64())}))],
        schema_id=1,
    )
    out = (
        PaimonLakeTable(p)
        .new_read_builder()
        .new_read()
        .to_pandas()
        .sort_values("k")
    )
    assert list(out.columns) == ["renamed", "k", "extra"]
    assert list(out.k) == [1, 2, 3]
    # old files' val data must appear under the NEW name (field id 1)
    assert list(out.renamed) == ["a", "b", "c"]
    assert out.extra.tolist()[:2] == [None, None] or out.extra.isna().tolist()[:2] == [True, True]
    assert out.extra.tolist()[2] == 30


def test_lake_field_id_rename_evolution_pk(tmp_path, spark):
    """Same rename-by-id contract through the PK merge path: value
    column renamed between commits, keys merge across schema versions."""
    from paimon_python_spark.paimon_import import (
        add_paimon_fixture_schema,
        append_paimon_fixture_snapshot,
    )
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "evo_pk")

    def kv(names_col, ks, seqs, vs):
        return pa.table(
            {
                "_KEY_k": pa.array(ks, pa.int32()),
                "_SEQUENCE_NUMBER": pa.array(seqs, pa.int64()),
                "_VALUE_KIND": pa.array([0] * len(ks), pa.int32()),
                "k": pa.array(ks, pa.int32()),
                names_col: pa.array(vs, pa.string()),
            }
        )

    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("val", "STRING")],
        [],
        ["k"],
        [(0, {}, 0, kv("val", [1, 2], [0, 1], ["a", "b"]))],
        options={"bucket": "1"},
    )
    add_paimon_fixture_schema(
        p, [(0, "k", "INT NOT NULL"), (1, "renamed", "STRING")]
    )
    append_paimon_fixture_snapshot(
        p,
        [(0, {}, 0, kv("renamed", [2, 3], [2, 3], ["B", "c"]))],
        schema_id=1,
    )
    out = (
        PaimonLakeTable(p)
        .new_read_builder()
        .new_read()
        .to_pandas()
        .sort_values("k")
    )
    assert list(out.k) == [1, 2, 3]
    assert list(out.renamed) == ["a", "B", "c"]


def test_lake_with_limit_trims_planned_splits(append_fixture, spark):
    """r5 verdict task 6: split-granular limit parity on the lake
    reader — a limited read plans fewer splits (files of later groups
    are never opened) and returns at most ``limit`` rows."""
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    t = PaimonLakeTable(append_fixture)
    full = t.new_read_builder().new_scan().plan().splits()
    assert len(full) == 2
    limited = t.new_read_builder().with_limit(2).new_scan().plan().splits()
    # first (dt=a) group already satisfies limit=2 -> dt=b never planned
    assert len(limited) == 1
    assert sum(s.row_count() for s in limited) == 2
    out = t.new_read_builder().with_limit(2).new_read().to_pandas()
    assert len(out) == 2
    assert set(out.dt) == {"a"}
    # limit larger than the table keeps everything
    assert len(t.new_read_builder().with_limit(99).new_read().to_pandas()) == 3


def test_import_preserve_history_time_travel(tmp_path, catalog, spark):
    """r5 verdict task 9: preserve_history replays each Paimon snapshot
    as one engine commit — reading engine snapshot 1 of a two-snapshot
    import shows the lake's state BEFORE its second commit."""
    from paimon_python_spark.paimon_import import append_paimon_fixture_snapshot
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    kv_schema = pa.schema(
        [
            ("_KEY_k", pa.int32()),
            ("_SEQUENCE_NUMBER", pa.int64()),
            ("_VALUE_KIND", pa.int32()),
            ("k", pa.int32()),
            ("v", pa.string()),
        ]
    )
    f1 = pa.table(
        {"_KEY_k": [1, 2], "_SEQUENCE_NUMBER": [0, 1], "_VALUE_KIND": [0, 0],
         "k": [1, 2], "v": ["a", "b"]},
        schema=kv_schema,
    )
    f2 = pa.table(
        {"_KEY_k": [2, 3], "_SEQUENCE_NUMBER": [2, 3], "_VALUE_KIND": [3, 0],
         "k": [2, 3], "v": ["b", "c"]},  # DELETE k=2, insert k=3
        schema=kv_schema,
    )
    p = str(tmp_path / "hist_pk")
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        [],
        ["k"],
        [(0, {}, 0, f1)],
        options={"bucket": "1"},
    )
    append_paimon_fixture_snapshot(p, [(0, {}, 0, f2)])
    t = import_paimon_table(p, catalog, "default.hist_pk", preserve_history=True)
    latest = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(latest.k) == [1, 3]
    assert list(latest.v) == ["a", "c"]
    # time travel to engine snapshot 1 = paimon snapshot 1
    old = (
        t.new_read_builder()
        .with_snapshot(1)
        .new_read()
        .to_pandas()
        .sort_values("k")
    )
    assert list(old.k) == [1, 2]
    assert list(old.v) == ["a", "b"]


def test_import_preserve_history_append(tmp_path, catalog, spark):
    from paimon_python_spark.paimon_import import append_paimon_fixture_snapshot
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "hist_app")
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL")],
        [],
        [],
        [(0, {}, 0, pa.table({"k": pa.array([1, 2], pa.int32())}))],
    )
    append_paimon_fixture_snapshot(
        p, [(0, {}, 0, pa.table({"k": pa.array([3], pa.int32())}))]
    )
    t = import_paimon_table(p, catalog, "default.hist_app", preserve_history=True)
    assert sorted(t.new_read_builder().new_read().to_pandas().k) == [1, 2, 3]
    old = t.new_read_builder().with_snapshot(1).new_read().to_pandas()
    assert sorted(old.k) == [1, 2]


def test_import_preserve_history_dv(tmp_path, catalog, spark):
    """DV-lake history replay: the DV-changing snapshot materializes as
    a whole-table overwrite of its exact visible rows, so engine
    snapshot k reads with lake snapshot k's own visibility — including
    retroactive deletes of snapshot-1 rows."""
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        delete_lake_rows,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "hist_dv")
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL")],
        [],
        [],
        [(0, {}, 0, pa.table({"k": pa.array([1, 2, 3, 4], pa.int32())}))],
    )
    pb = PaimonLakeTable(p).new_read_builder().new_predicate_builder()
    delete_lake_rows(p, pb.is_in("k", [2, 4]))  # snapshot 2: DV only
    write_lake_append(
        p, spark.createDataFrame([(5,)], "k int")
    )  # snapshot 3: append, index carried forward
    t = import_paimon_table(p, catalog, "default.hist_dv", preserve_history=True)
    assert sorted(
        t.new_read_builder().with_snapshot(1).new_read().to_pandas().k
    ) == [1, 2, 3, 4]
    assert sorted(
        t.new_read_builder().with_snapshot(2).new_read().to_pandas().k
    ) == [1, 3]
    assert sorted(t.new_read_builder().new_read().to_pandas().k) == [1, 3, 5]


def test_lake_read_merge_engines(tmp_path, spark):
    """A real lake declaring a non-default merge-engine reads with THAT
    engine's semantics (reading aggregation/partial-update lakes as
    deduplicate would silently return the last row instead of the
    fold)."""
    from paimon_python_spark.paimon_lake import PaimonLakeTable, write_lake_append
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    kv = pa.schema(
        [("_KEY_k", pa.int64()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int64()), ("v", pa.int64())]
    )

    def mk(name, options):
        p = str(tmp_path / name)
        write_paimon_fixture(
            p, [("k", "BIGINT NOT NULL"), ("v", "BIGINT")], [], ["k"],
            [(0, {}, 0, pa.table(
                {"_KEY_k": [1, 1, 2], "_SEQUENCE_NUMBER": [0, 1, 2],
                 "_VALUE_KIND": [0, 0, 0], "k": [1, 1, 2],
                 "v": [10, 20, 5]}, schema=kv))],
            options={"bucket": "1", **options},
        )
        return p

    # aggregation: sum folds all versions
    p = mk("agg_lake", {"merge-engine": "aggregation",
                        "fields.v.aggregate-function": "sum"})
    write_lake_append(p, spark.createDataFrame([(2, 7)], "k bigint, v bigint"))
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out.v) == [30, 12]
    # first-row: earliest version wins
    p2 = mk("fr_lake", {"merge-engine": "first-row"})
    write_lake_append(p2, spark.createDataFrame([(1, 99)], "k bigint, v bigint"))
    out2 = PaimonLakeTable(p2).new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out2.v) == [10, 5]
    # partial-update: latest NON-NULL per column
    kv2 = pa.schema(
        [("_KEY_k", pa.int64()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int64()),
         ("a", pa.int64()), ("b", pa.int64())]
    )
    p3 = str(tmp_path / "pu_lake")
    write_paimon_fixture(
        p3, [("k", "BIGINT NOT NULL"), ("a", "BIGINT"), ("b", "BIGINT")],
        [], ["k"],
        [(0, {}, 0, pa.table(
            {"_KEY_k": [1, 1], "_SEQUENCE_NUMBER": [0, 1],
             "_VALUE_KIND": [0, 0], "k": [1, 1],
             "a": [7, None], "b": [None, 8]}, schema=kv2))],
        options={"bucket": "1", "merge-engine": "partial-update"},
    )
    out3 = PaimonLakeTable(p3).new_read_builder().new_read().to_pandas()
    assert out3.a.tolist() == [7] and out3.b.tolist() == [8]


def test_lake_aggregation_retract(tmp_path, spark):
    """A lake whose stored rows carry -D retractions folds them with
    the retract math (sum subtracts, count decrements) — the lake read
    dispatches into the same agg_merge plan as engine tables."""
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    kv = pa.schema(
        [("_KEY_k", pa.int64()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int64()), ("v", pa.int64()),
         ("n", pa.int64())]
    )
    p = str(tmp_path / "agg_ret_lake")
    write_paimon_fixture(
        p, [("k", "BIGINT NOT NULL"), ("v", "BIGINT"), ("n", "BIGINT")],
        [], ["k"],
        [(0, {}, 0, pa.table(
            {"_KEY_k": [1, 1, 1, 2], "_SEQUENCE_NUMBER": [0, 1, 2, 3],
             "_VALUE_KIND": [0, 0, 3, 0], "k": [1, 1, 1, 2],
             "v": [10, 20, 20, 5], "n": [1, 1, 1, 9]}, schema=kv))],
        options={"bucket": "1", "merge-engine": "aggregation",
                 "fields.v.aggregate-function": "sum",
                 "fields.n.aggregate-function": "count"},
    )
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out.v) == [10, 5]   # 10 + 20 - 20
    assert list(out.n) == [1, 1]    # 2 adds - 1 retract


def test_import_preserve_history_pk_dv(tmp_path, catalog, spark):
    """PK lake with a REAL DV INDEX (the JVM writer's
    deletion-vectors.enabled layout, not -D records): the DV-carrying
    snapshot replays as an overwrite of the MERGED visible state (LSM
    merge + marks), and later upsert snapshots keep working against
    that base."""
    from paimon_python_spark.paimon_import import attach_paimon_dv_fixture
    from paimon_python_spark.paimon_lake import PaimonLakeTable, write_lake_append
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "hist_pk_dv")
    kv = pa.schema(
        [("_KEY_k", pa.int64()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int64()), ("v", pa.string())]
    )
    write_paimon_fixture(
        p, [("k", "BIGINT NOT NULL"), ("v", "STRING")], [], ["k"],
        _route_kv2(pa.table(
            {"_KEY_k": [1, 2, 3], "_SEQUENCE_NUMBER": [0, 1, 2],
             "_VALUE_KIND": [0, 0, 0], "k": [1, 2, 3],
             "v": ["a", "b", "c"]}, schema=kv), 2),
        options={"bucket": "1", "deletion-vectors.enabled": "true"},
    )
    write_lake_append(
        p, spark.createDataFrame([(3, "C")], "k bigint, v string")
    )  # snapshot 2: upsert...
    # ...whose index also MARKS row 1 (key 2) of the fixture file —
    # the shape a DV-enabled JVM writer leaves behind
    attach_paimon_dv_fixture(p, {"data-fixture-0.parquet": [1]})
    write_lake_append(
        p, spark.createDataFrame([(4, "d")], "k bigint, v string")
    )  # snapshot 3: plain upsert, index carried forward
    t = import_paimon_table(p, catalog, "default.hist_pk_dv", preserve_history=True)

    def ks(sid=None):
        rb = t.new_read_builder()
        if sid is not None:
            rb = rb.with_snapshot(sid)
        out = rb.new_read().to_pandas().sort_values("k")
        return list(zip(out.k, out.v))

    assert ks(1) == [(1, "a"), (2, "b"), (3, "c")]
    assert ks(2) == [(1, "a"), (3, "C")]
    assert ks() == [(1, "a"), (3, "C"), (4, "d")]


def test_update_lake_rows_and_system_views(tmp_path, spark):
    """UPDATE on a PK lake commits +U records the merge resolves; the
    $tags/$options lake system views list the tag dir and schema
    options."""
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_tag,
        update_lake_rows,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "upd_lake")
    kv = pa.schema(
        [("_KEY_k", pa.int64()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int64()), ("bal", pa.int64())]
    )
    write_paimon_fixture(
        p, [("k", "BIGINT NOT NULL"), ("bal", "BIGINT")], [], ["k"],
        _route_kv2(pa.table(
            {"_KEY_k": [1, 2, 3], "_SEQUENCE_NUMBER": [0, 1, 2],
             "_VALUE_KIND": [0, 0, 0], "k": [1, 2, 3],
             "bal": [10, 20, 30]}, schema=kv), 2),
        options={"bucket": "2"},
    )
    t = PaimonLakeTable(p)
    pb = t.new_read_builder().new_predicate_builder()
    sid = update_lake_rows(p, pb.greater_than("bal", 15), {"bal": "bal + 100"})
    assert sid == 2
    out = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out.bal) == [10, 120, 130]
    with pytest.raises(ValueError, match="key columns"):
        update_lake_rows(p, pb.greater_than("bal", 0), {"k": "k + 1"})
    create_lake_tag(p, "v2")
    tags = {r.tag_name: r.snapshot_id for r in t.tags().collect()}
    assert tags == {"v2": 2}
    opts = {r.key: r.value for r in t.options().collect()}
    assert opts.get("bucket") == "2"


def test_lake_timestamp_time_travel(tmp_path, spark):
    """Engine commits carry real wall-clock timeMillis (JVM readers
    time-travel by it) and with_timestamp picks the newest snapshot at
    or before the given instant."""
    import json
    import os
    import time

    from paimon_python_spark.paimon_lake import PaimonLakeTable, write_lake_append
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "ts_lake")
    write_paimon_fixture(
        p, [("k", "INT")], [], [],
        [(0, {}, 0, pa.table({"k": pa.array([1], pa.int32())}))],
    )
    write_lake_append(p, spark.createDataFrame([(2,)], "k int"))
    t2 = json.load(open(os.path.join(p, "snapshot", "snapshot-2")))["timeMillis"]
    assert abs(t2 - time.time() * 1000) < 60_000  # real clock, not 0
    time.sleep(0.05)
    mid = int(time.time() * 1000)
    time.sleep(0.05)
    write_lake_append(p, spark.createDataFrame([(3,)], "k int"))
    rb = PaimonLakeTable(p).new_read_builder().with_timestamp(mid)
    assert sorted(rb.new_read().to_pandas().k) == [1, 2]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no snapshot at or before"):
        PaimonLakeTable(p).new_read_builder().with_timestamp(-1)


def test_lake_catalog_full_lifecycle(tmp_path, spark):
    """Bootstrap a spec-format lake FROM SCRATCH through the catalog
    facade: create_database/create_table write schema-0 per spec, the
    first append commits snapshot-1 against the empty prior state, PK
    tables upsert, and the importer (the spec-reader path) consumes
    the result — proving the created layout is a real lake."""
    from pyspark.sql import types as T

    from paimon_python_spark.paimon_lake import (
        PaimonLakeCatalog,
        delete_lake_rows,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    cat = PaimonLakeCatalog.create({"warehouse": str(tmp_path / "lakewh")})
    cat.create_database("prod")
    assert cat.list_databases() == ["prod"]
    sch = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.StringType())]
    )
    t = cat.create_table("prod.kv", sch, primary_keys=["k"],
                         options={"bucket": "2"})
    assert cat.list_tables("prod") == ["kv"]
    # empty lake reads as empty with the declared schema
    empty = t.new_read_builder().new_read().to_df()
    assert empty.count() == 0 and [f.name for f in empty.schema.fields] == ["k", "v"]
    # first commit bootstraps snapshot-1
    assert write_lake_append(t.table_path,
                             spark.createDataFrame([(1, "a"), (2, "b")],
                                                   "k long, v string")) == 1
    write_lake_append(t.table_path,
                      spark.createDataFrame([(2, "B")], "k long, v string"))
    out = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out.v) == ["a", "B"]
    pb = t.new_read_builder().new_predicate_builder()
    delete_lake_rows(t.table_path, pb.equal("k", 1))
    assert t.new_read_builder().new_read().to_pandas().k.tolist() == [2]
    # the spec-reader path (importer) consumes the created layout
    from paimon_python_spark import Catalog

    ecat = Catalog.create({"warehouse": str(tmp_path / "enginewh")})
    ecat.create_database("default", True)
    et = import_paimon_table(t.table_path, ecat, "default.kv_imported")
    assert et.new_read_builder().new_read().to_pandas().k.tolist() == [2]
    # duplicate create refuses; dynamic-bucket PK create now WORKS
    # (bucket unset defaults to -1 = HASH_DYNAMIC, real Paimon's
    # default PK mode — see test_dynamic_bucket.py for the full surface)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="already exists"):
        cat.create_table("prod.kv", sch, primary_keys=["k"],
                         options={"bucket": "2"})
    t2 = cat.create_table("prod.kv2", sch, primary_keys=["k"])
    write_lake_append(t2.table_path,
                      spark.createDataFrame([(7, "dyn")], "k long, v string"))
    assert t2.new_read_builder().new_read().to_pandas().v.tolist() == ["dyn"]
    cat.drop_table("prod.kv")
    cat.drop_table("prod.kv2")
    assert cat.list_tables("prod") == []


def test_merge_into_lake(tmp_path, spark):
    """MERGE INTO a real PK lake: update matched, delete per condition,
    insert unmatched — one spec commit of changelog rows the lake's
    own merge resolves."""
    from paimon_python_spark.merge import merge_into_lake
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "merge_lake")
    kv = pa.schema(
        [("_KEY_k", pa.int64()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int64()), ("bal", pa.int64())]
    )
    write_paimon_fixture(
        p, [("k", "BIGINT NOT NULL"), ("bal", "BIGINT")], [], ["k"],
        _route_kv2(pa.table(
            {"_KEY_k": [1, 2, 3], "_SEQUENCE_NUMBER": [0, 1, 2],
             "_VALUE_KIND": [0, 0, 0], "k": [1, 2, 3],
             "bal": [10, 20, 30]}, schema=kv), 2),
        options={"bucket": "2"},
    )
    src = spark.createDataFrame(
        [(1, 5, "U"), (2, 0, "D"), (9, 90, "U")], "k bigint, bal bigint, op string"
    )
    sid = merge_into_lake(
        p,
        src,
        matched_update={"bal": "tgt.bal + src.bal"},
        matched_delete_condition="src.op = 'D'",
    )
    assert sid == 2
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(zip(out.k, out.bal)) == [(1, 15), (3, 30), (9, 90)]


def test_alter_lake_schema_roundtrip(tmp_path, spark):
    """Engine-side ALTER on a real lake: adds take fresh field ids,
    renames keep theirs (old files read under the new name via the
    field-id mapping), drops stop projecting — and appends after the
    ALTER write under the new schema id."""
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        alter_lake_schema,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "alter_lake")
    write_paimon_fixture(
        p, [("k", "INT"), ("v", "STRING"), ("junk", "INT")], [], [],
        [(0, {}, 0, pa.table({"k": pa.array([1], pa.int32()),
                              "v": pa.array(["a"], pa.string()),
                              "junk": pa.array([9], pa.int32())}))],
    )
    sid = alter_lake_schema(
        p,
        add_columns=[("note", "STRING")],
        rename_columns={"v": "val"},
        drop_columns=["junk"],
    )
    assert sid == 1
    write_lake_append(
        p, spark.createDataFrame([(2, "b", "fresh")], "k int, val string, note string")
    )
    out = (
        PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
        .sort_values("k")
    )
    assert list(out.columns) == ["k", "val", "note"]
    assert list(out.val) == ["a", "b"]  # renamed col maps old data by id
    assert out.note.tolist() == [None, "fresh"]  # add NULL-fills old files
    assert "junk" not in out.columns
    # key columns refuse
    import pytest as _pytest

    kv = pa.schema(
        [("_KEY_k", pa.int64()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int64()), ("v", pa.string())]
    )
    p2 = str(tmp_path / "alter_pk")
    write_paimon_fixture(
        p2, [("k", "BIGINT NOT NULL"), ("v", "STRING")], [], ["k"],
        [(0, {}, 0, pa.table(
            {"_KEY_k": [1], "_SEQUENCE_NUMBER": [0], "_VALUE_KIND": [0],
             "k": [1], "v": ["a"]}, schema=kv))],
        options={"bucket": "1"},
    )
    with _pytest.raises(ValueError, match="key column"):
        alter_lake_schema(p2, drop_columns=["k"])


def test_overwrite_lake_and_history_replay(tmp_path, catalog, spark):
    """INSERT OVERWRITE on a real lake commits a spec OVERWRITE
    snapshot (whole visible table replaced, old snapshots still
    time-travel), and preserve_history replays the chain — the
    OVERWRITE snapshot materializes as an engine overwrite."""
    import json as _json
    import os

    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        overwrite_lake,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "ow_lake")
    write_paimon_fixture(
        p, [("k", "INT"), ("v", "STRING")], [], [],
        [(0, {}, 0, pa.table({"k": pa.array([1, 2], pa.int32()),
                              "v": pa.array(["a", "b"], pa.string())}))],
    )
    sid = overwrite_lake(p, spark.createDataFrame([(7, "x"), (8, "y")],
                                                  "k int, v string"))
    assert sid == 2
    snap = _json.load(open(os.path.join(p, "snapshot", "snapshot-2")))
    assert snap["commitKind"] == "OVERWRITE"
    assert snap["totalRecordCount"] == 2
    write_lake_append(p, spark.createDataFrame([(9, "z")], "k int, v string"))
    t = PaimonLakeTable(p)
    assert sorted(t.new_read_builder().new_read().to_pandas().k) == [7, 8, 9]
    # time travel: pre-overwrite snapshot still reads the replaced rows
    old = t.new_read_builder().with_snapshot(1).new_read().to_pandas()
    assert sorted(old.k) == [1, 2]
    # history-preserving import replays all three states
    et = import_paimon_table(p, catalog, "default.ow_hist", preserve_history=True)
    assert sorted(
        et.new_read_builder().with_snapshot(1).new_read().to_pandas().k
    ) == [1, 2]
    assert sorted(
        et.new_read_builder().with_snapshot(2).new_read().to_pandas().k
    ) == [7, 8]
    assert sorted(et.new_read_builder().new_read().to_pandas().k) == [7, 8, 9]
    # PK lake overwrite: fresh sequence range, later upsert wins
    kv = pa.schema(
        [("_KEY_k", pa.int64()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int64()), ("v", pa.string())]
    )
    p2 = str(tmp_path / "ow_pk")
    write_paimon_fixture(
        p2, [("k", "BIGINT NOT NULL"), ("v", "STRING")], [], ["k"],
        _route_kv2(pa.table(
            {"_KEY_k": [1, 2], "_SEQUENCE_NUMBER": [0, 1],
             "_VALUE_KIND": [0, 0], "k": [1, 2], "v": ["a", "b"]},
            schema=kv), 2),
        options={"bucket": "2"},
    )
    overwrite_lake(p2, spark.createDataFrame([(5, "e")], "k bigint, v string"))
    write_lake_append(p2, spark.createDataFrame([(5, "E")], "k bigint, v string"))
    out = PaimonLakeTable(p2).new_read_builder().new_read().to_pandas()
    assert list(out.k) == [5] and list(out.v) == ["E"]


def test_export_paimon_table_roundtrip(tmp_path, catalog, spark):
    """REVERSE bridge: an engine table exports to a spec-format Paimon
    layout that this repo's own lake reader (and importer) consume —
    engine -> spec -> engine closes byte-level loop for both directions."""
    from paimon_python_spark import Schema
    from paimon_python_spark.paimon_import import export_paimon_table
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    src = spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, "y"), ("b", 3, "z")], "dt string, k int, v string"
    )
    catalog.create_table(
        "default.exp_src",
        Schema(src.schema, partition_keys=["dt"], primary_keys=["dt", "k"],
               options={"bucket": "1"}),
        False,
    )
    t = catalog.get_table("default.exp_src")
    wb = t.new_batch_write_builder()
    w, c = wb.new_write(), wb.new_commit()
    w.write_dataframe(src)
    c.commit(w.prepare_commit())
    w.close()
    # upsert one key so the export carries MERGED state, not raw history
    wb2 = t.new_batch_write_builder()
    w2, c2 = wb2.new_write(), wb2.new_commit()
    w2.write_dataframe(
        spark.createDataFrame([("a", 2, "Y2")], "dt string, k int, v string")
    )
    c2.commit(w2.prepare_commit())
    w2.close()

    dest = str(tmp_path / "exported_lake")
    export_paimon_table(t, dest)
    out = (
        PaimonLakeTable(dest)
        .new_read_builder()
        .new_read()
        .to_pandas()
        .sort_values(["dt", "k"])
    )
    assert list(out.dt) == ["a", "a", "b"]
    assert list(out.k) == [1, 2, 3]
    assert list(out.v) == ["x", "Y2", "z"]
    # and back through the importer
    t2 = import_paimon_table(dest, catalog, "default.exp_back")
    back = t2.new_read_builder().new_read().to_pandas().sort_values(["dt", "k"])
    assert list(back.v) == ["x", "Y2", "z"]


def test_export_paimon_table_append_unpartitioned(tmp_path, catalog, spark):
    from paimon_python_spark import Schema
    from paimon_python_spark.paimon_import import export_paimon_table
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark
    import datetime

    set_spark(spark)
    src = spark.createDataFrame(
        [(1, 2.5, datetime.date(2024, 1, 15)), (2, None, None)],
        "k bigint, x double, d date",
    )
    catalog.create_table("default.exp_app", Schema(src.schema), False)
    t = catalog.get_table("default.exp_app")
    wb = t.new_batch_write_builder()
    w, c = wb.new_write(), wb.new_commit()
    w.write_dataframe(src)
    c.commit(w.prepare_commit())
    w.close()
    dest = str(tmp_path / "exp_app_lake")
    export_paimon_table(t, dest)
    out = PaimonLakeTable(dest).new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out.k) == [1, 2]
    assert out.x.tolist()[0] == 2.5
    assert out.d.tolist()[0] == datetime.date(2024, 1, 15)


def test_lake_incremental_read(tmp_path, spark):
    """Incremental (from, to] read on a real lake: append tables return
    the appended rows; PK tables the raw changelog rows with _row_kind."""
    from paimon_python_spark.paimon_import import append_paimon_fixture_snapshot
    from paimon_python_spark.paimon_lake import read_lake_incremental
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    # append table
    p = str(tmp_path / "inc_app")
    write_paimon_fixture(
        p, [("k", "INT NOT NULL")], [], [],
        [(0, {}, 0, pa.table({"k": pa.array([1, 2], pa.int32())}))],
    )
    append_paimon_fixture_snapshot(
        p, [(0, {}, 0, pa.table({"k": pa.array([3], pa.int32())}))], tag="c2"
    )
    append_paimon_fixture_snapshot(
        p, [(0, {}, 0, pa.table({"k": pa.array([4], pa.int32())}))], tag="c3"
    )
    assert sorted(read_lake_incremental(p, 1, 3).toPandas().k) == [3, 4]
    assert sorted(read_lake_incremental(p, 2).toPandas().k) == [4]
    assert len(read_lake_incremental(p, 3).toPandas()) == 0

    # PK table changelog
    kv = pa.schema(
        [("_KEY_k", pa.int32()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int32()), ("v", pa.string())]
    )
    p2 = str(tmp_path / "inc_pk")
    write_paimon_fixture(
        p2, [("k", "INT NOT NULL"), ("v", "STRING")], [], ["k"],
        [(0, {}, 0, pa.table(
            {"_KEY_k": [1], "_SEQUENCE_NUMBER": [0], "_VALUE_KIND": [0],
             "k": [1], "v": ["a"]}, schema=kv))],
        options={"bucket": "1"},
    )
    append_paimon_fixture_snapshot(
        p2,
        [(0, {}, 0, pa.table(
            {"_KEY_k": [1, 2], "_SEQUENCE_NUMBER": [1, 2], "_VALUE_KIND": [3, 0],
             "k": [1, 2], "v": ["a", "b"]}, schema=kv))],
    )
    out = read_lake_incremental(p2, 1).toPandas().sort_values("_SEQUENCE_NUMBER")
    assert list(out.k) == [1, 2]
    assert list(out._row_kind) == ["-D", "+I"]


def test_stream_lake_snapshots_resume(tmp_path, spark):
    """Streaming a real lake: batches arrive per snapshot; a restarted
    consumer with the same consumer_id resumes after the last finished
    batch (offsets live in the CONSUMER's dir — the lake may be
    read-only)."""
    from paimon_python_spark.paimon_import import append_paimon_fixture_snapshot
    from paimon_python_spark.paimon_lake import stream_lake_snapshots
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "stream_lake")
    cdir = str(tmp_path / "consumer_state")
    write_paimon_fixture(
        p, [("k", "INT NOT NULL")], [], [],
        [(0, {}, 0, pa.table({"k": pa.array([1], pa.int32())}))],
    )
    append_paimon_fixture_snapshot(
        p, [(0, {}, 0, pa.table({"k": pa.array([2], pa.int32())}))], tag="c2"
    )
    got = [
        (sid, sorted(df.toPandas().k))
        for sid, df in stream_lake_snapshots(
            p, max_batches=2, consumer_id="ci", consumer_dir=cdir
        )
    ]
    assert got == [(1, [1]), (2, [2])]
    # third commit lands; a NEW loop with the same consumer resumes at 3
    append_paimon_fixture_snapshot(
        p, [(0, {}, 0, pa.table({"k": pa.array([3], pa.int32())}))], tag="c3"
    )
    got2 = [
        (sid, sorted(df.toPandas().k))
        for sid, df in stream_lake_snapshots(
            p, max_batches=1, consumer_id="ci", consumer_dir=cdir
        )
    ]
    assert got2 == [(3, [3])]
    # external-dir mode never touches the lake
    assert not os.path.isdir(os.path.join(p, "consumer"))
    with pytest.raises(ValueError):
        next(stream_lake_snapshots(p, consumer_id="../escape", consumer_dir=cdir))


def test_lake_consumers(tmp_path, spark):
    """In-lake consumers (Paimon's consumer-id): spec-shaped
    ``consumer/consumer-<id>`` files, stream resume from them, expiry
    protection of unconsumed snapshots, the $consumers system table,
    and reset/clear."""
    import json

    from paimon_python_spark.paimon_import import (
        append_paimon_fixture_snapshot,
        latest_paimon_snapshot_id,
    )
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        clear_lake_consumer,
        expire_lake_snapshots,
        list_lake_consumers,
        read_lake_consumer,
        stream_lake_snapshots,
        write_lake_consumer,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "consumer_lake")
    write_paimon_fixture(
        p, [("k", "INT NOT NULL")], [], [],
        [(0, {}, 0, pa.table({"k": pa.array([1], pa.int32())}))],
    )
    for i in (2, 3, 4):
        append_paimon_fixture_snapshot(
            p, [(0, {}, 0, pa.table({"k": pa.array([i], pa.int32())}))],
            tag=f"c{i}",
        )
    # stream two batches with an IN-LAKE consumer (no consumer_dir)
    got = [
        (sid, sorted(df.toPandas().k))
        for sid, df in stream_lake_snapshots(p, max_batches=2, consumer_id="job1")
    ]
    assert got == [(1, [1]), (2, [2])]
    # the consumer file is the exact spec shape real Paimon writes
    with open(os.path.join(p, "consumer", "consumer-job1")) as f:
        assert json.load(f) == {"nextSnapshot": 3}
    assert read_lake_consumer(p, "job1") == 3
    # a restarted loop resumes at snapshot 3
    got2 = [
        (sid, sorted(df.toPandas().k))
        for sid, df in stream_lake_snapshots(p, max_batches=2, consumer_id="job1")
    ]
    assert got2 == [(3, [3]), (4, [4])]
    # expiry protection: job2 still needs snapshot 2, so keep_last_n=1
    # cannot expire snapshots 2+ — only snapshot 1 goes
    write_lake_consumer(p, "job2", 2)
    res = expire_lake_snapshots(p, keep_last_n=1)
    assert res["snapshots_deleted"] == 1
    sdir = os.path.join(p, "snapshot")
    assert not os.path.exists(os.path.join(sdir, "snapshot-1"))
    assert os.path.exists(os.path.join(sdir, "snapshot-2"))
    # $consumers system table
    t = PaimonLakeTable(p)
    cons = {r.consumer_id: r.next_snapshot for r in t.consumers().collect()}
    assert cons == {"job1": 5, "job2": 2}
    # reset job2 forward -> expiry proceeds past its old hold
    write_lake_consumer(p, "job2", 5)
    res2 = expire_lake_snapshots(p, keep_last_n=1)
    assert res2["snapshots_deleted"] == 2
    assert os.path.exists(os.path.join(sdir, "snapshot-4"))
    # clear: drop one, then all
    assert clear_lake_consumer(p, "job2") == 1
    assert list_lake_consumers(p) == {"job1": 5}
    assert clear_lake_consumer(p) == 1
    assert list_lake_consumers(p) == {}
    # guards
    with pytest.raises(ValueError):
        write_lake_consumer(p, "../escape", 1)
    with pytest.raises(ValueError):
        write_lake_consumer(p, "ok", 0)
    assert read_lake_consumer(p, "missing") is None
    assert latest_paimon_snapshot_id(p) == 4


def test_lake_system_tables(tmp_path, spark):
    """Paimon's $snapshots/$files/$schemas/$partitions system tables on
    a real lake handle."""
    from paimon_python_spark.paimon_import import (
        add_paimon_fixture_schema,
        append_paimon_fixture_snapshot,
    )
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "sys_lake")
    write_paimon_fixture(
        p, [("dt", "STRING NOT NULL"), ("k", "INT")], ["dt"], [],
        [
            (0, {"dt": "a"}, 0, pa.table({"k": pa.array([1, 2], pa.int32())})),
            (0, {"dt": "b"}, 0, pa.table({"k": pa.array([3], pa.int32())})),
        ],
    )
    add_paimon_fixture_schema(
        p, [(0, "dt", "STRING NOT NULL"), (1, "k", "INT"), (2, "x", "BIGINT")]
    )
    append_paimon_fixture_snapshot(
        p,
        [(0, {"dt": "a"}, 0,
          pa.table({"k": pa.array([4], pa.int32()),
                    "x": pa.array([40], pa.int64())}))],
        schema_id=1,
    )
    t = PaimonLakeTable(p)
    snaps = t.snapshots().toPandas()
    assert list(snaps.snapshot_id) == [1, 2]
    assert list(snaps.schema_id) == [0, 1]
    files = t.files().toPandas()
    assert len(files) == 3
    assert set(files.schema_id) == {0, 1}
    schemas = t.schemas().toPandas()
    assert list(schemas.schema_id) == [0, 1]
    assert "2:x:bigint" in schemas.fields[1]
    parts = t.partitions().toPandas().sort_values("partition")
    assert list(parts.record_count) == [3, 1]  # dt=a (2+1), dt=b (1)
    assert list(parts.file_count) == [2, 1]
    # time travel on the system view
    assert len(t.files(snapshot_id=1).toPandas()) == 2
    # $manifests: snapshot 2 lists base (carried) + delta (new) sources
    mans = t.manifests().toPandas()
    assert set(mans.source) <= {"base", "delta", "changelog"}
    assert "delta" in set(mans.source)
    assert (mans.num_added_files >= 0).all()
    assert t.manifests(snapshot_id=1).count() >= 1
    # $buckets: per-(partition, bucket) totals reconcile with $files
    bks = t.buckets().toPandas()
    assert int(bks.record_count.sum()) == int(files.record_count.sum())
    assert int(bks.file_count.sum()) == 3
    assert set(bks.bucket) == {0}


def test_write_lake_append_roundtrip(tmp_path, spark):
    """Engine as lake PARTICIPANT: a distributed Spark write commits an
    APPEND snapshot to a real (fixture) lake; the lake reader sees the
    union, incremental sees exactly the new commit, and partition
    pruning still plans correctly over the adopted files."""
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        read_lake_incremental,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "writable_lake")
    write_paimon_fixture(
        p,
        [("dt", "STRING NOT NULL"), ("k", "INT"), ("v", "STRING")],
        ["dt"],
        [],
        [(0, {"dt": "a"}, 0,
          pa.table({"k": pa.array([1], pa.int32()),
                    "v": pa.array(["x"], pa.string())}))],
    )
    new = spark.createDataFrame(
        [("a", 2, "y"), ("b", 3, "z")], "dt string, k int, v string"
    )
    sid = write_lake_append(p, new)
    assert sid == 2
    t = PaimonLakeTable(p)
    out = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out.k) == [1, 2, 3]
    assert list(out.dt) == ["a", "a", "b"]
    inc = read_lake_incremental(p, 1).toPandas().sort_values("k")
    assert list(inc.k) == [2, 3]
    # partition pruning over mixed fixture+engine-written files
    rb = t.new_read_builder()
    pb = rb.new_predicate_builder()
    pruned = rb.with_filter(pb.equal("dt", "b")).new_scan().plan().splits()
    assert len(pruned) == 1 and pruned[0].row_count() == 1
    # snapshot chain is well-formed for the system tables too
    snaps = t.snapshots().toPandas()
    assert list(snaps.snapshot_id) == [1, 2]
    assert snaps.total_record_count.tolist() == [1, 3]
    # PK lakes dispatch to the fixed-bucket key-value write path
    p2 = str(tmp_path / "pk_lake")
    kv = pa.schema(
        [("_KEY_k", pa.int64()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int64()), ("v", pa.string())]
    )
    write_paimon_fixture(
        p2, [("k", "BIGINT NOT NULL"), ("v", "STRING")], [], ["k"],
        _route_kv2(pa.table(
            {"_KEY_k": [1, 2, 3], "_SEQUENCE_NUMBER": [0, 1, 2],
             "_VALUE_KIND": [0, 0, 0], "k": [1, 2, 3],
             "v": ["a", "b", "c"]}, schema=kv), 2),
        options={"bucket": "2"},
    )
    upserts = spark.createDataFrame(
        [(2, "B"), (7, "new")], "k bigint, v string"
    )
    assert write_lake_append(p2, upserts) == 2
    out2 = (
        PaimonLakeTable(p2).new_read_builder().new_read().to_pandas()
        .sort_values("k")
    )
    assert list(out2.k) == [1, 2, 3, 7]
    assert list(out2.v) == ["a", "B", "c", "new"]
    # rows landed in the bucket the public extractor assigns
    import os

    from paimon_python_spark.paimon_import import fixed_bucket

    for key in (2, 7):
        b = fixed_bucket([key], [T.LongType()], 2)
        bdir = os.path.join(p2, f"bucket-{b}")
        found = any(
            spark.read.parquet(os.path.join(bdir, f))
            .filter(f"_KEY_k = {key}").count() > 0
            for f in os.listdir(bdir) if f.endswith(".parquet")
        )
        assert found, f"key {key} not in expected bucket-{b}"
    # dynamic-bucket lakes with data but NO hash index refuse — blind
    # routing could split a key across buckets (the reference refuses
    # dynamic outright, py4j/util/java_utils.py:56-61; the engine
    # supports indexed dynamic lakes, test_dynamic_bucket.py)
    p3 = str(tmp_path / "dyn_lake")
    write_paimon_fixture(
        p3, [("k", "BIGINT NOT NULL"), ("v", "STRING")], [], ["k"],
        [(0, {}, 0, pa.table(
            {"_KEY_k": [1], "_SEQUENCE_NUMBER": [0],
             "_VALUE_KIND": [0], "k": [1], "v": ["a"]},
            schema=kv))],
        options={"bucket": "-1"},
    )
    with pytest.raises(ValueError, match="no HASH index"):
        write_lake_append(p3, upserts)


def test_lake_read_dv_orc_table(tmp_path, spark):
    """DV reads over ORC lakes route through the pyarrow.orc codec path
    (Spark's orc reader exposes no row index)."""
    from paimon_python_spark.paimon_import import attach_paimon_dv_fixture
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "dv_orc")
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        [],
        [],
        [(0, {}, 0,
          pa.table({"k": pa.array([1, 2, 3], pa.int32()),
                    "v": pa.array(["a", "b", "c"], pa.string())}))],
        options={"file.format": "orc"},
    )
    attach_paimon_dv_fixture(p, {"data-fixture-0.orc": [1]})
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out.k) == [1, 3]
    assert list(out.v) == ["a", "c"]
    # raw-path consumers see the DV marks on the split itself — file
    # paths alone would silently resurrect the deleted row
    sp = PaimonLakeTable(p).new_read_builder().new_scan().plan().splits()
    assert sp[0].has_deletion_vectors()
    dvr = sp[0].deletion_vectors()
    assert dvr[0].data_file_name == "data-fixture-0.orc"
    from paimon_python_spark.paimon_import import read_dv_index_entry

    assert list(read_dv_index_entry(dvr[0].index_path, dvr[0].offset, dvr[0].length)) == [1]


def test_lake_tag_read_survives_snapshot_expiry(tmp_path, spark):
    """A real-lake TAG is a full snapshot copy under tag/tag-<name> —
    with_tag reads it even after the snapshot file itself expired."""
    import shutil

    from paimon_python_spark.paimon_import import append_paimon_fixture_snapshot
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "tag_lake")
    write_paimon_fixture(
        p, [("k", "INT NOT NULL")], [], [],
        [(0, {}, 0, pa.table({"k": pa.array([1], pa.int32())}))],
    )
    # tag snapshot 1 the way real Paimon does: copy the snapshot JSON
    os.makedirs(os.path.join(p, "tag"))
    shutil.copyfile(
        os.path.join(p, "snapshot", "snapshot-1"),
        os.path.join(p, "tag", "tag-v1"),
    )
    append_paimon_fixture_snapshot(
        p, [(0, {}, 0, pa.table({"k": pa.array([2], pa.int32())}))]
    )
    t = PaimonLakeTable(p)
    assert sorted(t.new_read_builder().new_read().to_pandas().k) == [1, 2]
    tagged = t.new_read_builder().with_tag("v1").new_read().to_pandas()
    assert sorted(tagged.k) == [1]
    # expire snapshot 1: the tag read must still work
    os.remove(os.path.join(p, "snapshot", "snapshot-1"))
    tagged2 = t.new_read_builder().with_tag("v1").new_read().to_pandas()
    assert sorted(tagged2.k) == [1]


def test_lake_dv_with_schema_evolution_combined(tmp_path, spark):
    """A real lake can carry BOTH: files under an old schema (rename by
    field id) AND deletion vectors marking rows in them — the mapped
    select must carry the provenance columns through so the anti-join
    still hits."""
    from paimon_python_spark.paimon_import import (
        add_paimon_fixture_schema,
        append_paimon_fixture_snapshot,
        attach_paimon_dv_fixture,
    )
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "dv_evo")
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("val", "STRING")],
        [],
        [],
        [(0, {}, 0,
          pa.table({"k": pa.array([1, 2, 3], pa.int32()),
                    "val": pa.array(["a", "b", "c"], pa.string())}))],
    )
    add_paimon_fixture_schema(
        p, [(0, "k", "INT NOT NULL"), (1, "renamed", "STRING")]
    )
    append_paimon_fixture_snapshot(
        p,
        [(0, {}, 0,
          pa.table({"k": pa.array([4], pa.int32()),
                    "renamed": pa.array(["d"], pa.string())}))],
        schema_id=1,
    )
    # DV marks row 1 (k=2) of the OLD-schema file
    attach_paimon_dv_fixture(p, {"data-fixture-0.parquet": [1]})
    out = (
        PaimonLakeTable(p).new_read_builder().new_read().to_pandas().sort_values("k")
    )
    assert list(out.k) == [1, 3, 4]
    assert list(out.renamed) == ["a", "c", "d"]


def test_append_carries_dv_index_forward(tmp_path, spark):
    """Regression: a snapshot committed AFTER deletion vectors exist
    must carry the indexManifest forward — dropping it would silently
    resurrect every DV-deleted row."""
    from paimon_python_spark.paimon_import import (
        append_paimon_fixture_snapshot,
        attach_paimon_dv_fixture,
    )
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "dv_carry")
    write_paimon_fixture(
        p, [("k", "INT NOT NULL")], [], [],
        [(0, {}, 0, pa.table({"k": pa.array([1, 2, 3], pa.int32())}))],
    )
    attach_paimon_dv_fixture(p, {"data-fixture-0.parquet": [1]})  # delete k=2
    assert sorted(
        PaimonLakeTable(p).new_read_builder().new_read().to_pandas().k
    ) == [1, 3]
    # fixture append carries the index
    append_paimon_fixture_snapshot(
        p, [(0, {}, 0, pa.table({"k": pa.array([4], pa.int32())}))], tag="c2"
    )
    assert sorted(
        PaimonLakeTable(p).new_read_builder().new_read().to_pandas().k
    ) == [1, 3, 4]
    # engine lake-append carries it too
    write_lake_append(p, spark.createDataFrame([(5,)], "k int"))
    assert sorted(
        PaimonLakeTable(p).new_read_builder().new_read().to_pandas().k
    ) == [1, 3, 4, 5]


def test_binary_row_truncation_raises_cleanly():
    """Foreign corrupt/truncated BinaryRows must raise ValueError with
    a diagnosis, never IndexError/struct.error or silent short data."""
    enc = encode_binary_row(
        [5, "hello world long string"], [T.IntegerType(), T.StringType()]
    )
    # len-2 cuts into the string payload itself; len-1 would only shave
    # the word-alignment pad, which decodes fine by design
    for cut in (0, 2, 4, 8, 12, len(enc) - 2):
        with pytest.raises(ValueError):
            decode_binary_row(enc[:cut], [T.IntegerType(), T.StringType()])
    # padded encoding still decodes exactly
    assert decode_binary_row(enc, [T.IntegerType(), T.StringType()]) == [
        5,
        "hello world long string",
    ]


def test_register_lake_sql_view(append_fixture, spark):
    from paimon_python_spark.paimon_lake import register_lake_sql_view
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    register_lake_sql_view(spark, append_fixture, "lake_view")
    out = spark.sql(
        "SELECT dt, count(*) AS n FROM lake_view GROUP BY dt ORDER BY dt"
    ).collect()
    assert [(r.dt, r.n) for r in out] == [("a", 2), ("b", 1)]


def _dated_lake(tmp_path, spark, name="dated_lake", options=None):
    p = str(tmp_path / name)
    sch = pa.schema([("dt", pa.string()), ("k", pa.int32())])
    write_paimon_fixture(
        p,
        [("dt", "STRING NOT NULL"), ("k", "INT")],
        ["dt"],
        [],
        [
            (0, {"dt": d}, 0,
             pa.table({"dt": [d] * n, "k": list(range(n))}, schema=sch))
            for d, n in (("2026-01-01", 3), ("2026-06-01", 2), ("2026-08-10", 4))
        ],
        options=options,
    )
    return p


def test_drop_lake_partitions(tmp_path, spark):
    """DROP PARTITION is a METADATA-ONLY OVERWRITE commit: matched
    partitions' files DELETE from the manifest chain, the bytes stay
    for time travel, totals adjust, and a re-drop of the same value is
    a no-op (real Paimon drops of missing partitions don't error)."""
    from paimon_python_spark.paimon_import import read_paimon_snapshot
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        drop_lake_partitions,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = _dated_lake(tmp_path, spark)
    t = PaimonLakeTable(p)
    pb = t.new_read_builder().new_predicate_builder()
    res = drop_lake_partitions(p, pb.equal("dt", "2026-01-01"))
    assert res["partitions_dropped"] == 1 and res["rows_dropped"] == 3
    snap = read_paimon_snapshot(p)
    assert snap["commitKind"] == "OVERWRITE"
    assert int(snap["totalRecordCount"]) == 6
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert sorted(out.dt.unique()) == ["2026-06-01", "2026-08-10"]
    # time travel still reads the dropped partition's bytes
    old = (
        PaimonLakeTable(p)
        .new_read_builder()
        .with_snapshot(res["snapshot_id"] - 1)
        .new_read()
        .to_pandas()
    )
    assert sorted(old.dt.unique())[0] == "2026-01-01"
    # idempotent no-op
    res2 = drop_lake_partitions(p, pb.equal("dt", "2026-01-01"))
    assert res2["snapshot_id"] is None and res2["files_dropped"] == 0
    # predicate must hit a partition column
    with pytest.raises(ValueError):
        drop_lake_partitions(p, pb.equal("k", 1))


def test_expire_lake_partitions(tmp_path, spark):
    """Partition expiration: values older than now-expiration drop in
    one commit; arguments default to the table's own
    partition.expiration-time / timestamp-formatter options."""
    import datetime as dt

    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        expire_lake_partitions,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    now = dt.datetime(2026, 8, 15)
    p = _dated_lake(tmp_path, spark)
    res = expire_lake_partitions(p, "30 d", now=now)
    assert res["partitions_dropped"] == 2 and res["rows_dropped"] == 5
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert sorted(out.dt.unique()) == ["2026-08-10"]
    # option-driven defaults (the shape a real Paimon maintenance job reads)
    p2 = _dated_lake(
        tmp_path, spark, name="dated_lake_opt",
        options={
            "partition.expiration-time": "90 d",
            "partition.timestamp-formatter": "yyyy-MM-dd",
        },
    )
    res2 = expire_lake_partitions(p2, now=now)
    assert res2["partitions_dropped"] == 1 and res2["rows_dropped"] == 3
    # nothing old enough -> no commit
    res3 = expire_lake_partitions(p2, "365 d", now=now)
    assert res3["snapshot_id"] is None


def test_drop_lake_partitions_keeps_other_dv_marks(tmp_path, spark):
    """DV marks on partitions that SURVIVE a drop must re-commit (the
    same survival rule as scoped compaction); marks on dropped files
    vanish with the files."""
    from paimon_python_spark.paimon_import import attach_paimon_dv_fixture
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        drop_lake_partitions,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = _dated_lake(tmp_path, spark)
    # mark k=0 deleted in the 2026-08-10 file (kept) and k=0 in the
    # 2026-01-01 file (dropped)
    attach_paimon_dv_fixture(
        p, {"data-fixture-2.parquet": [0]}, partition={"dt": "2026-08-10"}
    )
    t = PaimonLakeTable(p)
    pb = t.new_read_builder().new_predicate_builder()
    drop_lake_partitions(p, pb.equal("dt", "2026-01-01"))
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    kept = out[out.dt == "2026-08-10"]
    assert sorted(kept.k) == [1, 2, 3]  # k=0 still DV-deleted after the drop


def test_pk_write_produces_input_changelog(tmp_path, spark):
    """changelog-producer=input: the ENGINE's own PK-lake commits must
    write separate changelog files + a changelogManifestList so
    streaming readers see every intermediate record even after
    compaction folds the level-0 data files. Real Paimon's cheapest
    producer: the commit input doubles as the changelog."""
    import glob
    import json
    import os

    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        read_lake_incremental,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "clw_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "1", "changelog-producer": "input"},
    )
    write_lake_pk_append(p, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string"))
    # batch 2: update k=1, delete k=2 — kinds must survive into the changelog
    write_lake_pk_append(
        p,
        spark.createDataFrame([(1, "A2", 2), (2, "b", 3)], "k int, v string, __kind int"),
        row_kind_col="__kind",
    )
    with open(os.path.join(p, "snapshot", "snapshot-2")) as f:
        snap = json.load(f)
    assert snap["changelogManifestList"], "commit must reference a changelog list"
    assert snap["changelogRecordCount"] == 2
    assert glob.glob(os.path.join(p, "bucket-*", "changelog-*")), (
        "changelog rows must live in SEPARATE files from the data files"
    )
    cl = (
        read_lake_incremental(p, 1, use_changelog=True)
        .toPandas()
        .sort_values("k")
    )
    assert list(cl._row_kind) == ["+U", "-D"]
    assert list(cl.v) == ["A2", "b"]
    # merged read resolves the upsert + delete
    from paimon_python_spark.paimon_lake import PaimonLakeTable

    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert list(out.k) == [1] and list(out.v) == ["A2"]
    # a lake WITHOUT the option must not grow changelog metadata
    p2 = str(tmp_path / "plain_lake")
    create_lake_table(
        p2, [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"], options={"bucket": "1"},
    )
    write_lake_pk_append(p2, spark.createDataFrame([(1, "a")], "k int, v string"))
    with open(os.path.join(p2, "snapshot", "snapshot-1")) as f:
        snap2 = json.load(f)
    assert snap2["changelogManifestList"] is None
    assert not glob.glob(os.path.join(p2, "bucket-*", "changelog-*"))


def test_full_compaction_changelog_producer(tmp_path, spark):
    """changelog-producer=full-compaction: each COMPACT commit carries
    the per-key diff against the PREVIOUS compaction's merged state —
    +I for new keys, -D for vanished ones, (-U, +U) pairs for changed
    values (the -U sequenced first). The batch commits themselves stay
    changelog-free (that's the input producer's job)."""
    import json
    import os

    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        compact_lake,
        create_lake_table,
        read_lake_incremental,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "fc_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "1", "changelog-producer": "full-compaction"},
    )
    sid1 = write_lake_pk_append(
        p, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    )
    with open(os.path.join(p, "snapshot", f"snapshot-{sid1}")) as f:
        assert json.load(f)["changelogManifestList"] is None  # input-producer off
    c1 = compact_lake(p)
    cl1 = read_lake_incremental(p, c1 - 1, c1, use_changelog=True).toPandas()
    assert sorted(cl1._row_kind) == ["+I", "+I"]  # first compaction: all insert
    # batch 2: update k=1, delete k=2, insert k=3
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(1, "A2", 2), (2, "b", 3), (3, "c", 0)], "k int, v string, __kind int"
        ),
        row_kind_col="__kind",
    )
    c2 = compact_lake(p)
    with open(os.path.join(p, "snapshot", f"snapshot-{c2}")) as f:
        snap = json.load(f)
    assert snap["commitKind"] == "COMPACT"
    assert snap["changelogRecordCount"] == 4
    cl2 = (
        read_lake_incremental(p, c2 - 1, c2, use_changelog=True)
        .toPandas()
        .sort_values(["k", "_SEQUENCE_NUMBER"])
    )
    assert list(zip(cl2.k, cl2._row_kind, cl2.v)) == [
        (1, "-U", "a"),
        (1, "+U", "A2"),
        (2, "-D", "b"),
        (3, "+I", "c"),
    ]
    # an unchanged table compacts with an EMPTY changelog
    c3 = compact_lake(p)
    with open(os.path.join(p, "snapshot", f"snapshot-{c3}")) as f:
        snap3 = json.load(f)
    assert snap3["changelogManifestList"] is None
    # merged state unaffected throughout
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert sorted(zip(out.k, out.v)) == [(1, "A2"), (3, "c")]


def test_sequence_field_write(tmp_path, spark):
    """sequence.field: a user column drives _SEQUENCE_NUMBER, so a
    STALE update arriving in a later commit loses to the newer row
    already in the lake — event-time merge, real Paimon's answer to
    out-of-order CDC."""
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "seqfield_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING"), ("ts", "BIGINT")],
        primary_keys=["k"],
        options={"bucket": "1", "sequence.field": "ts"},
    )
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(1, "newer", 2000), (2, "b", 500)], "k int, v string, ts long"
        ),
    )
    # commit 2 arrives LATER but carries OLDER event times for k=1
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(1, "stale", 1000), (2, "B2", 900)], "k int, v string, ts long"
        ),
    )
    out = (
        PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
        .sort_values("k")
    )
    # k=1 keeps the NEWER event-time row despite the later commit;
    # k=2 takes the update (900 > 500)
    assert list(zip(out.k, out.v)) == [(1, "newer"), (2, "B2")]
    # file metadata carries the real event-time sequence range
    from paimon_python_spark.paimon_import import plan_paimon_files

    assert max(e.max_seq for e in plan_paimon_files(p)) == 2000
    # unknown sequence column refuses
    p2 = str(tmp_path / "seqfield_bad")
    create_lake_table(
        p2, [("k", "INT NOT NULL")], primary_keys=["k"],
        options={"bucket": "1", "sequence.field": "nope"},
    )
    with pytest.raises(ValueError, match="sequence.field"):
        write_lake_pk_append(p2, spark.createDataFrame([(1,)], "k int"))


def test_dynamic_bucket_lake_read(tmp_path, spark):
    """Dynamic-bucket (bucket=-1) PK lakes READ fine — bucket numbers
    come from each manifest entry, not the option, and the PK merge is
    bucket-agnostic. WRITES refuse with the reference's exact error
    (java_utils.py:56-61), since bucket assignment lives in the lake
    owner's hash index."""
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    kv = pa.schema(
        [("_KEY_k", pa.int32()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int32()), ("v", pa.string())]
    )

    def kvt(ks, seqs, vs):
        return pa.table(
            {"_KEY_k": ks, "_SEQUENCE_NUMBER": seqs,
             "_VALUE_KIND": [0] * len(ks), "k": ks, "v": vs}, schema=kv)

    p = str(tmp_path / "dyn_lake")
    write_paimon_fixture(
        p, [("k", "INT NOT NULL"), ("v", "STRING")], [], ["k"],
        [
            (0, {}, 0, kvt([1, 3], [0, 1], ["a", "c"])),
            (0, {}, 1, kvt([2], [2], ["b"])),      # a second dynamic bucket
            (0, {}, 0, kvt([1], [3], ["A2"])),     # newer version of k=1
        ],
        options={"bucket": "-1"},
    )
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(zip(out.k, out.v)) == [(1, "A2"), (2, "b"), (3, "c")]
    # no hash index in the fixture → writes refuse (unsound routing);
    # compact_lake REBUILDS the index from the merged state, after
    # which dynamic upserts flow (test_dynamic_bucket.py has the rest)
    with pytest.raises(ValueError, match="no HASH index"):
        write_lake_pk_append(
            p, spark.createDataFrame([(9, "z")], "k int, v string")
        )
    from paimon_python_spark.paimon_import import plan_paimon_hash_index
    from paimon_python_spark.paimon_lake import compact_lake

    compact_lake(p)
    assert plan_paimon_hash_index(p)  # index rebuilt by the rewrite
    write_lake_pk_append(
        p, spark.createDataFrame([(9, "z"), (1, "A3")], "k int, v string")
    )
    out2 = (
        PaimonLakeTable(p).new_read_builder().new_read().to_pandas().sort_values("k")
    )
    assert list(zip(out2.k, out2.v)) == [(1, "A3"), (2, "b"), (3, "c"), (9, "z")]


def test_rescale_lake_bucket(tmp_path, spark):
    """Offline bucket rescale on a real PK lake: schema-(N+1) carries
    the new bucket option, the merged state rewrites routed by the new
    hash in ONE OVERWRITE commit, old snapshots keep their geometry
    (entry-level _TOTAL_BUCKETS), and subsequent upserts route by the
    new count and still merge per key."""
    import json
    import os

    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        rescale_lake_bucket,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "rescale_lake")
    create_lake_table(
        p, [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"], options={"bucket": "1"},
    )
    rows = [(i, f"v{i}") for i in range(40)]
    write_lake_pk_append(p, spark.createDataFrame(rows, "k int, v string"))
    sid = rescale_lake_bucket(p, 4)
    with open(os.path.join(p, "snapshot", f"snapshot-{sid}")) as f:
        snap = json.load(f)
    assert snap["commitKind"] == "OVERWRITE" and snap["schemaId"] == 1
    with open(os.path.join(p, "schema", "schema-1")) as f:
        assert json.load(f)["options"]["bucket"] == "4"
    # the rewrite landed in >1 bucket dir
    buckets = [d for d in os.listdir(p) if d.startswith("bucket-")]
    assert len(buckets) > 1
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert sorted(out.k) == list(range(40))
    # time travel to the pre-rescale snapshot keeps the old geometry
    old = (
        PaimonLakeTable(p).new_read_builder().with_snapshot(sid - 1)
        .new_read().to_pandas()
    )
    assert sorted(old.k) == list(range(40))
    # a post-rescale upsert routes by the NEW count and merges per key
    write_lake_pk_append(
        p, spark.createDataFrame([(7, "UP7"), (99, "new")], "k int, v string")
    )
    out2 = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert dict(zip(out2.k, out2.v))[7] == "UP7" and len(out2) == 41
    # append tables refuse
    p2 = str(tmp_path / "rescale_append")
    create_lake_table(p2, [("k", "INT NOT NULL")])
    with pytest.raises(ValueError):
        rescale_lake_bucket(p2, 4)


def test_lookup_changelog_producer(tmp_path, spark):
    """changelog-producer=lookup: every PK commit derives its
    FULL-IMAGE changelog at write time — existing keys emit (-U old,
    +U new), fresh keys +I, deletes -D with the OLD values (which the
    input producer cannot know), and value-identical upserts emit
    nothing (net-effect semantics)."""
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        read_lake_incremental,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "lookup_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "1", "changelog-producer": "lookup"},
    )
    sid1 = write_lake_pk_append(
        p, spark.createDataFrame([(1, "a"), (2, "b"), (4, "d")], "k int, v string")
    )
    cl1 = read_lake_incremental(p, sid1 - 1, sid1, use_changelog=True).toPandas()
    assert sorted(cl1._row_kind) == ["+I", "+I", "+I"]  # empty lake: all fresh
    # update k=1, delete k=2, insert k=3, IDENTICAL upsert k=4
    sid2 = write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(1, "A2", 2), (2, "b", 3), (3, "c", 0), (4, "d", 0)],
            "k int, v string, __kind int",
        ),
        row_kind_col="__kind",
    )
    cl2 = (
        read_lake_incremental(p, sid2 - 1, sid2, use_changelog=True)
        .toPandas()
        .sort_values(["k", "_SEQUENCE_NUMBER"])
    )
    assert list(zip(cl2.k, cl2._row_kind, cl2.v)) == [
        (1, "-U", "a"),
        (1, "+U", "A2"),
        (2, "-D", "b"),
        (3, "+I", "c"),
    ]
    # the delta (non-changelog) read still shows the raw commit input
    delta = read_lake_incremental(p, sid2 - 1, sid2).toPandas()
    assert len(delta) == 4


def test_lake_incremental_changelog_manifests(tmp_path, spark):
    """A lake written with a changelog-producer stores -U/+U pairs in
    CHANGELOG manifests; use_changelog=True must read those instead of
    the delta files (which only carry the new +U version)."""
    from paimon_python_spark.paimon_import import append_paimon_fixture_snapshot
    from paimon_python_spark.paimon_lake import read_lake_incremental
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    kv = pa.schema(
        [("_KEY_k", pa.int32()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int32()), ("v", pa.string())]
    )

    def kvt(ks, seqs, kinds, vs):
        return pa.table(
            {"_KEY_k": ks, "_SEQUENCE_NUMBER": seqs, "_VALUE_KIND": kinds,
             "k": ks, "v": vs}, schema=kv)

    p = str(tmp_path / "cl_lake")
    write_paimon_fixture(
        p, [("k", "INT NOT NULL"), ("v", "STRING")], [], ["k"],
        [(0, {}, 0, kvt([1], [0], [0], ["a"]))],
        options={"bucket": "1", "changelog-producer": "input"},
    )
    # commit 2: delta has the new version; changelog has the -U/+U pair
    append_paimon_fixture_snapshot(
        p,
        [(0, {}, 0, kvt([1], [1], [2], ["A2"]))],
        changelog_files=[({}, 0, kvt([1, 1], [0, 1], [1, 2], ["a", "A2"]))],
    )
    delta = read_lake_incremental(p, 1).toPandas()
    assert list(delta._row_kind) == ["+U"]
    cl = (
        read_lake_incremental(p, 1, use_changelog=True)
        .toPandas()
        .sort_values("_SEQUENCE_NUMBER")
    )
    assert list(cl._row_kind) == ["-U", "+U"]
    assert list(cl.v) == ["a", "A2"]


def test_lake_stats_file_skipping(tmp_path, spark):
    """Manifest min/max stats prune FILES at plan time (the JVM
    planner's second pruning level): disjoint key ranges -> a range
    predicate plans only the matching file; on PK tables only KEY-field
    predicates prune (value predicates must not drop a key's latest
    version)."""
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "stats_lake")
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        [],
        [],
        [
            (0, {}, 0, pa.table({"k": pa.array([1, 2, 3], pa.int32()),
                                 "v": pa.array(["a", "b", "c"], pa.string())})),
            (0, {}, 0, pa.table({"k": pa.array([100, 200], pa.int32()),
                                 "v": pa.array(["x", "y"], pa.string())})),
        ],
    )
    t = PaimonLakeTable(p)
    rb = t.new_read_builder()
    pb = rb.new_predicate_builder()
    rb = rb.with_filter(pb.greater_than("k", 50))
    splits = rb.new_scan().plan().splits()
    assert sum(len(s.file_paths()) for s in splits) == 1
    out = rb.new_read().to_pandas()
    assert sorted(out.k) == [100, 200]
    # string stats prune too
    rb2 = t.new_read_builder()
    pb2 = rb2.new_predicate_builder()
    rb2 = rb2.with_filter(pb2.equal("v", "b"))
    assert sum(len(s.file_paths()) for s in rb2.new_scan().plan().splits()) == 1

    # PK table: a VALUE predicate must NOT file-prune (latest version of
    # k=1 lives in file 2; pruning file 2 by v would resurrect 'old')
    kv = pa.schema(
        [("_KEY_k", pa.int32()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int32()), ("v", pa.string())]
    )
    p2 = str(tmp_path / "stats_pk")
    write_paimon_fixture(
        p2, [("k", "INT NOT NULL"), ("v", "STRING")], [], ["k"],
        [
            (0, {}, 0, pa.table(
                {"_KEY_k": [1], "_SEQUENCE_NUMBER": [0], "_VALUE_KIND": [0],
                 "k": [1], "v": ["old"]}, schema=kv)),
            (0, {}, 0, pa.table(
                {"_KEY_k": [1], "_SEQUENCE_NUMBER": [1], "_VALUE_KIND": [0],
                 "k": [1], "v": ["new"]}, schema=kv)),
        ],
        options={"bucket": "1"},
    )
    t2 = PaimonLakeTable(p2)
    rb3 = t2.new_read_builder()
    pb3 = rb3.new_predicate_builder()
    out2 = rb3.with_filter(pb3.equal("v", "old")).new_read().to_pandas()
    assert len(out2) == 0  # latest is 'new'; residual drops it — NOT 'old'
    # but a KEY predicate does prune PK files
    rb4 = t2.new_read_builder()
    pb4 = rb4.new_predicate_builder()
    rb4 = rb4.with_filter(pb4.greater_than("k", 1000))
    assert sum(len(s.file_paths()) for s in rb4.new_scan().plan().splits()) == 0


def test_compact_lake_append_table(tmp_path, spark):
    """Full compaction of an append lake: many small files + DV marks
    fold into one file per (partition, bucket), the DV index manifest
    drops (marks physically applied), commitKind=COMPACT, incremental
    readers see no rows for the compact snapshot, and time travel to
    pre-compact snapshots still reads the old files."""
    import os

    from paimon_python_spark.paimon_import import plan_paimon_files
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        compact_lake,
        delete_lake_rows,
        read_lake_incremental,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "compactable")
    write_paimon_fixture(
        p,
        [("dt", "STRING NOT NULL"), ("k", "INT"), ("v", "STRING")],
        ["dt"],
        [],
        [(0, {"dt": "a"}, 0,
          pa.table({"k": pa.array([1, 2], pa.int32()),
                    "v": pa.array(["x", "y"], pa.string())}))],
    )
    write_lake_append(
        p, spark.createDataFrame([("a", 3, "z"), ("b", 4, "w")],
                                 "dt string, k int, v string")
    )
    t = PaimonLakeTable(p)
    pb = t.new_read_builder().new_predicate_builder()
    delete_lake_rows(p, pb.equal("k", 2))  # snapshot 3: DV marks
    assert len(plan_paimon_files(p)) == 3  # fixture + 2 engine files
    sid = compact_lake(p)
    assert sid == 4
    # one file per live (partition, bucket); DV rows physically gone
    after = plan_paimon_files(p)
    assert len(after) == 2 and sorted(e.row_count for e in after) == [1, 2]
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert sorted(out.k) == [1, 3, 4]
    snap = json.load(open(os.path.join(p, "snapshot", f"snapshot-{sid}")))
    assert snap["commitKind"] == "COMPACT"
    assert snap["indexManifest"] is None
    assert snap["totalRecordCount"] == 3
    # incremental stream: the compact snapshot is a logical no-op
    assert read_lake_incremental(p, 3).count() == 0
    # time travel: pre-compact snapshot still reads the old files
    old = (
        PaimonLakeTable(p).new_read_builder().with_snapshot(2)
        .new_read().to_pandas()
    )
    assert sorted(old.k) == [1, 2, 3, 4]


def test_lake_read_optimized(tmp_path, spark):
    """$ro scan parity: after compaction the read-optimized scan sees
    the compacted state merge-free; level-0 upserts committed since
    are invisible to $ro but visible to the normal merged read."""
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        compact_lake,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "ro_lake")
    kv = pa.schema(
        [("_KEY_k", pa.int64()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int64()), ("v", pa.string())]
    )
    write_paimon_fixture(
        p, [("k", "BIGINT NOT NULL"), ("v", "STRING")], [], ["k"],
        _route_kv2(pa.table(
            {"_KEY_k": [1, 2], "_SEQUENCE_NUMBER": [0, 1],
             "_VALUE_KIND": [0, 0], "k": [1, 2], "v": ["a", "b"]},
            schema=kv), 2),
        options={"bucket": "1"},
    )
    # pre-compaction: no max-level files -> $ro is empty
    t = PaimonLakeTable(p)
    assert t.new_read_builder().read_optimized().new_read().to_df().count() == 0
    compact_lake(p)
    ro = t.new_read_builder().read_optimized().new_read().to_pandas().sort_values("k")
    assert list(ro.v) == ["a", "b"]
    # a post-compaction level-0 upsert: invisible to $ro, visible merged
    write_lake_append(p, spark.createDataFrame([(2, "B")], "k bigint, v string"))
    ro2 = t.new_read_builder().read_optimized().new_read().to_pandas().sort_values("k")
    assert list(ro2.v) == ["a", "b"]  # stale by contract
    merged = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(merged.v) == ["a", "B"]


def test_compact_lake_partition_scoped(tmp_path, spark):
    """Partition-scoped compaction (the 100 TB production form): only
    the matching partition's files fold; untouched partitions keep
    their files AND their deletion-vector marks."""
    from paimon_python_spark.paimon_import import plan_paimon_files
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        compact_lake,
        delete_lake_rows,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "scoped_compact")
    write_paimon_fixture(
        p,
        [("dt", "STRING NOT NULL"), ("k", "INT")],
        ["dt"],
        [],
        [(0, {"dt": "a"}, 0, pa.table({"k": pa.array([1, 2], pa.int32())})),
         (0, {"dt": "b"}, 0, pa.table({"k": pa.array([10, 11], pa.int32())}))],
    )
    write_lake_append(
        p, spark.createDataFrame([("a", 3), ("b", 12)], "dt string, k int")
    )
    t = PaimonLakeTable(p)
    pb = t.new_read_builder().new_predicate_builder()
    delete_lake_rows(p, pb.is_in("k", [2, 11]))  # one mark per partition
    files_b_before = {
        e.file_name for e in plan_paimon_files(p) if e.partition["dt"] == "b"
    }
    compact_lake(p, partition_filter=pb.equal("dt", "a"))
    after = plan_paimon_files(p)
    # dt=a folded to one mark-free file; dt=b files untouched
    a_files = [e for e in after if e.partition["dt"] == "a"]
    b_files = {e.file_name for e in after if e.partition["dt"] == "b"}
    assert len(a_files) == 1 and a_files[0].row_count == 2  # k=2 gone
    assert b_files == files_b_before
    # dt=b's DV mark SURVIVED: k=11 still invisible
    out = t.new_read_builder().new_read().to_pandas()
    assert sorted(out.k) == [1, 3, 10, 12]
    # filter matching nothing refuses; non-partition filter refuses
    with pytest.raises(ValueError, match="matched no files"):
        compact_lake(p, partition_filter=pb.equal("dt", "zzz"))
    with pytest.raises(ValueError, match="no partition column"):
        compact_lake(p, partition_filter=pb.equal("k", 1))


def test_compact_lake_pk_table(tmp_path, spark):
    """PK-lake compaction materializes the LSM merge (max seq per key
    wins, -D drops) into one max-level file per bucket — and a LATER
    level-0 upsert still wins the merge (sequence range monotonic)."""
    from paimon_python_spark.paimon_import import plan_paimon_files
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        compact_lake,
        delete_lake_rows,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "pk_compact")
    kv = pa.schema(
        [("_KEY_k", pa.int64()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int64()), ("v", pa.string())]
    )
    # keys placed in their SPEC buckets (fixed_bucket: 1,2 → 0; 3 → 1)
    # — a real fixed-bucket lake always routes by the hash, and the
    # planner's bucket pruning on PK equality is sound only because of
    # that invariant
    write_paimon_fixture(
        p, [("k", "BIGINT NOT NULL"), ("v", "STRING")], [], ["k"],
        [
            (0, {}, 0, pa.table(
                {"_KEY_k": [1, 2], "_SEQUENCE_NUMBER": [0, 1],
                 "_VALUE_KIND": [0, 0], "k": [1, 2],
                 "v": ["a", "b"]}, schema=kv)),
            (0, {}, 1, pa.table(
                {"_KEY_k": [3], "_SEQUENCE_NUMBER": [2],
                 "_VALUE_KIND": [0], "k": [3],
                 "v": ["c"]}, schema=kv)),
        ],
        options={"bucket": "2"},
    )
    write_lake_append(p, spark.createDataFrame([(2, "B"), (7, "g")],
                                               "k bigint, v string"))
    pb = PaimonLakeTable(p).new_read_builder().new_predicate_builder()
    delete_lake_rows(p, pb.equal("k", 3))  # -D record commit
    pre = (
        PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
        .sort_values("k")
    )
    assert list(pre.k) == [1, 2, 7] and list(pre.v) == ["a", "B", "g"]
    sid = compact_lake(p)
    after = plan_paimon_files(p)
    # one max-level file per non-empty bucket, merge materialized
    assert all(e.level == 5 for e in after)
    assert sum(e.row_count for e in after) == 3
    post = (
        PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
        .sort_values("k")
    )
    assert list(post.k) == [1, 2, 7] and list(post.v) == ["a", "B", "g"]
    # a post-compact level-0 upsert still wins against the compacted file
    write_lake_append(p, spark.createDataFrame([(2, "B2")], "k bigint, v string"))
    final = (
        PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
        .sort_values("k")
    )
    assert list(final.v) == ["a", "B2", "g"]


def test_lake_maintenance_tag_rollback_expire(tmp_path, spark):
    """Lake maintenance trio: create_lake_tag pins a snapshot copy,
    rollback_lake deletes newer snapshots AND the files only they
    reach, expire_lake_snapshots drops old snapshots while tagged ones
    keep their files readable."""
    import os

    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_tag,
        expire_lake_snapshots,
        rollback_lake,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "maint_lake")
    write_paimon_fixture(
        p,
        [("k", "INT"), ("v", "STRING")],
        [],
        [],
        [(0, {}, 0, pa.table({"k": pa.array([1], pa.int32()),
                              "v": pa.array(["a"], pa.string())}))],
    )
    for i, (k, v) in enumerate([(2, "b"), (3, "c"), (4, "d")], start=2):
        assert write_lake_append(
            p, spark.createDataFrame([(k, v)], "k int, v string")
        ) == i
    # tag snapshot 2, then roll back to 3: snapshot 4's file dies
    assert create_lake_tag(p, "two", 2) == 2
    n_data_before = sum(len(fs) for _, _, fs in os.walk(os.path.join(p, "bucket-0")))
    out = rollback_lake(p, 3)
    assert out["snapshots_deleted"] == 1 and out["data_files_deleted"] == 1
    t = PaimonLakeTable(p)
    assert sorted(t.new_read_builder().new_read().to_pandas().k) == [1, 2, 3]
    n_data_after = sum(len(fs) for _, _, fs in os.walk(os.path.join(p, "bucket-0")))
    assert n_data_after == n_data_before - 1
    # expire to the newest snapshot only: snapshots 1-2 go, but the
    # tag pins snapshot 2's files — all three rows still read via tag?
    # no: tag-2 pins snapshots 1+2's DATA (its live set), so only
    # metadata for 1-2 dies
    out2 = expire_lake_snapshots(p, 1)
    assert out2["snapshots_deleted"] == 2
    assert out2["data_files_deleted"] == 0  # tag pins every older file
    assert sorted(t.new_read_builder().new_read().to_pandas().k) == [1, 2, 3]
    tagged = (
        PaimonLakeTable(p).new_read_builder().with_tag("two")
        .new_read().to_pandas()
    )
    assert sorted(tagged.k) == [1, 2]
    # time travel to an expired snapshot fails like real Paimon
    with pytest.raises(Exception):
        PaimonLakeTable(p).new_read_builder().with_snapshot(1).new_read().to_df()
    # idempotent second expire
    assert expire_lake_snapshots(p, 1)["snapshots_deleted"] == 0
    # duplicate tag refuses
    with pytest.raises(ValueError, match="already exists"):
        create_lake_tag(p, "two", 3)


def test_expire_lake_unpinned_files_die(tmp_path, spark):
    """Without a tag, expiry reclaims data files only expired snapshots
    reach — rewritten-away compaction inputs actually free space."""
    import os

    from paimon_python_spark.paimon_lake import (
        compact_lake,
        expire_lake_snapshots,
        PaimonLakeTable,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "reclaim_lake")
    write_paimon_fixture(
        p,
        [("k", "INT")],
        [],
        [],
        [(0, {}, 0, pa.table({"k": pa.array([1, 2], pa.int32())}))],
    )
    write_lake_append(p, spark.createDataFrame([(3,)], "k int"))
    compact_lake(p)  # snapshot 3: old two files now unreachable-if-expired
    def ndata():
        return sum(
            1 for _, _, fs in os.walk(p)
            for f in fs if f.startswith("data-") or f.endswith(".parquet")
        )
    before = ndata()
    out = expire_lake_snapshots(p, 1)
    assert out["snapshots_deleted"] == 2
    assert out["data_files_deleted"] == 2  # both pre-compaction files
    assert ndata() == before - 2
    assert sorted(
        PaimonLakeTable(p).new_read_builder().new_read().to_pandas().k
    ) == [1, 2, 3]


def test_write_lake_append_retries_snapshot_race(tmp_path, spark):
    """A concurrent committer stealing the next snapshot id mid-commit
    must trigger a metadata-only re-plan, not a failure or overwrite."""
    import os as _os

    from paimon_python_spark.paimon_lake import PaimonLakeTable, write_lake_append
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "race_lake")
    write_paimon_fixture(
        p, [("k", "INT NOT NULL")], [], [],
        [(0, {}, 0, pa.table({"k": pa.array([1], pa.int32())}))],
    )
    # simulate the race: snapshot-2 appears before our commit grabs it
    import json as _json

    with open(_os.path.join(p, "snapshot", "snapshot-1")) as f:
        s1 = _json.load(f)
    s2 = dict(s1, id=2, deltaRecordCount=0, commitUser="rival")
    with open(_os.path.join(p, "snapshot", "snapshot-2"), "w") as f:
        _json.dump(s2, f)
    # note: LATEST still says 1 — exactly the mid-race state
    sid = write_lake_append(p, spark.createDataFrame([(9,)], "k int"))
    assert sid == 3  # lost id 2, re-planned, won id 3
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    # rival snapshot re-listed s1's manifests; the plan fold dedupes by
    # (partition, bucket, file) so the base file appears once
    assert sorted(out.k) == [1, 9]


def test_import_preserve_history_with_rename_evolution(tmp_path, catalog, spark):
    """History replay across a schema rename: commit 1 under schema-0
    (val), ALTER renames to 'renamed' (same field id), commit 2 under
    schema-1 — the replayed engine table carries the CURRENT schema and
    maps old deltas by field id."""
    from paimon_python_spark.paimon_import import (
        add_paimon_fixture_schema,
        append_paimon_fixture_snapshot,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    kv = pa.schema(
        [("_KEY_k", pa.int32()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int32()), ("val", pa.string())]
    )
    p = str(tmp_path / "hist_evo")
    write_paimon_fixture(
        p, [("k", "INT NOT NULL"), ("val", "STRING")], [], ["k"],
        [(0, {}, 0, pa.table(
            {"_KEY_k": [1], "_SEQUENCE_NUMBER": [0], "_VALUE_KIND": [0],
             "k": [1], "val": ["a"]}, schema=kv))],
        options={"bucket": "1"},
    )
    add_paimon_fixture_schema(
        p, [(0, "k", "INT NOT NULL"), (1, "renamed", "STRING")]
    )
    kv2 = pa.schema(
        [("_KEY_k", pa.int32()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int32()), ("renamed", pa.string())]
    )
    append_paimon_fixture_snapshot(
        p,
        [(0, {}, 0, pa.table(
            {"_KEY_k": [2], "_SEQUENCE_NUMBER": [1], "_VALUE_KIND": [0],
             "k": [2], "renamed": ["b"]}, schema=kv2))],
        schema_id=1,
    )
    t = import_paimon_table(p, catalog, "default.hist_evo", preserve_history=True)
    latest = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(latest.k) == [1, 2]
    assert list(latest.renamed) == ["a", "b"]  # old 'val' data under new name
    old = t.new_read_builder().with_snapshot(1).new_read().to_pandas()
    assert list(old.k) == [1] and list(old.renamed) == ["a"]


def test_delete_lake_rows_dv_commit(tmp_path, spark):
    """DELETE FROM a real append lake as a spec DV commit: no data file
    rewrites, marks merge with existing DVs, incremental sees no new
    rows, and the deletes survive a later append."""
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        delete_lake_rows,
        read_lake_incremental,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "del_lake")
    write_paimon_fixture(
        p,
        [("dt", "STRING NOT NULL"), ("k", "INT"), ("v", "STRING")],
        ["dt"],
        [
            # note: files physically lack dt (hive-style)
        ] and [],
        [
            (0, {"dt": "a"}, 0,
             pa.table({"k": pa.array([1, 2, 3], pa.int32()),
                       "v": pa.array(["x", "y", "z"], pa.string())})),
            (0, {"dt": "b"}, 0,
             pa.table({"k": pa.array([4], pa.int32()),
                       "v": pa.array(["w"], pa.string())})),
        ],
    )
    t = PaimonLakeTable(p)
    pb = t.new_read_builder().new_predicate_builder()
    # delete k=2 in dt=a plus everything in dt=b
    sid = delete_lake_rows(
        p, pb.or_predicates([pb.equal("k", 2), pb.equal("dt", "b")])
    )
    assert sid == 2
    out = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out.k) == [1, 3]
    # no new data rows for incremental consumers
    assert len(read_lake_incremental(p, 1).toPandas()) == 0
    # a second delete merges with the first
    delete_lake_rows(p, pb.equal("k", 3))
    out2 = t.new_read_builder().new_read().to_pandas()
    assert list(out2.k) == [1]
    # appends carry the DV index forward
    write_lake_append(p, spark.createDataFrame([("a", 9, "q")], "dt string, k int, v string"))
    out3 = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out3.k) == [1, 9]
    with pytest.raises(ValueError, match="matched no rows"):
        delete_lake_rows(p, pb.equal("k", 12345))
    # spec interop: the index manifest carries one entry per
    # (partition, bucket) with the REAL BinaryRow partition — a JVM
    # reader decodes entry partitions with the table's partition row
    # type, so empty-partition entries would break on partitioned lakes
    from paimon_python_spark.avro_codec import read_avro_records
    from paimon_python_spark.paimon_import import (
        decode_binary_row,
        read_paimon_snapshot,
    )

    snap = read_paimon_snapshot(p, 4)
    with open(os.path.join(p, "manifest", snap["indexManifest"]), "rb") as f:
        _s, recs = read_avro_records(f.read())
    parts = sorted(
        decode_binary_row(bytes(r["_PARTITION"]), [T.StringType()])[0]
        for r in recs
    )
    assert parts == ["a", "b"]


def test_pk_lake_delete_minus_d(tmp_path, spark):
    """DELETE FROM a real PK lake commits the matched keys as -D kind
    records in a level-0 key-value file: merged reads drop the keys,
    incremental shows the -D rows, no DV index appears."""
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        delete_lake_rows,
        read_lake_incremental,
    )
    from paimon_python_spark.paimon_import import read_paimon_snapshot
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "pk_del_lake")
    kv = pa.schema(
        [("_KEY_k", pa.int64()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int64()), ("v", pa.string())]
    )
    write_paimon_fixture(
        p, [("k", "BIGINT NOT NULL"), ("v", "STRING")], [], ["k"],
        _route_kv2(pa.table(
            {"_KEY_k": [1, 2, 3, 4], "_SEQUENCE_NUMBER": [0, 1, 2, 3],
             "_VALUE_KIND": [0, 0, 0, 0], "k": [1, 2, 3, 4],
             "v": ["a", "b", "c", "d"]}, schema=kv), 2),
        options={"bucket": "2"},
    )
    t = PaimonLakeTable(p)
    pb = t.new_read_builder().new_predicate_builder()
    sid = delete_lake_rows(p, pb.is_in("k", [2, 4]))
    assert sid == 2
    out = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert list(out.k) == [1, 3]
    inc = read_lake_incremental(p, 1).toPandas().sort_values("k")
    assert list(inc.k) == [2, 4]
    assert set(inc._row_kind) == {"-D"}
    # LSM delete, not a DV delete: no index manifest on the new snapshot
    assert not read_paimon_snapshot(p, 2).get("indexManifest")


def test_lake_avro_append_roundtrip(tmp_path, spark):
    """Appending to an avro-format lake writes data files through the
    engine's own avro codec executor-side."""
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "avro_lake")
    write_paimon_fixture(
        p,
        [("k", "INT"), ("v", "STRING")],
        [],
        [],
        [(0, {}, 0,
          pa.table({"k": pa.array([1], pa.int32()),
                    "v": pa.array(["x"], pa.string())}))],
        options={"file.format": "avro"},
    )
    sid = write_lake_append(
        p, spark.createDataFrame([(2, "y"), (3, None)], "k int, v string")
    )
    assert sid == 2
    out = (
        PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
        .sort_values("k")
    )
    assert list(out.k) == [1, 2, 3]
    assert list(out.v)[:2] == ["x", "y"] and pd.isna(out.v.iloc[2])
    # the adopted files really are avro (engine codec container header)
    import glob

    for f in glob.glob(os.path.join(p, "bucket-0", "*.avro")):
        with open(f, "rb") as fh:
            assert fh.read(4) == b"Obj\x01"


def test_delete_lake_rows_large_stays_bounded(tmp_path, spark):
    """A delete matching a million rows builds its bitmaps executor-side
    — only per-file serialized blobs reach the driver — and the result
    is exact."""
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        delete_lake_rows,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    n = 1_000_000
    p = str(tmp_path / "big_del_lake")
    write_paimon_fixture(
        p, [("k", "BIGINT NOT NULL")], [], [],
        [(0, {}, 0, pa.table({"k": pa.array(range(n), pa.int64())}))],
    )
    t = PaimonLakeTable(p)
    pb = t.new_read_builder().new_predicate_builder()
    delete_lake_rows(p, pb.less_than("k", n // 2))
    out = t.new_read_builder().new_read().to_df()
    assert out.count() == n - n // 2
    assert out.agg({"k": "min"}).collect()[0][0] == n // 2
    # the index file on disk is KB-scale (a dense bitmap run), proving
    # positions were not shipped row-at-a-time through the metadata
    idx = os.listdir(os.path.join(p, "index"))
    assert len(idx) == 1
    assert os.path.getsize(os.path.join(p, "index", idx[0])) < 200_000


def test_lake_row_count_metadata_only(tmp_path, spark):
    """row_count(): metadata-only on append lakes (to_df must NOT run),
    exact under partition predicates and deletion vectors; PK lakes
    fall back to the merged read's count."""
    from paimon_python_spark import predicate as P
    from paimon_python_spark.paimon_import import attach_paimon_dv_fixture
    from paimon_python_spark.paimon_lake import PaimonLakeRead, PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "cnt_append")
    sch = pa.schema([("dt", pa.string()), ("k", pa.int32())])
    write_paimon_fixture(
        p,
        [("dt", "STRING NOT NULL"), ("k", "INT")],
        ["dt"],
        [],
        [
            (0, {"dt": "a"}, 0, pa.table({"dt": ["a"] * 4, "k": [1, 2, 3, 4]}, schema=sch)),
            (0, {"dt": "b"}, 0, pa.table({"dt": ["b"] * 2, "k": [5, 6]}, schema=sch)),
        ],
    )
    t = PaimonLakeTable(p)
    # append path must never materialize a read
    orig = PaimonLakeRead.to_df
    PaimonLakeRead.to_df = lambda self: (_ for _ in ()).throw(
        AssertionError("metadata-only count ran a read")
    )
    try:
        assert t.row_count() == 6
        rb = t.new_read_builder()
        pred = rb.new_predicate_builder().equal("dt", "a")
        assert rb.with_filter(pred).row_count() == 4
    finally:
        PaimonLakeRead.to_df = orig
    # deletion vectors subtract decoded cardinality (driver-side)
    attach_paimon_dv_fixture(
        p, {"data-fixture-0.parquet": [0, 2]}, partition={"dt": "a"}
    )
    assert t.row_count() == 4  # k=1, k=3 marked deleted
    assert t.row_count() == t.new_read_builder().new_read().to_df().count()
    # residual (non-partition) predicate: falls back, stays exact
    rb2 = t.new_read_builder()
    pred2 = rb2.new_predicate_builder().greater_than("k", 3)
    assert rb2.with_filter(pred2).row_count() == 3  # k=4,5,6
    # PK lake: merged count (upsert collapses to the latest version —
    # raw manifest counts would say 4)
    pk = str(tmp_path / "cnt_pk")
    kv = pa.schema(
        [
            ("_KEY_k", pa.int32()),
            ("_SEQUENCE_NUMBER", pa.int64()),
            ("_VALUE_KIND", pa.int32()),
            ("k", pa.int32()),
            ("v", pa.string()),
        ]
    )
    write_paimon_fixture(
        pk,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        [],
        ["k"],
        [
            (0, {}, 0, pa.table(
                {"_KEY_k": [1, 2], "_SEQUENCE_NUMBER": [0, 1],
                 "_VALUE_KIND": [0, 0], "k": [1, 2], "v": ["a", "b"]},
                schema=kv)),
            (0, {}, 0, pa.table(
                {"_KEY_k": [2, 3], "_SEQUENCE_NUMBER": [2, 3],
                 "_VALUE_KIND": [0, 0], "k": [2, 3], "v": ["b2", "c"]},
                schema=kv)),
        ],
        options={"bucket": "1"},
    )
    assert PaimonLakeTable(pk).row_count() == 3


def test_lake_min_max_metadata_only(tmp_path, spark):
    """min_max(): folds manifest stats (+ decoded partition values)
    with no read for numeric and partition columns; non-partition
    STRING columns always take the exact fallback (manifest string
    stats are truncated bounds, not values); NULLs ignored, all-NULL
    files contribute nothing; DV attach forces the exact fallback."""
    from paimon_python_spark.paimon_import import attach_paimon_dv_fixture
    from paimon_python_spark.paimon_lake import PaimonLakeRead, PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "mm_append")
    sch = pa.schema([("dt", pa.string()), ("k", pa.int32()), ("v", pa.string())])
    write_paimon_fixture(
        p,
        [("dt", "STRING NOT NULL"), ("k", "INT"), ("v", "STRING")],
        ["dt"],
        [],
        [
            (0, {"dt": "a"}, 0, pa.table(
                {"dt": ["a"] * 3, "k": [7, 2, 9], "v": ["x", None, "m"]},
                schema=sch)),
            (0, {"dt": "b"}, 0, pa.table(
                {"dt": ["b"] * 2, "k": [1, 5],
                 "v": pa.array([None, None], pa.string())}, schema=sch)),
        ],
    )
    t = PaimonLakeTable(p)
    orig = PaimonLakeRead.to_df
    PaimonLakeRead.to_df = lambda self: (_ for _ in ()).throw(
        AssertionError("metadata-only min_max ran a read")
    )
    try:
        rb = t.new_read_builder()
        got = rb.min_max(["k", "dt"])
        assert got["k"] == (1, 9)
        assert got["dt"] == ("a", "b")  # partition strings decode exactly
        rb2 = t.new_read_builder()
        pred = rb2.new_predicate_builder().equal("dt", "b")
        got_b = rb2.with_filter(pred).min_max(["k"])
        assert got_b["k"] == (1, 5)
    finally:
        PaimonLakeRead.to_df = orig
    # non-partition strings: manifest stats are truncated bounds, so the
    # exact (distributed) path answers — values still correct
    got_s = t.new_read_builder().min_max(["v"])
    assert got_s["v"] == ("m", "x")  # NULLs ignored; all-NULL file skipped
    rb3 = t.new_read_builder()
    pred3 = rb3.new_predicate_builder().equal("dt", "b")
    assert rb3.with_filter(pred3).min_max(["v"])["v"] == (None, None)
    # DVs can delete the extremal row -> metadata path must yield
    attach_paimon_dv_fixture(
        p, {"data-fixture-0.parquet": [2]}, partition={"dt": "a"}
    )  # deletes k=9
    got_dv = t.new_read_builder().min_max(["k"])
    assert got_dv["k"] == (1, 7)


def test_remove_lake_orphan_files(tmp_path, spark):
    """Lake orphan cleanup: unreferenced data/manifest/index debris
    older than the grace dies; everything any snapshot, tag, or DV
    index reaches survives, as does a fresh (in-flight) orphan."""
    import time

    from paimon_python_spark.paimon_import import (
        append_paimon_fixture_snapshot,
        attach_paimon_dv_fixture,
    )
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_tag,
        remove_lake_orphan_files,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "orphans")
    sch = pa.schema([("k", pa.int32()), ("v", pa.string())])
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        [],
        [],
        [(0, {}, 0, pa.table({"k": [1, 2], "v": ["a", "b"]}, schema=sch))],
    )
    append_paimon_fixture_snapshot(
        p, [(0, {}, 0, pa.table({"k": [3], "v": ["c"]}, schema=sch))]
    )
    create_lake_tag(p, "pin", snapshot_id=1)
    attach_paimon_dv_fixture(p, {"data-fixture-0.parquet": [0]})
    # plant orphans: data file, manifest, index file (old mtimes)
    old = time.time() - 7200
    orphan_data = os.path.join(p, "bucket-0", "data-deadbeef-0.parquet")
    open(orphan_data, "wb").write(b"junk")
    orphan_man = os.path.join(p, "manifest", "manifest-deadbeef.avro")
    open(orphan_man, "wb").write(b"junk")
    orphan_idx = os.path.join(p, "index", "index-deadbeef")
    open(orphan_idx, "wb").write(b"junk")
    for f in (orphan_data, orphan_man, orphan_idx):
        os.utime(f, (old, old))
    fresh = os.path.join(p, "bucket-0", "data-inflight-0.parquet")
    open(fresh, "wb").write(b"junk")  # mtime now: grace-protected

    before = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    out = remove_lake_orphan_files(p, older_than_seconds=60)
    assert out["data_files"] == 1 and out["manifests"] == 1
    assert out["index_files"] == 1 and out["bytes_reclaimed"] == 12
    assert not os.path.exists(orphan_data) and os.path.exists(fresh)
    after = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert sorted(after.k) == sorted(before.k) == [2, 3]
    # tag-pinned snapshot 1 still reads in full
    tagged = (
        PaimonLakeTable(p).new_read_builder().with_tag("pin")
        .new_read().to_pandas()
    )
    assert sorted(tagged.k) == [1, 2]
    # idempotent second run removes nothing
    again = remove_lake_orphan_files(p, older_than_seconds=60)
    assert again["data_files"] == again["manifests"] == again["index_files"] == 0


def test_lake_branches_roundtrip(tmp_path, spark):
    """Real-lake branches: create from snapshot, isolated branch
    appends (incl. a NEW partition -> branch-local dir), main unmoved,
    fast-forward publishes the branch head and adopts the new
    partition dir, delete_branch leaves the shared pool intact."""
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_branch,
        delete_lake_branch,
        fast_forward_lake_branch,
        list_lake_branches,
        remove_lake_orphan_files,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "branched")
    sch = pa.schema([("dt", pa.string()), ("k", pa.int32())])
    write_paimon_fixture(
        p,
        [("dt", "STRING NOT NULL"), ("k", "INT")],
        ["dt"],
        [],
        [(0, {"dt": "a"}, 0, pa.table({"dt": ["a"] * 2, "k": [1, 2]}, schema=sch))],
    )
    t = PaimonLakeTable(p)
    bp = create_lake_branch(p, "exp")
    assert list_lake_branches(p) == ["exp"]
    b = t.branch("exp")
    assert sorted(b.new_read_builder().new_read().to_pandas().k) == [1, 2]
    # branch append: existing partition (shared dir) + NEW partition
    write_lake_append(
        bp,
        spark.createDataFrame([("a", 3), ("c", 9)], "dt string, k int"),
    )
    assert sorted(b.new_read_builder().new_read().to_pandas().k) == [1, 2, 3, 9]
    # main is isolated
    assert sorted(t.new_read_builder().new_read().to_pandas().k) == [1, 2]
    # branch files survive orphan cleanup (branch chain pins them)
    out = remove_lake_orphan_files(p, older_than_seconds=0)
    assert out["data_files"] == 0 and out["manifests"] == 0
    # publish
    new_id = fast_forward_lake_branch(p, "exp")
    main_rows = t.new_read_builder().new_read().to_pandas()
    assert sorted(main_rows.k) == [1, 2, 3, 9]
    assert sorted(set(main_rows.dt)) == ["a", "c"]
    # metadata-only count agrees post-publish
    assert t.row_count() == 4
    # pre-publish main state still time-travels
    old = t.new_read_builder().with_snapshot(new_id - 1).new_read().to_pandas()
    assert sorted(old.k) == [1, 2]
    delete_lake_branch(p, "exp")
    assert list_lake_branches(p) == []
    assert sorted(t.new_read_builder().new_read().to_pandas().k) == [1, 2, 3, 9]


def test_sort_compact_lake(tmp_path, spark):
    """Sort compaction (Paimon --order_strategy zorder/order/hilbert):
    rewrites an append lake clustered along the curve so manifest
    min/max stats skip files on EVERY ordered column — including the
    trailing one, which plain lexicographic files can't skip on."""
    import itertools

    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        sort_compact_lake,
    )
    from paimon_python_spark.paimon_import import (
        attach_paimon_dv_fixture,
        plan_paimon_files,
        read_paimon_snapshot,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "zlake")
    grid = list(itertools.product(range(32), repeat=2))
    rng = __import__("random").Random(7)
    rng.shuffle(grid)
    quarters = [grid[i::4] for i in range(4)]
    write_paimon_fixture(
        p,
        [("a", "INT NOT NULL"), ("b", "INT NOT NULL"), ("v", "STRING")],
        [],
        [],
        [
            (0, {}, 0, pa.table({
                "a": pa.array([x for x, _ in q], pa.int32()),
                "b": pa.array([y for _, y in q], pa.int32()),
                "v": pa.array([f"{x}:{y}" for x, y in q], pa.string()),
            }))
            for q in quarters
        ],
    )
    t = PaimonLakeTable(p)
    # shuffled quarters: every file spans the full a/b range -> a range
    # predicate cannot skip anything before the sort compaction
    rb0 = t.new_read_builder()
    pred0 = rb0.new_predicate_builder().less_than("b", 4)
    rb0 = rb0.with_filter(pred0)
    assert sum(len(s.file_paths()) for s in rb0.new_scan().plan().splits()) == 4

    snap_id = sort_compact_lake(p, ["a", "b"], strategy="zorder", target_file_rows=128)
    snap = read_paimon_snapshot(p)
    assert int(snap["id"]) == snap_id and snap["commitKind"] == "COMPACT"
    live = plan_paimon_files(p)
    assert 7 <= len(live) <= 8  # ceil(1024/128) range partitions
    out = t.new_read_builder().new_read().to_pandas()
    assert len(out) == 1024
    assert sorted(zip(out.a, out.b)) == sorted(itertools.product(range(32), repeat=2))

    # z-order skipping works on BOTH columns now
    for col in ("a", "b"):
        rb = t.new_read_builder()
        rb = rb.with_filter(rb.new_predicate_builder().less_than(col, 4))
        n = sum(len(s.file_paths()) for s in rb.new_scan().plan().splits())
        assert n < len(live), f"no skipping on {col}"
        got = rb.new_read().to_pandas()
        assert len(got) == 4 * 32 and got[col].max() == 3

    # time travel to the pre-compact snapshot still reads old files
    old = t.new_read_builder().with_snapshot(snap_id - 1).new_read().to_pandas()
    assert len(old) == 1024

    # 'order' strategy: lexicographic -> leading column skips
    p2 = str(tmp_path / "olake")
    write_paimon_fixture(
        p2,
        [("a", "INT NOT NULL"), ("b", "INT NOT NULL")],
        [],
        [],
        [(0, {}, 0, pa.table({
            "a": pa.array([x for x, _ in grid], pa.int32()),
            "b": pa.array([y for _, y in grid], pa.int32()),
        }))],
    )
    sort_compact_lake(p2, ["a", "b"], strategy="order", target_file_rows=128)
    t2 = PaimonLakeTable(p2)
    rb = t2.new_read_builder()
    rb = rb.with_filter(rb.new_predicate_builder().less_than("a", 2))
    assert sum(len(s.file_paths()) for s in rb.new_scan().plan().splits()) <= 2
    assert len(t2.new_read_builder().new_read().to_pandas()) == 1024

    # hilbert: content-preserving, DV marks physically applied
    p3 = str(tmp_path / "hlake")
    write_paimon_fixture(
        p3,
        [("a", "INT NOT NULL"), ("b", "INT NOT NULL")],
        [],
        [],
        [(0, {}, 0, pa.table({
            "a": pa.array([x for x, _ in grid], pa.int32()),
            "b": pa.array([y for _, y in grid], pa.int32()),
        }))],
    )
    fname = plan_paimon_files(p3)[0].file_name
    attach_paimon_dv_fixture(p3, {fname: [0, 1, 2]})
    sort_compact_lake(p3, ["a", "b"], strategy="hilbert", target_file_rows=512)
    t3 = PaimonLakeTable(p3)
    out3 = t3.new_read_builder().new_read().to_pandas()
    assert len(out3) == 1021  # 3 DV-marked rows physically gone
    assert read_paimon_snapshot(p3).get("indexManifest") in (None, "")

    # guards: PK lakes refuse; unknown strategy/column raise
    with pytest.raises(ValueError):
        sort_compact_lake(p2, ["a"], strategy="bogus")
    with pytest.raises(ValueError):
        sort_compact_lake(p2, ["nope"])


def test_sort_compact_lake_partition_scoped(tmp_path, spark):
    """Sort compaction scoped to one partition of a partitioned lake:
    only the matching partition's files rewrite (clustered, skippable);
    the other partition's files and row set stay untouched."""
    import itertools

    from paimon_python_spark.paimon_import import plan_paimon_files
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        sort_compact_lake,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "pzlake")
    grid = list(itertools.product(range(16), repeat=2))
    rng = __import__("random").Random(3)
    rng.shuffle(grid)
    halves = [grid[i::2] for i in range(2)]

    def _tbl(region, half):
        return pa.table({
            "region": pa.array([region] * len(half), pa.string()),
            "a": pa.array([x for x, _ in half], pa.int32()),
            "b": pa.array([y for _, y in half], pa.int32()),
        })

    write_paimon_fixture(
        p,
        [("region", "STRING NOT NULL"), ("a", "INT NOT NULL"), ("b", "INT NOT NULL")],
        ["region"],
        [],
        [
            (0, {"region": r}, 0, _tbl(r, h))
            for r in ("eu", "us")
            for h in halves
        ],
    )
    t = PaimonLakeTable(p)
    before = plan_paimon_files(p)
    us_before = {e.file_name for e in before if e.partition.get("region") == "us"}
    assert len(before) == 4 and len(us_before) == 2

    pb = t.new_read_builder().new_predicate_builder()
    sort_compact_lake(
        p,
        ["a", "b"],
        strategy="zorder",
        partition_filter=pb.equal("region", "eu"),
        target_file_rows=64,
    )
    after = plan_paimon_files(p)
    us_after = {e.file_name for e in after if e.partition.get("region") == "us"}
    eu_after = [e for e in after if e.partition.get("region") == "eu"]
    assert us_after == us_before  # untouched partition keeps its files
    assert len(eu_after) == 4  # ceil(256/64) clustered files
    # both ordered columns now skip inside the compacted partition
    for col in ("a", "b"):
        rb = t.new_read_builder()
        pb2 = rb.new_predicate_builder()
        rb = rb.with_filter(
            pb2.and_predicates(
                [pb2.equal("region", "eu"), pb2.less_than(col, 4)]
            )
        )
        hit = sum(len(s.file_paths()) for s in rb.new_scan().plan().splits())
        assert hit < len(eu_after), f"no skipping on {col}"
    # full read: same logical content, both partitions
    out = t.new_read_builder().new_read().to_pandas()
    assert len(out) == 512
    for r in ("eu", "us"):
        sub = out[out.region == r]
        assert sorted(zip(sub.a, sub.b)) == sorted(itertools.product(range(16), repeat=2))


def test_lake_pk_arrival_order_sequencing(tmp_path, spark):
    """Same-key events in ONE commit take sequence numbers in ARRIVAL
    order, not RowKind-value order (real Paimon's SequenceGenerator):
    delete-then-reinsert nets to the re-insert, insert-then-delete nets
    to deleted."""
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "arrival_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "1"},
    )
    write_lake_pk_append(
        p, spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k int, v string")
    )
    # one batch, arrival order: -D k=1 then +I k=1 (re-insert wins);
    # +I k=2 then -D k=2 (delete wins); plain update k=3
    batch = spark.createDataFrame(
        [
            (1, "dead", 3),
            (1, "alive", 0),
            (2, "reborn", 0),
            (2, "gone", 3),
            (3, "c2", 2),
        ],
        "k int, v string, __kind int",
    ).coalesce(1)  # single input partition: list order IS arrival order
    write_lake_pk_append(p, batch, row_kind_col="__kind")
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    got = dict(zip(out.k, out.v))
    assert got == {1: "alive", 3: "c2"}, got
    # same-key duplicate +I rows in one batch: LAST arrival wins
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(7, "first"), (7, "second"), (7, "third")], "k int, v string"
        ).coalesce(1),
    )
    out2 = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert dict(zip(out2.k, out2.v))[7] == "third"


def test_orphan_cleanup_spares_streaming_markers(tmp_path, spark):
    """StreamingLakeSink idempotence markers (<lake>/streaming/
    offsets-<id>.json) are metadata, not data files: orphan cleanup
    must never reap them, however old — deleting one would reset
    last_committed_batch() and let a checkpoint-replayed micro-batch
    double-commit."""
    import time

    from paimon_python_spark.paimon_lake import remove_lake_orphan_files
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "stream_marker_lake")
    sch = pa.schema([("k", pa.int32()), ("v", pa.string())])
    write_paimon_fixture(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        [],
        [],
        [(0, {}, 0, pa.table({"k": [1], "v": ["a"]}, schema=sch))],
    )
    mdir = os.path.join(p, "streaming")
    os.makedirs(mdir)
    marker = os.path.join(mdir, "offsets-q1.json")
    with open(marker, "w") as f:
        json.dump({"batch_id": 41}, f)
    old = time.time() - 7200
    os.utime(marker, (old, old))
    out = remove_lake_orphan_files(p, older_than_seconds=60)
    assert os.path.exists(marker), "streaming marker must survive cleanup"
    assert out["data_files"] == 0


def test_lake_manifest_string_stats_truncated(tmp_path, spark):
    """Lake manifest string min/max are SOUND TRUNCATED BOUNDS (prefix
    min, incremented-prefix max, 64-char cap — same rule as engine
    tables): a documents-style lake must not embed whole documents in
    every manifest BinaryRow. Pruning on the column stays row-exact."""
    from paimon_python_spark.paimon_import import decode_entry_stats
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_append,
    )
    from paimon_python_spark.paimon_lake import read_paimon_schema
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "trunc_lake")
    # avro append routes through _distributed_lake_write, the writer
    # that embeds _value_stats_for output in every manifest entry
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("doc", "STRING")],
        options={"file.format": "avro"},
    )
    long_lo = "a" * 300
    long_hi = "z" * 300 + "tail"
    write_lake_append(
        p,
        spark.createDataFrame([(1, long_lo), (2, long_hi)], "k int, doc string")
        .coalesce(1),
    )
    info = read_paimon_schema(p)
    entries = plan_paimon_files(p)
    assert entries
    st = decode_entry_stats(entries[0], info, info)["doc"]
    assert len(st["min"]) <= 64 and len(st["max"]) <= 65
    assert st["min"] <= long_lo and st["max"] >= long_hi  # sound bounds
    # pruning on the truncated column keeps the row (no false skip)
    rb = PaimonLakeTable(p).new_read_builder()
    pred = rb.new_predicate_builder().equal("doc", long_hi)
    out = rb.with_filter(pred).new_read().to_pandas()
    assert list(out.k) == [2]
    # min_max() must NOT fold the truncated bounds as exact values
    mm = PaimonLakeTable(p).new_read_builder().min_max(["doc"])
    assert mm["doc"] == (long_lo, long_hi)


def test_lake_pk_bucket_pruning_point_read(tmp_path, spark):
    """Bucket pruning on lake PK point reads: an equality predicate on
    the full bucket key pins the writer's fixed_bucket hash, so a point
    lookup on a 16-bucket lake plans only that bucket's files (1/16) —
    same rule as the engine planner and the JVM planner the reference
    inherits. IN predicates prune to the union; a partial-key or
    value-column predicate never bucket-prunes."""
    from paimon_python_spark.paimon_import import fixed_bucket
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        _pruned_entries,
        create_lake_table,
        read_paimon_schema,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "bucket_prune_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "16"},
    )
    write_lake_pk_append(
        p,
        spark.createDataFrame([(i, f"v{i}") for i in range(2000)], "k int, v string"),
    )
    info = read_paimon_schema(p)
    t = PaimonLakeTable(p)
    all_entries = _pruned_entries(p, info, t.new_read_builder())
    assert len(all_entries) == 16  # one level-0 file per bucket

    rb = t.new_read_builder()
    rb.with_filter(rb.new_predicate_builder().equal("k", 42))
    ents = _pruned_entries(p, info, rb)
    want_bucket = fixed_bucket([42], [T.IntegerType()], 16)
    assert {e.bucket for e in ents} == {want_bucket}
    assert len(ents) <= len(all_entries) // 16 + 1
    out = rb.new_read().to_pandas()
    assert list(out.k) == [42] and list(out.v) == ["v42"]

    # IN → union of candidate buckets; still a strict subset
    rb2 = t.new_read_builder()
    rb2.with_filter(rb2.new_predicate_builder().is_in("k", [1, 2, 3]))
    ents2 = _pruned_entries(p, info, rb2)
    want2 = {fixed_bucket([i], [T.IntegerType()], 16) for i in [1, 2, 3]}
    assert {e.bucket for e in ents2} <= want2
    assert sorted(rb2.new_read().to_pandas().k) == [1, 2, 3]

    # value-column predicate must NOT bucket-prune (it doesn't pin k)
    rb3 = t.new_read_builder()
    rb3.with_filter(rb3.new_predicate_builder().equal("v", "v42"))
    assert len(_pruned_entries(p, info, rb3)) == 16


def test_lake_lookup_changelog_bucket_scoped(tmp_path, spark, monkeypatch):
    """changelog-producer=lookup plans ONLY the touched (partition,
    bucket) groups for its old-state read — a small CDC commit into a
    many-bucket lake must not scan the whole merged lake (real Paimon
    does per-bucket LSM point lookups). Output parity: the full-image
    changelog still carries the same -U/+U/+I/-D rows."""
    import paimon_python_spark.paimon_lake as pl
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        read_lake_incremental,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "lookup_scope_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "8", "changelog-producer": "lookup"},
    )
    write_lake_pk_append(
        p,
        spark.createDataFrame([(i, f"v{i}") for i in range(400)], "k int, v string"),
    )
    scoped_calls = []
    orig = pl._pruned_entries

    def spy(tp, info, b):
        out = orig(tp, info, b)
        if b._bucket_groups is not None:
            scoped_calls.append((set(b._bucket_groups), len(out)))
        return out

    monkeypatch.setattr(pl, "_pruned_entries", spy)
    # CDC batch touching 2 keys → at most 2 of the 8 buckets
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(7, "V7", 2), (398, None, 3)], "k int, v string, __kind int"
        ),
        row_kind_col="__kind",
    )
    assert scoped_calls, "lookup old-state read must be bucket-scoped"
    groups, planned = scoped_calls[0]
    assert len(groups) <= 2
    assert planned <= 2, f"planned {planned} files, expected touched buckets only"
    # changelog parity: -U/+U for the update, -D for the delete
    cl = read_lake_incremental(p, 1, 2, use_changelog=True).toPandas()
    assert sorted(zip(cl.k, cl._row_kind)) == [
        (7, "+U"),
        (7, "-U"),
        (398, "-D"),
    ]


def test_expire_lake_partitions_multi_key(tmp_path, spark):
    """Multi-key partition expiration: partition.timestamp-pattern
    composes the time value over SEVERAL partition keys ('$dt
    $hour:00:00' over (dt, hour)) — hours inside the same day expire
    independently, and the unexpired hours of a partially-old day
    survive."""
    import datetime as dt

    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        expire_lake_partitions,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "hourly_lake")
    create_lake_table(
        p,
        [("dt", "STRING NOT NULL"), ("hour", "INT NOT NULL"), ("v", "INT")],
        partition_keys=["dt", "hour"],
        options={
            "partition.expiration-time": "24 h",
            "partition.timestamp-formatter": "yyyy-MM-dd HH:mm:ss",
            "partition.timestamp-pattern": "$dt $hour:00:00",
        },
    )
    rows = [
        ("2026-08-13", 22, 1),  # > 24h old → expires
        ("2026-08-14", 9, 2),   # > 24h old → expires
        ("2026-08-14", 23, 3),  # 11h old → survives (same dt as above!)
        ("2026-08-15", 8, 4),   # 2h old → survives
    ]
    write_lake_append(
        p, spark.createDataFrame(rows, "dt string, hour int, v int")
    )
    now = dt.datetime(2026, 8, 15, 10, 0, 0)
    res = expire_lake_partitions(p, now=now)
    assert res["partitions_dropped"] == 2 and res["rows_dropped"] == 2
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert sorted(zip(out.dt, out.hour)) == [
        ("2026-08-14", 23),
        ("2026-08-15", 8),
    ]


def test_stream_lake_snapshots_start_modes(tmp_path, spark):
    """Streaming start modes (Paimon scan.mode family): from-timestamp
    starts after the newest commit at/before the instant; latest skips
    history entirely; latest-full bootstraps with the current full
    state then streams deltas; a persisted consumer offset still wins
    over any start mode."""
    import json as _json
    import os as _os

    from paimon_python_spark.paimon_import import append_paimon_fixture_snapshot
    from paimon_python_spark.paimon_lake import stream_lake_snapshots
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "start_modes_lake")
    write_paimon_fixture(
        p, [("k", "INT NOT NULL")], [], [],
        [(0, {}, 0, pa.table({"k": pa.array([1], pa.int32())}))],
    )
    append_paimon_fixture_snapshot(
        p, [(0, {}, 0, pa.table({"k": pa.array([2], pa.int32())}))]
    )
    append_paimon_fixture_snapshot(
        p, [(0, {}, 0, pa.table({"k": pa.array([3], pa.int32())}))]
    )
    # pin per-snapshot commit times: 1000/2000/3000 ms
    for sid, ms in ((1, 1000), (2, 2000), (3, 3000)):
        sp = _os.path.join(p, "snapshot", f"snapshot-{sid}")
        with open(sp) as f:
            s = _json.load(f)
        s["timeMillis"] = ms
        with open(sp, "w") as f:
            _json.dump(s, f)

    # from-timestamp: baseline = newest commit at/before 2500 ms
    # (snapshot 2) → first batch is snapshot 3's delta
    got = [
        (sid, sorted(df.toPandas().k))
        for sid, df in stream_lake_snapshots(
            p, max_batches=1, starting_timestamp=2500
        )
    ]
    assert got == [(3, [3])]

    # latest: nothing yielded until a NEW commit lands
    gen = stream_lake_snapshots(
        p, max_batches=1, scan_mode="latest", poll_interval_s=0.05
    )
    append_paimon_fixture_snapshot(
        p, [(0, {}, 0, pa.table({"k": pa.array([4], pa.int32())}))]
    )
    sid, df = next(gen)
    assert (sid, sorted(df.toPandas().k)) == (4, [4])

    # latest-full: bootstrap batch = FULL current state at snapshot 4,
    # then the next commit's delta
    gen2 = stream_lake_snapshots(
        p, max_batches=2, scan_mode="latest-full", poll_interval_s=0.05
    )
    sid0, full = next(gen2)
    assert sid0 == 4 and sorted(full.toPandas().k) == [1, 2, 3, 4]
    append_paimon_fixture_snapshot(
        p, [(0, {}, 0, pa.table({"k": pa.array([5], pa.int32())}))]
    )
    sid1, delta = next(gen2)
    assert (sid1, sorted(delta.toPandas().k)) == (5, [5])

    # consumer offset beats the start mode (real Paimon precedence)
    cdir = str(tmp_path / "cstate")
    _os.makedirs(cdir)
    with open(_os.path.join(cdir, "consumer-ci.json"), "w") as f:
        _json.dump({"next_snapshot": 4}, f)
    got3 = [
        (sid, sorted(df.toPandas().k))
        for sid, df in stream_lake_snapshots(
            p,
            max_batches=1,
            starting_timestamp=1500,
            consumer_id="ci",
            consumer_dir=cdir,
        )
    ]
    assert got3 == [(5, [5])]


@pytest.mark.parametrize("fmt", ["parquet", "orc"])
def test_lake_parquet_append_writes_footer_stats(tmp_path, spark, fmt):
    """Plain parquet and ORC appends commit manifest _VALUE_STATS,
    computed by the lake write task over the Arrow values it writes —
    so stats-based file skipping works on append-only lakes this
    engine writes (a stats-less manifest makes every scan plan every
    file). String bounds truncate; pruning is sound and effective."""
    from paimon_python_spark.paimon_import import decode_entry_stats
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        _pruned_entries,
        create_lake_table,
        read_paimon_schema,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "pq_stats_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("s", "STRING"), ("d", "DOUBLE")],
        options={"file.format": fmt},
    )
    # two commits with disjoint k ranges → two files, prunable apart
    write_lake_append(
        p,
        spark.createDataFrame(
            [(i, f"s{i:03d}", float(i)) for i in range(100)],
            "k int, s string, d double",
        ).coalesce(1),
    )
    write_lake_append(
        p,
        spark.createDataFrame(
            [(i, f"s{i:03d}", float(i)) for i in range(1000, 1100)],
            "k int, s string, d double",
        ).coalesce(1),
    )
    info = read_paimon_schema(p)
    entries = plan_paimon_files(p)
    assert len(entries) == 2
    for e in entries:
        st = decode_entry_stats(e, info, info)
        assert st is not None and st["k"]["min"] is not None
        assert st["s"]["min"].startswith("s")
    t = PaimonLakeTable(p)
    rb = t.new_read_builder()
    rb.with_filter(rb.new_predicate_builder().greater_than("k", 999))
    pruned = _pruned_entries(p, info, rb)
    assert len(pruned) == 1, "stats must skip the low-range file"
    assert sorted(rb.new_read().to_pandas().k) == list(range(1000, 1100))
    # metadata-only min_max over the numeric columns still exact
    mm = t.new_read_builder().min_max(["k", "d"])
    assert mm["k"] == (0, 1099) and mm["d"] == (0.0, 1099.0)


def test_lake_incremental_between_tags(tmp_path, spark):
    """incremental-between over TAG names: resolves the pinned snapshot
    window while snapshots are retained; after the window's snapshots
    EXPIRE, append lakes fall back to the exact file-set diff of the
    two tag copies (Paimon's diff scan mode) and PK lakes refuse."""
    from paimon_python_spark.paimon_import import append_paimon_fixture_snapshot
    from paimon_python_spark.paimon_lake import (
        create_lake_tag,
        expire_lake_snapshots,
        read_lake_incremental_between_tags,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "between_tags")
    sch = pa.schema([("k", pa.int32())])
    write_paimon_fixture(
        p, [("k", "INT NOT NULL")], [], [],
        [(0, {}, 0, pa.table({"k": pa.array([1], pa.int32())}, schema=sch))],
    )
    create_lake_tag(p, "d0", snapshot_id=1)
    for v in (2, 3, 4):
        append_paimon_fixture_snapshot(
            p, [(0, {}, 0, pa.table({"k": pa.array([v], pa.int32())}, schema=sch))]
        )
    create_lake_tag(p, "d1", snapshot_id=4)
    out = read_lake_incremental_between_tags(p, "d0", "d1").toPandas()
    assert sorted(out.k) == [2, 3, 4]
    with pytest.raises(ValueError):
        read_lake_incremental_between_tags(p, "d1", "d0")
    # expire the window's snapshots: tags alone must still answer
    append_paimon_fixture_snapshot(
        p, [(0, {}, 0, pa.table({"k": pa.array([5], pa.int32())}, schema=sch))]
    )
    expire_lake_snapshots(p, keep_last_n=1)
    assert not os.path.exists(os.path.join(p, "snapshot", "snapshot-2"))
    out2 = read_lake_incremental_between_tags(p, "d0", "d1").toPandas()
    assert sorted(out2.k) == [2, 3, 4]


def test_compact_lake_auto_trigger(tmp_path, spark):
    """Trigger-based compaction (num-sorted-run.compaction-trigger):
    only (partition, bucket) groups at/over the trigger rewrite — cold
    buckets keep their level-0 files byte-identical; a lake with no
    group at the trigger is a no-op (None, no commit); merged reads
    stay exact throughout."""
    from paimon_python_spark.paimon_import import (
        fixed_bucket,
        plan_paimon_files,
    )
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        compact_lake_auto,
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "auto_compact")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "2", "num-sorted-run.compaction-trigger": "4"},
    )
    # keys routing to bucket 0 vs 1 (fixed_bucket with INT key)
    b0 = [k for k in range(40) if fixed_bucket([k], [T.IntegerType()], 2) == 0]
    b1 = [k for k in range(40) if fixed_bucket([k], [T.IntegerType()], 2) == 1]
    # 4 commits hitting bucket 0, only 2 hitting bucket 1
    for i in range(4):
        write_lake_pk_append(
            p,
            spark.createDataFrame(
                [(k, f"r{i}") for k in b0[: 5 + i]], "k int, v string"
            ),
        )
    for i in range(2):
        write_lake_pk_append(
            p,
            spark.createDataFrame(
                [(k, f"s{i}") for k in b1[:5]], "k int, v string"
            ),
        )
    pre = {e.file_name: e for e in plan_paimon_files(p)}
    pre_b1 = sorted(n for n, e in pre.items() if e.bucket == 1)
    assert sum(1 for e in pre.values() if e.bucket == 0) == 4
    sid = compact_lake_auto(p)
    assert sid is not None
    post = {e.file_name: e for e in plan_paimon_files(p)}
    post_b0 = [e for e in post.values() if e.bucket == 0]
    post_b1 = sorted(n for n, e in post.items() if e.bucket == 1)
    assert len(post_b0) == 1 and post_b0[0].level == 5  # folded to max level
    assert post_b1 == pre_b1  # cold bucket untouched, files identical
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    want = {k: "r3" if k in b0[:8] else None for k in b0[:8]}
    got = dict(zip(out.k, out.v))
    assert all(got[k] == "r3" for k in b0[:5])  # last commit wins merge
    assert all(got[k] == "s1" for k in b1[:5])
    # second run: nothing at trigger anymore -> no-op
    assert compact_lake_auto(p) is None


def test_lake_bloom_file_index(tmp_path, spark):
    """file-index.bloom-filter.columns on a lake: per-file bloom
    bitmaps built executor-side and embedded in the manifest's
    _EMBEDDED_FILE_INDEX slot prune EQUALITY probes that min/max can't
    (interleaved ranges: both files span the key space). Foreign/absent
    payloads are ignored — pruning only, never unsound."""
    from paimon_python_spark.paimon_import import plan_paimon_files
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        _pruned_entries,
        create_lake_table,
        read_paimon_schema,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "bloom_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("u", "STRING")],
        options={
            "file.format": "avro",  # routes through the group writer
            "file-index.bloom-filter.columns": "u",
        },
    )
    # interleaved u values: min/max of both files span u000..u399
    write_lake_append(
        p,
        spark.createDataFrame(
            [(i, f"u{i:03d}") for i in range(0, 400, 2)], "k int, u string"
        ).coalesce(1),
    )
    write_lake_append(
        p,
        spark.createDataFrame(
            [(i, f"u{i:03d}") for i in range(1, 400, 2)], "k int, u string"
        ).coalesce(1),
    )
    entries = plan_paimon_files(p)
    assert len(entries) == 2 and all(e.embedded_index for e in entries)
    info = read_paimon_schema(p)
    t = PaimonLakeTable(p)
    rb = t.new_read_builder()
    rb.with_filter(rb.new_predicate_builder().equal("u", "u137"))  # odd file
    planned = _pruned_entries(p, info, rb)
    assert len(planned) == 1, "bloom must prune the even-only file"
    out = rb.new_read().to_pandas()
    assert list(out.k) == [137]
    # range predicates ignore blooms; both files plan, result row-exact
    rb2 = t.new_read_builder()
    rb2.with_filter(rb2.new_predicate_builder().between("u", "u100", "u103"))
    assert len(_pruned_entries(p, info, rb2)) == 2
    assert sorted(rb2.new_read().to_pandas().k) == [100, 101, 102, 103]


def test_stream_consumer_precedence_and_no_rebootstrap(tmp_path, spark):
    """A persisted consumer offset WINS over scan_mode='latest'/
    'latest-full' (a lagging consumer resumes where it stopped instead
    of skipping to the head) and a resumed latest-full subscription
    does not re-emit the full bootstrap batch."""
    import json as _json

    from paimon_python_spark.paimon_import import append_paimon_fixture_snapshot
    from paimon_python_spark.paimon_lake import stream_lake_snapshots
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "prec_lake")
    write_paimon_fixture(
        p, [("k", "INT NOT NULL")], [], [],
        [(0, {}, 0, pa.table({"k": pa.array([1], pa.int32())}))],
    )
    for v in (2, 3, 4, 5):
        append_paimon_fixture_snapshot(
            p, [(0, {}, 0, pa.table({"k": pa.array([v], pa.int32())}))]
        )
    cdir = str(tmp_path / "cstate")
    os.makedirs(cdir)
    with open(os.path.join(cdir, "consumer-lag.json"), "w") as f:
        _json.dump({"next_snapshot": 2}, f)  # consumer stopped after 2
    got = [
        (sid, sorted(df.toPandas().k))
        for sid, df in stream_lake_snapshots(
            p,
            max_batches=3,
            scan_mode="latest",  # must NOT skip the consumer to 5
            consumer_id="lag",
            consumer_dir=cdir,
        )
    ]
    assert got == [(3, [3]), (4, [4]), (5, [5])], got
    # latest-full with a resumed offset: deltas only, no bootstrap
    with open(os.path.join(cdir, "consumer-lf.json"), "w") as f:
        _json.dump({"next_snapshot": 4}, f)
    got2 = [
        (sid, sorted(df.toPandas().k))
        for sid, df in stream_lake_snapshots(
            p,
            max_batches=1,
            scan_mode="latest-full",
            consumer_id="lf",
            consumer_dir=cdir,
        )
    ]
    assert got2 == [(5, [5])], got2


def test_between_tags_diff_survives_compaction(tmp_path, spark):
    """The expired-window between-tags fallback must not report COMPACT
    rewrites as incremental rows: a compaction inside the window
    rewrites every old row into new files, but the content diff still
    returns only the rows that actually arrived in the window."""
    from paimon_python_spark.paimon_lake import (
        compact_lake,
        create_lake_table,
        create_lake_tag,
        expire_lake_snapshots,
        read_lake_incremental_between_tags,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "bt_compact")
    create_lake_table(p, [("k", "INT NOT NULL")])
    write_lake_append(p, spark.createDataFrame([(1,), (2,)], "k int"))
    create_lake_tag(p, "d0", snapshot_id=1)
    write_lake_append(p, spark.createDataFrame([(3,)], "k int"))
    compact_lake(p)  # folds rows 1-3 into a NEW file inside the window
    create_lake_tag(p, "d1")
    write_lake_append(p, spark.createDataFrame([(9,)], "k int"))
    expire_lake_snapshots(p, keep_last_n=1)
    assert not os.path.exists(os.path.join(p, "snapshot", "snapshot-2"))
    out = read_lake_incremental_between_tags(p, "d0", "d1").toPandas()
    assert sorted(out.k) == [3], "compacted old rows must not resurface"


def test_bucket_pruning_geometry_guard_after_rescale(tmp_path, spark):
    """Time-travel point reads of PRE-RESCALE snapshots must not prune
    with the new bucket count: entries carry their own _TOTAL_BUCKETS
    geometry, and pruning only fires on matching geometry."""
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        rescale_lake_bucket,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "rescale_tt")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "2"},
    )
    write_lake_pk_append(
        p, spark.createDataFrame([(i, f"v{i}") for i in range(64)], "k int, v string")
    )
    pre_sid = 1
    rescale_lake_bucket(p, 8)
    t = PaimonLakeTable(p)
    # every key must still point-read correctly at BOTH snapshots
    for k in (0, 17, 42, 63):
        rb = t.new_read_builder().with_snapshot(pre_sid)
        rb.with_filter(rb.new_predicate_builder().equal("k", k))
        got = rb.new_read().to_pandas()
        assert list(got.k) == [k], f"pre-rescale point read lost k={k}"
        rb2 = t.new_read_builder()
        rb2.with_filter(rb2.new_predicate_builder().equal("k", k))
        assert list(rb2.new_read().to_pandas().k) == [k]


def test_lookup_changelog_castable_partition_batch(tmp_path, spark):
    """A CDC batch whose partition column needs a CAST (timestamp →
    DATE) still bucket-scopes the lookup to its own groups — the
    touched-group values are compared AFTER casting to the declared
    types, so the old state is found and updates emit -U/+U, not +I."""
    import datetime as dt

    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        read_lake_incremental,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "lookup_cast")
    create_lake_table(
        p,
        [("dt", "DATE NOT NULL"), ("k", "INT NOT NULL"), ("v", "STRING")],
        partition_keys=["dt"],
        primary_keys=["dt", "k"],
        options={"bucket": "2", "changelog-producer": "lookup"},
    )
    d = dt.date(2026, 8, 15)
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(d, 1, "a"), (d, 2, "b")], "dt date, k int, v string"
        ),
    )
    # batch arrives with dt as TIMESTAMP (castable to the declared DATE)
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(dt.datetime(2026, 8, 15, 0, 0, 0), 1, "A")],
            "dt timestamp, k int, v string",
        ),
    )
    cl = read_lake_incremental(p, 1, 2, use_changelog=True).toPandas()
    kinds = sorted(cl._row_kind)
    assert kinds == ["+U", "-U"], (
        f"update must emit a retraction pair, got {list(cl._row_kind)}"
    )


def test_multikey_expire_null_partition_key(tmp_path, spark):
    """A NULL value in a partition key NOT referenced by the
    timestamp-pattern still drops (is_null predicate, not the
    never-matching equal(k, None))."""
    import datetime as dt

    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        expire_lake_partitions,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "null_expire")
    create_lake_table(
        p,
        [("dt", "STRING NOT NULL"), ("region", "STRING"), ("v", "INT")],
        partition_keys=["dt", "region"],
        options={
            "partition.expiration-time": "24 h",
            "partition.timestamp-formatter": "yyyy-MM-dd HH:mm:ss",
            "partition.timestamp-pattern": "$dt 00:00:00",
        },
    )
    write_lake_append(
        p,
        spark.createDataFrame(
            [("2020-01-01", None, 1), ("2026-08-15", "eu", 2)],
            "dt string, region string, v int",
        ),
    )
    res = expire_lake_partitions(p, now=dt.datetime(2026, 8, 15, 12))
    assert res["partitions_dropped"] == 1 and res["rows_dropped"] == 1
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert list(out.v) == [2]


def test_bloom_only_stats_prune():
    """test_by_stats prunes equality on a bloom-only entry (no usable
    min/max) — and stays conservative for range predicates there."""
    from paimon_python_spark.bloom import build_hex
    from paimon_python_spark.predicate import PredicateBuilder

    pb = PredicateBuilder(["u"])
    hx = build_hex(["a", "b", "c"])
    st = {"u": {"min": None, "max": None, "null_count": None,
                "row_count": 3, "bloom": hx}}
    assert pb.equal("u", "a").test_by_stats(st) is True
    assert pb.equal("u", "zzz").test_by_stats(st) is False
    assert pb.is_in("u", ["zzz", "qqq"]).test_by_stats(st) is False
    assert pb.is_in("u", ["zzz", "b"]).test_by_stats(st) is True
    assert pb.greater_than("u", "a").test_by_stats(st) is True  # no bounds


def test_compact_lake_auto_with_fullcompaction_changelog(tmp_path, spark):
    """compact_lake_auto on a changelog-producer=full-compaction lake:
    the group-scoped rewrite still derives the -U/+U/+I changelog for
    the compacted groups (diffed against the last compaction baseline
    scoped to the SAME groups), and cold groups contribute nothing."""
    from paimon_python_spark.paimon_import import fixed_bucket
    from paimon_python_spark.paimon_lake import (
        compact_lake_auto,
        create_lake_table,
        read_lake_incremental,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "auto_clog")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={
            "bucket": "2",
            "num-sorted-run.compaction-trigger": "3",
            "changelog-producer": "full-compaction",
        },
    )
    b0 = [k for k in range(40) if fixed_bucket([k], [T.IntegerType()], 2) == 0]
    b1 = [k for k in range(40) if fixed_bucket([k], [T.IntegerType()], 2) == 1]
    # 3 commits into bucket 0 (hot), 1 into bucket 1 (cold)
    for i in range(3):
        write_lake_pk_append(
            p,
            spark.createDataFrame(
                [(k, f"r{i}") for k in b0[:4]], "k int, v string"
            ),
        )
    write_lake_pk_append(
        p, spark.createDataFrame([(k, "cold") for k in b1[:3]], "k int, v string")
    )
    sid = compact_lake_auto(p)
    assert sid is not None
    cl = read_lake_incremental(p, sid - 1, sid, use_changelog=True).toPandas()
    # changelog covers ONLY the hot (compacted) group's keys, all +I
    # (first compaction: no baseline), never the cold bucket's
    assert set(cl.k) == set(b0[:4])
    assert set(cl._row_kind) == {"+I"}


_NO_SHUFFLE_LAKES = [
    "plain",
    "timestamp",
    "decimal",
    "sequence_field",
    "dv",
    "two_schemas",
    "first_row",
    "partial_update",
    "aggregation",
    "cross_partition",
    "pre_rescale",
    "inert_hll_option",
]


@pytest.mark.parametrize("lake", _NO_SHUFFLE_LAKES)
def test_bucket_local_merge_no_shuffle(tmp_path, spark, monkeypatch, lake):
    """PK-lake reads take the in-task merge: ZERO Exchange in the
    physical plan (the key-window path shuffles every scanned byte —
    the dominant 100 TB read cost), whatever the column types, with a
    sequence.field, deletion vectors, files under two schema ids, the
    first-row, partial-update (sequence group) or aggregation (sum,
    collect) engine, a cross-partition lake with a moved key, time
    travel to before a bucket rescale, or a deduplicate lake carrying
    an inert ``hll_sketch`` option. Each answer matches the exact
    key-window read (forced by a group byte budget of 1) row for
    row."""
    import datetime
    import decimal

    from paimon_python_spark import paimon_import
    from paimon_python_spark.paimon_import import (
        attach_paimon_dv_fixture,
        plan_paimon_files,
    )
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        alter_lake_schema,
        create_lake_table,
        rescale_lake_bucket,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "nshuffle_lake")
    fields = [("k", "INT NOT NULL"), ("v", "STRING")]
    options = {"bucket": "4"}
    partition_keys = None
    ddl = "k int, v string"

    def extra(i):
        return ()

    if lake == "timestamp":
        fields.append(("t", "TIMESTAMP(6) WITH LOCAL TIME ZONE"))
        ddl += ", t timestamp"

        def extra(i):
            return (datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=i),)

    elif lake == "decimal":
        fields.append(("d", "DECIMAL(20, 4)"))
        ddl += ", d decimal(20, 4)"

        def extra(i):
            return (decimal.Decimal(i * 7919) / 1000,)

    elif lake == "sequence_field":
        # the second commit carries LOWER event times for every third
        # key: its rows lose to the seeded ones on those keys
        fields.append(("s", "BIGINT"))
        options["sequence.field"] = "s"
        ddl += ", s bigint"

        def extra(i):
            return (1000 - i,)

    elif lake == "first_row":
        options["merge-engine"] = "first-row"
    elif lake == "partial_update":
        # v versions on g: the second commit's stale g loses on odd keys
        fields += [("g", "BIGINT"), ("w", "STRING")]
        options["merge-engine"] = "partial-update"
        options["fields.g.sequence-group"] = "v"
        ddl += ", g bigint, w string"

        def extra(i):
            return (100, f"w{i}")

    elif lake == "aggregation":
        fields += [("n", "BIGINT"), ("c", "ARRAY<STRING>")]
        options["merge-engine"] = "aggregation"
        options["fields.n.aggregate-function"] = "sum"
        options["fields.c.aggregate-function"] = "collect"
        ddl += ", n bigint, c array<string>"

        def extra(i):
            return (i, [f"x{i}"])

    elif lake == "inert_hll_option":
        # hll_sketch is inert outside merge-engine=aggregation
        options["fields.v.aggregate-function"] = "hll_sketch"
    elif lake == "cross_partition":
        # bucket=-1 with the partition key outside the PK
        fields.append(("seg", "STRING"))
        options = {"bucket": "-1", "dynamic-bucket.target-row-num": "30"}
        partition_keys = ["seg"]
        ddl += ", seg string"

        def extra(i):
            return ("even" if i % 2 == 0 else "odd",)

    create_lake_table(
        p, fields, partition_keys=partition_keys, primary_keys=["k"], options=options
    )
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(i, f"a{i}", *extra(i)) for i in range(200)], ddl
        ),
    )
    if lake == "two_schemas":
        alter_lake_schema(p, add_columns=[("note", "STRING")])
        ddl += ", note string"

        def extra(i):
            return (f"n{i}",)

    if lake == "sequence_field":
        # every third key updates: odd keys with a LOWER event time (the
        # update loses), even keys with a higher one (it wins)
        def extra(i):
            return (1000 - i - (1 if i % 2 else -1),)

    elif lake == "partial_update":

        def extra(i):
            return (100 + (-1 if i % 2 else 1), None)

    elif lake == "aggregation":

        def extra(i):
            return (1, [f"y{i}"])

    elif lake == "cross_partition":
        # key 3 moves from 'odd' to 'moved'
        def extra(i):
            return ("moved" if i == 3 else "even" if i % 2 == 0 else "odd",)

    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(i, f"b{i}", *extra(i)) for i in range(0, 200, 3)], ddl
        ),
    )
    if lake == "dv":
        victim = next(e for e in plan_paimon_files(p) if e.bucket == 0)
        attach_paimon_dv_fixture(p, {victim.file_name: [0]})  # one row deleted
    snapshot = None
    if lake == "pre_rescale":
        # read the 4-bucket snapshot after the table moved to 3 buckets
        snapshot = rescale_lake_bucket(p, 3) - 1

    def read():
        b = PaimonLakeTable(p).new_read_builder()
        if snapshot is not None:
            b = b.with_snapshot(snapshot)
        return b.new_read().to_df()

    df = read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"bucket-local merge must not shuffle:\n{plan[:800]}"
    rows = sorted((tuple(r) for r in df.collect()), key=repr)
    with monkeypatch.context() as m:
        m.setattr(paimon_import, "_BUCKET_LOCAL_MAX_GROUP_BYTES", 1)
        win = read()
        assert "Exchange" in win._jdf.queryExecution().executedPlan().toString()
        assert rows == sorted((tuple(r) for r in win.collect()), key=repr)
    got = {r[0]: r[1] for r in rows}
    if lake == "dv":
        assert len(got) == 199
        return
    assert len(got) == 200
    assert got[1] == "a1" and got[199] == "a199"
    if lake == "first_row":
        assert got[3] == "a3"
    elif lake in ("sequence_field", "partial_update"):
        # odd keys' updates carry a lower event time / group version
        # and lose
        assert got[3] == "a3" and got[6] == "b6"
    else:
        assert got[3] == "b3"
    if lake == "partial_update":
        assert {r[0]: r[3] for r in rows}[6] == "w6"  # NULL patch keeps w
    elif lake == "aggregation":
        agg = {r[0]: (r[2], list(r[3])) for r in rows}
        assert agg[6] == (7, ["x6", "y6"]) and agg[7] == (7, ["x7"])
    elif lake == "cross_partition":
        assert {r[0]: r[2] for r in rows}[3] == "moved"


@pytest.mark.parametrize("engine", ["deduplicate", "partial-update"])
def test_lake_sequence_field_orders_every_merge_path(
    tmp_path, spark, monkeypatch, engine
):
    """A ``sequence.field`` ranks a key's versions before
    ``_SEQUENCE_NUMBER`` (Paimon's UserDefinedSeqComparator) on every
    read door, also when the stored sequence is arrival order, as JVM
    writers store it: the option arrives in schema-1, after
    (1, 'new', 200) and then (1, 'old', 100) were written, and the
    s-winner comes back from the builder's in-task merge, its forced
    key-window and ``format("paimon_lake")``."""

    from paimon_python_spark import paimon_import
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    register_lake(spark)
    p = str(tmp_path / "seqf_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING"), ("s", "BIGINT")],
        primary_keys=["k"],
        options={"bucket": "1", "merge-engine": engine},
    )
    for row in [(1, "new", 200), (1, "old", 100)]:
        write_lake_pk_append(p, spark.createDataFrame([row], "k int, v string, s bigint"))
    with open(os.path.join(p, "schema", "schema-0")) as f:
        raw = json.load(f)
    raw["id"] = 1
    raw["options"]["sequence.field"] = "s"
    with open(os.path.join(p, "schema", "schema-1"), "w") as f:
        json.dump(raw, f)

    def read():
        return PaimonLakeTable(p).new_read_builder().new_read().to_df()

    df = read()
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    assert [tuple(r) for r in df.collect()] == [(1, "new", 200)]
    with monkeypatch.context() as m:
        m.setattr(paimon_import, "_BUCKET_LOCAL_MAX_GROUP_BYTES", 1)
        assert [tuple(r) for r in read().collect()] == [(1, "new", 200)]
    ds = spark.read.format("paimon_lake").option("path", p).load()
    assert [tuple(r) for r in ds.collect()] == [(1, "new", 200)]


def test_lake_projected_partial_update_reads_sequence_group(tmp_path, spark):
    """A projection of one sequence-group member still merges by the
    group's version field: the in-task read pulls the columns the fold
    orders by, although the projection drops them."""
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    register_lake(spark)
    p = str(tmp_path / "pu_proj_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING"), ("u", "STRING"), ("g", "BIGINT")],
        primary_keys=["k"],
        options={
            "bucket": "2",
            "merge-engine": "partial-update",
            "fields.g.sequence-group": "v,u",
        },
    )
    ddl = "k int, v string, u string, g bigint"
    write_lake_pk_append(p, spark.createDataFrame([(1, "new", "u2", 2)], ddl))
    write_lake_pk_append(p, spark.createDataFrame([(1, "old", "u1", 1)], ddl))
    df = PaimonLakeTable(p).new_read_builder().with_projection(["v"]).new_read().to_df()
    assert "Exchange" not in df._jdf.queryExecution().executedPlan().toString()
    assert [tuple(r) for r in df.collect()] == [("new",)]
    ds = spark.read.format("paimon_lake").option("path", p).load().select("v")
    assert [tuple(r) for r in ds.collect()] == [("new",)]


def test_lake_hll_sketch_merges_on_key_window(tmp_path, spark):
    """``hll_sketch`` aggregation fields are the one merge shape the
    in-task fold lacks (the union is the JVM's ``hll_union_agg``): the
    builder read plans the key-window Exchange and returns the union's
    estimate, and ``format("paimon_lake")`` refuses toward the
    builder."""
    from pyspark.sql import functions as F

    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    register_lake(spark)
    p = str(tmp_path / "hll_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("h", "BYTES")],
        primary_keys=["k"],
        options={
            "bucket": "1",
            "merge-engine": "aggregation",
            "fields.h.aggregate-function": "hll_sketch",
        },
    )
    for lo, hi in [(0, 1000), (500, 1500)]:
        sk = spark.range(lo, hi).agg(F.hll_sketch_agg("id")).collect()[0][0]
        write_lake_pk_append(
            p, spark.createDataFrame([(1, bytearray(sk))], "k int, h binary")
        )
    df = PaimonLakeTable(p).new_read_builder().new_read().to_df()
    assert "Exchange" in df._jdf.queryExecution().executedPlan().toString()
    est = df.select(F.hll_sketch_estimate("h")).collect()[0][0]
    assert abs(est - 1500) / 1500 < 0.05
    with pytest.raises(Exception, match="hll_sketch"):
        spark.read.format("paimon_lake").option("path", p).load().collect()


@pytest.mark.parametrize(
    "engine,budget_x,shuffles",
    [
        ("deduplicate", 1, False),
        ("aggregation", 1, True),
        ("aggregation", 4, False),
        ("partial-update", 1, True),
    ],
)
def test_lake_fold_engines_get_a_quarter_budget(
    tmp_path, spark, monkeypatch, engine, budget_x, shuffles
):
    """The pandas folds of partial-update and aggregation peak at up to
    about three times the memory of the Arrow deduplicate sort, so
    their in-task group budget is a quarter of it
    (``paimon_import.merge_budget``): with the deduplicate budget set
    to the lake's largest group, a deduplicate lake still merges
    in-task while the fold engines take the key-window, and four times
    that budget brings them back in-task. Either path returns the
    engine's merged rows."""
    from paimon_python_spark import paimon_import
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "budget_lake")
    options = {"bucket": "1", "merge-engine": engine}
    if engine == "aggregation":
        options["fields.n.aggregate-function"] = "sum"
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("n", "BIGINT")],
        primary_keys=["k"],
        options=options,
    )
    for lo in (0, 10):
        write_lake_pk_append(
            p,
            spark.createDataFrame(
                [(i, 1) for i in range(lo, lo + 20)], "k int, n bigint"
            ),
        )
    group = paimon_import.max_group_bytes(paimon_import.plan_paimon_files(p))
    monkeypatch.setattr(
        paimon_import, "_BUCKET_LOCAL_MAX_GROUP_BYTES", group * budget_x
    )
    df = PaimonLakeTable(p).new_read_builder().new_read().to_df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert ("Exchange" in plan) == shuffles, plan[:800]
    got = dict(tuple(r) for r in df.collect())
    want_n = 2 if engine == "aggregation" else 1
    assert got == {k: want_n if 10 <= k < 20 else 1 for k in range(30)}


def test_bucket_local_merge_size_guard(tmp_path, spark, monkeypatch):
    """SCALE GUARD: a (partition, bucket) group bigger than the
    bucket-local byte budget on disk must NOT merge in one task's
    pandas memory — the read falls back to the exact key-window path
    (Exchange present, shuffle spills instead of OOMing) with
    bit-identical results. Simulates the misconfigured-lake shape
    (bucket=1 holding the whole table) by dropping the budget to 1."""
    from paimon_python_spark import paimon_import
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    monkeypatch.setattr(paimon_import, "_BUCKET_LOCAL_MAX_GROUP_BYTES", 1)
    p = str(tmp_path / "guard_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "1"},
    )
    write_lake_pk_append(
        p, spark.createDataFrame([(i, f"a{i}") for i in range(50)], "k int, v string")
    )
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(i, f"b{i}") for i in range(0, 50, 5)], "k int, v string"
        ),
    )
    df = PaimonLakeTable(p).new_read_builder().new_read().to_df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan, f"oversized group must take the window path:\n{plan[:800]}"
    got = {r["k"]: r["v"] for r in df.collect()}
    assert len(got) == 50 and got[5] == "b5" and got[1] == "a1"


def test_lake_datasource_size_guard(tmp_path, spark, monkeypatch):
    """The ``format('paimon_lake')`` front door refuses an oversized
    (partition, bucket) group with a pointer to the builder path (it
    has no window plan to fall back to), instead of OOMing a task."""
    import pytest

    from paimon_python_spark import paimon_import
    from paimon_python_spark.lake_datasource import PaimonLakeBatchReader
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    monkeypatch.setattr(paimon_import, "_BUCKET_LOCAL_MAX_GROUP_BYTES", 1)
    p = str(tmp_path / "guard_ds_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "1"},
    )
    write_lake_pk_append(
        p, spark.createDataFrame([(i, f"a{i}") for i in range(20)], "k int, v string")
    )
    reader = PaimonLakeBatchReader(p)
    # RuntimeError, not NotImplementedError: Spark treats a
    # NotImplementedError from partitions() as "no partitioning" and
    # silently falls back to read(None), losing the refusal message
    with pytest.raises(RuntimeError, match="max-group-bytes"):
        reader.partitions()


def test_lake_lookup_changelog_point_file_pruning(tmp_path, spark, monkeypatch):
    """changelog-producer=lookup POINT-LOOKS-UP inside touched buckets:
    a small CDC commit into a bucket holding many files plans only the
    files whose footer min/max stats (+ bloom index) admit the batch's
    keys — the analogue of real Paimon's bloom-assisted LSM lookup —
    instead of re-merging the whole bucket. Changelog output parity
    asserted alongside."""
    import paimon_python_spark.paimon_lake as pl
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        read_lake_incremental,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "lookup_point_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={
            "bucket": "1",
            "changelog-producer": "lookup",
            "file-index.bloom-filter.columns": "k",
        },
    )
    # three key-disjoint commits → bucket 0 holds 3 files whose k
    # ranges are provably disjoint in footer stats
    for base in (0, 1000, 2000):
        write_lake_pk_append(
            p,
            spark.createDataFrame(
                [(base + i, f"v{base + i}") for i in range(50)], "k int, v string"
            ),
        )
    scoped_calls = []
    orig = pl._pruned_entries

    def spy(tp, info, b):
        out = orig(tp, info, b)
        if b._bucket_groups is not None:
            scoped_calls.append((b._predicate is not None, len(out)))
        return out

    monkeypatch.setattr(pl, "_pruned_entries", spy)
    write_lake_pk_append(
        p,
        spark.createDataFrame([(2010, "UPDATED")], "k int, v string"),
    )
    assert scoped_calls, "lookup old-state read must be bucket-scoped"
    has_pred, planned = scoped_calls[0]
    assert has_pred, "point-lookup IN predicate must reach the planner"
    assert planned == 1, f"planned {planned} files; stats admit only 1 of 3"
    cl = read_lake_incremental(p, 3, 4, use_changelog=True).toPandas()
    assert sorted(zip(cl.k, cl._row_kind)) == [(2010, "+U"), (2010, "-U")]
    assert set(cl[cl._row_kind == "-U"].v) == {"v2010"}


def test_lake_dv_mode_value_predicate_prunes_files(tmp_path, spark):
    """Declared DV mode (deletion-vectors.enabled=true) lifts the PK
    filter-placement rule in the lake planner — value predicates prune
    files exactly like append tables (engine twin: scan.py:95), since
    the merge was resolved at commit time. Non-DV PK lakes keep the
    conservative key-only rule."""
    import pyarrow as pa

    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        _pruned_entries,
        read_paimon_schema,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    kv = pa.schema(
        [("_KEY_k", pa.int64()), ("_SEQUENCE_NUMBER", pa.int64()),
         ("_VALUE_KIND", pa.int32()), ("k", pa.int64()), ("v", pa.int64())]
    )

    def mk(path, options):
        write_paimon_fixture(
            path, [("k", "BIGINT NOT NULL"), ("v", "BIGINT")], [], ["k"],
            [
                (0, {}, 0, pa.table(
                    {"_KEY_k": [1, 2], "_SEQUENCE_NUMBER": [0, 1],
                     "_VALUE_KIND": [0, 0], "k": [1, 2], "v": [10, 20]},
                    schema=kv)),
                (0, {}, 0, pa.table(
                    {"_KEY_k": [3, 4], "_SEQUENCE_NUMBER": [2, 3],
                     "_VALUE_KIND": [0, 0], "k": [3, 4], "v": [30, 40]},
                    schema=kv)),
            ],
            options=options,
        )

    p_dv = str(tmp_path / "dvmode_lake")
    mk(p_dv, {"bucket": "1", "deletion-vectors.enabled": "true"})
    info = read_paimon_schema(p_dv)
    t = PaimonLakeTable(p_dv)
    rb = t.new_read_builder()
    rb.with_filter(rb.new_predicate_builder().equal("v", 30))  # VALUE predicate
    assert len(_pruned_entries(p_dv, info, rb)) == 1, "DV mode: value stats prune"
    out = rb.new_read().to_pandas()
    assert list(out.k) == [3] and list(out.v) == [30]

    p_plain = str(tmp_path / "plain_pk_lake")
    mk(p_plain, {"bucket": "1"})
    info2 = read_paimon_schema(p_plain)
    rb2 = PaimonLakeTable(p_plain).new_read_builder()
    rb2.with_filter(rb2.new_predicate_builder().equal("v", 30))
    assert len(_pruned_entries(p_plain, info2, rb2)) == 2, (
        "non-DV PK lake: value predicates must NOT prune below the merge"
    )


def test_manifest_level_partition_skipping(tmp_path, spark, monkeypatch):
    """MANIFEST-LEVEL skipping: the committer writes real
    _PARTITION_STATS on every delta manifest-list entry (and carries
    prior entries' stats forward verbatim), and the planner never OPENS
    a manifest whose partition range provably excludes the predicate —
    at 100 TB the planner reads a handful of manifests, not thousands.
    Results stay exact."""
    import paimon_python_spark.paimon_import as pi
    from paimon_python_spark.paimon_import import (
        read_manifest_list_entries,
        read_paimon_snapshot,
    )
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "mskip_lake")
    create_lake_table(
        p,
        [("dt", "STRING NOT NULL"), ("k", "INT"), ("v", "STRING")],
        partition_keys=["dt"],
    )
    # three commits, partition-disjoint manifests
    for dt, base in (("2024-01-01", 0), ("2024-02-01", 100), ("2024-03-01", 200)):
        write_lake_append(
            p,
            spark.createDataFrame(
                [(dt, base + i, f"v{base + i}") for i in range(5)],
                "dt string, k int, v string",
            ).coalesce(1),
        )
    snap = read_paimon_snapshot(p)
    delta = read_manifest_list_entries(p, snap["deltaManifestList"])
    assert delta and delta[0]["_PARTITION_STATS"]["_MIN_VALUES"], (
        "delta manifest-list entry must carry real partition stats"
    )
    base_entries = read_manifest_list_entries(p, snap["baseManifestList"])
    assert all(e["_PARTITION_STATS"]["_MIN_VALUES"] for e in base_entries), (
        "prior entries' stats must survive re-listing"
    )

    opened = []
    orig = pi.read_manifest

    def spy(table_path, name, part_types, part_keys):
        opened.append(name)
        return orig(table_path, name, part_types, part_keys)

    monkeypatch.setattr(pi, "read_manifest", spy)
    t = PaimonLakeTable(p)
    rb = t.new_read_builder()
    rb.with_filter(rb.new_predicate_builder().equal("dt", "2024-02-01"))
    out = rb.new_read().to_pandas()
    assert sorted(out.k) == list(range(100, 105))
    assert len(set(opened)) == 1, (
        f"planner must open only the matching manifest, opened {set(opened)}"
    )


def test_manifest_merge_bounds_base_list(tmp_path, spark):
    """MANIFEST MERGE (manifest.merge-min-count): the base manifest
    list must not grow one entry per commit forever — above the
    threshold the committer folds prior manifests into few
    partition-clustered ones (real stats attached), while old
    snapshots keep their old lists (time travel + incremental exact)."""
    from paimon_python_spark.paimon_import import (
        read_manifest_list_entries,
        read_paimon_snapshot,
    )
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        read_lake_incremental,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "mmerge_lake")
    create_lake_table(
        p,
        [("dt", "STRING NOT NULL"), ("k", "INT")],
        partition_keys=["dt"],
        options={"manifest.merge-min-count": "4"},
    )
    for i in range(8):
        write_lake_append(
            p,
            spark.createDataFrame(
                [(f"d{i % 2}", i * 10 + j) for j in range(3)], "dt string, k int"
            ).coalesce(1),
        )
    snap = read_paimon_snapshot(p)
    base = read_manifest_list_entries(p, snap["baseManifestList"])
    assert len(base) <= 3, f"base list must stay bounded, got {len(base)}"
    assert all(e["_PARTITION_STATS"]["_MIN_VALUES"] for e in base)
    # head read exact
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert len(out) == 24 and sorted(out.k)[:3] == [0, 1, 2]
    # time travel to a pre-merge snapshot still reads its old lists
    rb = PaimonLakeTable(p).new_read_builder().with_snapshot(3)
    assert len(rb.new_read().to_pandas()) == 9
    # incremental windows unaffected by base consolidation
    inc = read_lake_incremental(p, 7, 8).toPandas()
    assert sorted(inc.k) == [70, 71, 72]
    # partition filter on the merged lake still plans + reads exact
    rb2 = PaimonLakeTable(p).new_read_builder()
    rb2.with_filter(rb2.new_predicate_builder().equal("dt", "d1"))
    out2 = rb2.new_read().to_pandas()
    assert len(out2) == 12 and set(out2.dt) == {"d1"}


def test_inline_snapshot_expiration_on_commit(tmp_path, spark):
    """snapshot.num-retained.max expires INLINE on commit (Paimon's
    own behavior): a continuously-written lake keeps only the newest N
    snapshots without a maintenance job; unset means keep everything."""
    import os

    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "autoexp_lake")
    create_lake_table(
        p, [("k", "INT")], options={"snapshot.num-retained.max": "3"}
    )
    for i in range(6):
        write_lake_append(
            p, spark.createDataFrame([(i,)], "k int").coalesce(1)
        )
    snaps = sorted(
        int(n.split("-")[1])
        for n in os.listdir(os.path.join(p, "snapshot"))
        if n.startswith("snapshot-")
    )
    assert snaps == [4, 5, 6], snaps
    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert sorted(out.k) == [0, 1, 2, 3, 4, 5]  # data intact, history trimmed


def test_target_file_size_rolls_group_writes(tmp_path, spark):
    """target-file-size (real Paimon's rolling writer, 128 MB default):
    an oversized write-task group rolls into multiple data files with
    disjoint key ranges — a partition compaction at scale must not fold
    into one multi-GB file. PK merge reads stay exact over the rolled
    level-0 chunks, point reads prune chunks on their key stats, and a
    scoped compaction itself re-rolls."""
    from paimon_python_spark.paimon_import import plan_paimon_files
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        _pruned_entries,
        compact_lake,
        create_lake_table,
        read_paimon_schema,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "roll_pk_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("payload", "STRING")],
        primary_keys=["k"],
        options={"bucket": "1", "target-file-size": "64 KB"},
    )
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(i, "x" * 200) for i in range(3000)], "k int, payload string"
        ),
    )
    entries = plan_paimon_files(p)
    assert len(entries) > 1, "64 KB target must roll the bucket group"
    assert sum(e.row_count for e in entries) == 3000
    # disjoint chunk key ranges: a full-key point read plans ONE file
    info = read_paimon_schema(p)
    t = PaimonLakeTable(p)
    rb = t.new_read_builder()
    rb.with_filter(rb.new_predicate_builder().equal("k", 1500))
    assert len(_pruned_entries(p, info, rb)) == 1
    assert rb.new_read().to_pandas().payload.iloc[0] == "x" * 200
    # merge read over all rolled chunks stays exact
    out = t.new_read_builder().new_read().to_pandas()
    assert len(out) == 3000 and sorted(out.k) == list(range(3000))
    # upsert half the keys, then compact: outputs re-roll, rows exact
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(i, "y" * 200) for i in range(0, 3000, 2)],
            "k int, payload string",
        ),
    )
    compact_lake(p)
    entries2 = plan_paimon_files(p)
    assert len(entries2) > 1, "compaction must respect target-file-size"
    out2 = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert len(out2) == 3000
    assert out2[out2.k == 10].payload.iloc[0] == "y" * 200
    assert out2[out2.k == 11].payload.iloc[0] == "x" * 200


def test_target_file_size_default_keeps_single_file(tmp_path, spark):
    """At the 128 MB default, small groups keep writing one file — no
    behavior change for ordinary commits."""
    from paimon_python_spark.paimon_import import plan_paimon_files
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "noroll_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "1"},
    )
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(5000)], "k int, v string"
        ),
    )
    assert len(plan_paimon_files(p)) == 1


def test_target_file_size_rolls_changelog_files_too(tmp_path, spark):
    """changelog-producer=input + target-file-size rolling: each rolled
    data chunk gets its own changelog-* twin, and the changelog read of
    the commit still returns every input row exactly once."""
    from paimon_python_spark.paimon_import import plan_paimon_files
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        read_lake_incremental,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "roll_cl_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("payload", "STRING")],
        primary_keys=["k"],
        options={
            "bucket": "1",
            "target-file-size": "64 KB",
            "changelog-producer": "input",
        },
    )
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(i, "x" * 200) for i in range(2000)], "k int, payload string"
        ),
    )
    assert len(plan_paimon_files(p)) > 1, "data files must roll"
    cl = read_lake_incremental(p, 0, 1, use_changelog=True).toPandas()
    assert len(cl) == 2000
    assert sorted(cl.k) == list(range(2000))
    assert set(cl._row_kind) == {"+I"}


#: (merge engine, ignore-delete) cases of the merge-path equivalence
#: matrix; partial-update refuses retracts without ignore-delete
_MERGE_MATRIX = [
    ("deduplicate", "true"),
    ("deduplicate", "false"),
    ("first-row", "true"),
    ("first-row", "false"),
    ("partial-update", "true"),
    ("aggregation", "true"),
    ("aggregation", "false"),
]
_MERGE_ENGINE_OPTIONS = {
    "deduplicate": {},
    "first-row": {"merge-engine": "first-row"},
    "partial-update": {"merge-engine": "partial-update"},
    "aggregation": {
        "merge-engine": "aggregation",
        "fields.n.aggregate-function": "sum",
        "fields.v.ignore-retract": "true",
    },
}
#: (k, v, n, row kind) commits; the first is compacted to the top
#: level before the rest land at level 0. -D then a re-insert (k=2), a
#: -U/+U pair (k=4), NULL values, and k=6's last two versions sharing
#: one sequence number on lakes (see _tie_last_commit)
_MERGE_COMMITS = [
    [(1, "a", 10, 0), (2, "b", 20, 0), (3, None, 30, 0), (4, "d", None, 0),
     (5, "e", 50, 0), (6, "f", 60, 0)],
    [(1, "a", 10, 3), (2, "b", 20, 3), (4, "d", None, 1), (4, "d4", 44, 2),
     (5, None, 55, 0), (6, "f6", 66, 0)],
    [(2, "b2", 22, 0), (6, None, 67, 0)],
    [(6, "g", None, 0)],
]


def _merged_rows(pdf):
    return sorted(
        tuple(None if pd.isna(x) else x for x in r)
        for r in pdf[["k", "v", "n"]].itertuples(index=False)
    )


def _tie_last_commit(lake):
    """Give the last commit's level-0 file the sequence number k=6
    carries in the commit before it — two files holding one key at
    EQUAL _SEQUENCE_NUMBER, as foreign writers can leave them."""
    from paimon_python_spark.paimon_import import plan_paimon_files

    l0 = sorted(
        (e for e in plan_paimon_files(lake) if e.level == 0),
        key=lambda e: e.max_seq,
    )

    def path_of(e):
        return next(
            os.path.join(d, e.file_name)
            for d, _, names in os.walk(lake)
            if e.file_name in names
        )

    prev = pq.read_table(path_of(l0[-2]))
    seq = prev["_SEQUENCE_NUMBER"].to_pylist()[
        prev["_KEY_k"].to_pylist().index(6)
    ]
    last = pq.read_table(path_of(l0[-1]))
    i = last.schema.get_field_index("_SEQUENCE_NUMBER")
    last = last.set_column(
        i, last.schema.field(i), pa.array([seq] * last.num_rows, pa.int64())
    )
    pq.write_table(last, path_of(l0[-1]))


@pytest.mark.parametrize("engine,ignore_delete", _MERGE_MATRIX)
def test_lake_ignore_delete_all_merge_paths(
    tmp_path, spark, catalog, monkeypatch, engine, ignore_delete
):
    """The PK merge paths agree row for row, per merge engine: a lake's
    bucket-local in-task fold, its exact key-window merge and the
    format('paimon_lake') data source; an engine table's bucket-local
    merge, its key-window merge and format('paimon_spark') — over
    multi-level files, a -D followed by a re-insert, -U/+U pairs, NULL
    values and (lakes) equal sequence numbers across two files. Under
    ``ignore-delete`` retracts drop BEFORE the merge on every path, so
    a -D never erases the standing row."""
    from paimon_python_spark import Schema
    from paimon_python_spark import paimon_import
    from paimon_python_spark.compaction import compact_table
    from paimon_python_spark.datasource import register
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        compact_lake,
        create_lake_table,
        write_lake_pk_append,
    )

    register_lake(spark)
    register(spark)
    opts = {
        "bucket": "1",
        "ignore-delete": ignore_delete,
        **_MERGE_ENGINE_OPTIONS[engine],
    }
    ddl = "k int, v string, n bigint, rk int"

    def builder_paths(read):
        """(bucket-local, key-window) reads; the group-size guard forces
        the window fallback. Deduplicate and first-row lakes are
        bucket-local-eligible."""
        bl = read()
        with monkeypatch.context() as m:
            m.setattr(paimon_import, "_BUCKET_LOCAL_MAX_GROUP_BYTES", 1)
            win = read()
            win_rows = _merged_rows(win.toPandas())
            win_plan = win._jdf.queryExecution().executedPlan().toString()
        bl_plan = bl._jdf.queryExecution().executedPlan().toString()
        return _merged_rows(bl.toPandas()), bl_plan, win_rows, win_plan

    lake = str(tmp_path / f"lake_{engine}_{ignore_delete}")
    create_lake_table(
        lake,
        [("k", "INT NOT NULL"), ("v", "STRING"), ("n", "BIGINT")],
        primary_keys=["k"],
        options=opts,
    )
    for i, rows in enumerate(_MERGE_COMMITS):
        write_lake_pk_append(
            lake, spark.createDataFrame(rows, ddl), row_kind_col="rk"
        )
        if i == 0:
            compact_lake(lake)
    _tie_last_commit(lake)
    bl, bl_plan, win, win_plan = builder_paths(
        lambda: PaimonLakeTable(lake).new_read_builder().new_read().to_df()
    )
    ds = _merged_rows(
        spark.read.format("paimon_lake").option("path", lake).load().toPandas()
    )
    assert bl == win == ds, (bl, win, ds)
    assert "Exchange" in win_plan
    if engine in ("deduplicate", "first-row"):
        assert "Exchange" not in bl_plan
    if engine == "deduplicate":
        # equal sequences: the later manifest entry wins
        assert (6, "g", None) in bl
    if ignore_delete == "true":
        assert {1, 2} <= {r[0] for r in bl}

    name = f"default.eq_{engine.replace('-', '_')}_{ignore_delete}"
    catalog.create_table(
        name,
        Schema(
            T.StructType(
                [
                    T.StructField("k", T.IntegerType(), False),
                    T.StructField("v", T.StringType()),
                    T.StructField("n", T.LongType()),
                ]
            ),
            primary_keys=["k"],
            options=opts,
        ),
        False,
    )
    t = catalog.get_table(name)
    for i, rows in enumerate(_MERGE_COMMITS):
        wb = t.new_batch_write_builder()
        w, c = wb.new_write(), wb.new_commit()
        w.write_dataframe(spark.createDataFrame(rows, ddl), row_kind_col="rk")
        c.commit(w.prepare_commit())
        if i == 0:
            compact_table(t, small_file_threshold=1)
    ebl, _, ewin, _ = builder_paths(
        lambda: t.new_read_builder().new_read().to_df()
    )
    eds = _merged_rows(
        spark.read.format("paimon_spark").option("path", t.table_path).load().toPandas()
    )
    assert ebl == ewin == eds, (ebl, ewin, eds)
    if ignore_delete == "true":
        assert {1, 2} <= {r[0] for r in ebl}


_EXACT_READ_CASES = [
    (fmt, path)
    for fmt in ("parquet", "orc", "avro")
    for path in ("append", "append_dv", "pk_key_window")
]


@pytest.mark.parametrize(
    "fmt,path", _EXACT_READ_CASES, ids=[f"{f}-{p}" for f, p in _EXACT_READ_CASES]
)
def test_lake_builder_reads_exact_values(tmp_path, spark, monkeypatch, fmt, path):
    """Every builder read path returns stored values exactly, whatever
    the file format: an append read, an append read after a DV delete
    of another row, and the exact key-window PK merge. A BIGINT past
    2^53 stays exact, a NaN DOUBLE stays apart from NULL, and an
    all-NULL row stays all NULL. Avro lakes also read exactly through
    ``$audit_log`` and ``read_lake_incremental``. Reads that decode
    files in Python (avro, DV marks) plan one ``MapInArrow`` task, with
    no ``MapInPandas`` and no anti-join; the DV commit adds no rows for
    incremental readers."""
    import math

    from paimon_python_spark import paimon_import
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        delete_lake_rows,
        read_lake_incremental,
        write_lake_append,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / f"exact_{fmt}_{path}")
    pk = path == "pk_key_window"
    create_lake_table(
        p,
        [("p", "STRING NOT NULL"), ("id", "INT NOT NULL"), ("k", "BIGINT"),
         ("d", "DOUBLE")],
        partition_keys=["p"],
        primary_keys=["p", "id"] if pk else None,
        options={"file.format": fmt, **({"bucket": "2"} if pk else {})},
    )
    big = 2**53 + 1
    df = spark.createDataFrame(
        [("x", 1, big, float("nan")), ("x", 2, None, None), ("y", 3, 5, 1.5)],
        "p string, id int, k bigint, d double",
    )
    (write_lake_pk_append if pk else write_lake_append)(p, df)
    t = PaimonLakeTable(p)
    if path == "append_dv":
        pb = t.new_read_builder().new_predicate_builder()
        sid = delete_lake_rows(p, pb.equal("id", 3))
        assert read_lake_incremental(p, sid - 1, sid).count() == 0
    if pk:
        monkeypatch.setattr(paimon_import, "_BUCKET_LOCAL_MAX_GROUP_BYTES", 1)

    def check(rows, n):
        by_id = {r["id"]: r for r in rows}
        assert len(by_id) == n, rows
        assert by_id[1]["k"] == big and math.isnan(by_id[1]["d"])
        assert by_id[2]["k"] is None and by_id[2]["d"] is None
        assert by_id[1]["p"] == by_id[2]["p"] == "x"

    out = t.new_read_builder().new_read().to_df()
    check(out.collect(), 2 if path == "append_dv" else 3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "Anti" not in plan, plan[:800]
    if path == "append_dv" or fmt == "avro":
        assert "MapInArrow" in plan, plan[:800]
    if fmt == "avro":
        check(t.audit_log().collect(), 3)
        check(read_lake_incremental(p, 0).collect(), 3)


def test_lake_read_task_plan_width(tmp_path, spark):
    """Spec reads pack their specs into at most ``pinned_width`` Python
    tasks: a full read of a 16-group PK lake (8 partitions x 2 buckets)
    runs min(16, pinned_width) partitions, and a one-group lookup runs
    one."""
    from paimon_python_spark._localdf import pinned_width
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "width_lake")
    create_lake_table(
        p,
        [("p", "INT NOT NULL"), ("k", "INT NOT NULL"), ("v", "STRING")],
        partition_keys=["p"],
        primary_keys=["p", "k"],
        options={"bucket": "2"},
    )
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(i % 8, i, f"v{i}") for i in range(400)], "p int, k int, v string"
        ),
    )
    rb = PaimonLakeTable(p).new_read_builder()
    full = rb.new_read().to_df()
    assert full.rdd.getNumPartitions() == min(16, pinned_width(spark))
    assert full.count() == 400
    pb = rb.new_predicate_builder()
    one = (
        rb.with_filter(pb.and_predicates([pb.equal("p", 3), pb.equal("k", 11)]))
        .new_read()
        .to_df()
    )
    assert one.rdd.getNumPartitions() == 1
    assert [tuple(r) for r in one.collect()] == [(3, 11, "v11")]
