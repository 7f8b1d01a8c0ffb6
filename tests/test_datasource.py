"""Python Data Source integration: spark.read.format('paimon_spark')
and the snapshot-offset streaming source."""

import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from paimon_python_spark import Schema

SIMPLE = pa.schema([("f0", pa.int64()), ("f1", pa.string())])


def _write(table, df):
    wb = table.new_batch_write_builder()
    w, c = wb.new_write(), wb.new_commit()
    w.write_pandas(df)
    c.commit(w.prepare_commit())
    w.close()
    c.close()


@pytest.fixture(scope="module", autouse=True)
def _register(request):
    from paimon_python_spark.datasource import register
    from paimon_python_spark.session import get_spark

    spark = get_spark()
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    register(spark)


def test_batch_read_append(catalog, spark):
    catalog.create_table("default.ds_ap", Schema(SIMPLE), False)
    t = catalog.get_table("default.ds_ap")
    _write(t, pd.DataFrame({"f0": [1, 2, 3], "f1": ["a", "b", None]}))
    out = (
        spark.read.format("paimon_spark")
        .option("path", t.table_path)
        .load()
        .toPandas()
        .sort_values("f0")
    )
    assert out["f0"].tolist() == [1, 2, 3]
    assert out["f1"].tolist() == ["a", "b", None]


def test_batch_read_pk_merges_per_partition(catalog, spark):
    catalog.create_table(
        "default.ds_pk",
        Schema(SIMPLE, primary_keys=["f0"], options={"bucket": "2"}),
        False,
    )
    t = catalog.get_table("default.ds_pk")
    _write(t, pd.DataFrame({"f0": [1, 2, 3], "f1": ["a", "b", "c"]}))
    _write(t, pd.DataFrame({"f0": [2], "f1": ["B"]}))
    out = (
        spark.read.format("paimon_spark")
        .option("path", t.table_path)
        .load()
        .toPandas()
        .sort_values("f0")
    )
    assert out["f1"].tolist() == ["a", "B", "c"]


def test_batch_read_filter_pushdown(catalog, spark):
    catalog.create_table("default.ds_f", Schema(SIMPLE), False)
    t = catalog.get_table("default.ds_f")
    _write(t, pd.DataFrame({"f0": [1, 2], "f1": ["a", "b"]}))
    _write(t, pd.DataFrame({"f0": [10, 20], "f1": ["x", "y"]}))
    df = (
        spark.read.format("paimon_spark")
        .option("path", t.table_path)
        .load()
        .filter("f0 >= 10")
    )
    out = df.toPandas().sort_values("f0")
    assert out["f0"].tolist() == [10, 20]
    # the engine's stats pruning fired inside partitions(): only the
    # second commit's file should have been scanned
    assert df.rdd.getNumPartitions() <= 2


def test_stream_read_snapshot_offsets(catalog, spark):
    catalog.create_table("default.ds_s", Schema(SIMPLE), False)
    t = catalog.get_table("default.ds_s")
    _write(t, pd.DataFrame({"f0": [1], "f1": ["a"]}))

    q = (
        spark.readStream.format("paimon_spark")
        .option("path", t.table_path)
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ds_stream_out")
        .start()
    )
    try:
        q.processAllAvailable()
        _write(t, pd.DataFrame({"f0": [2], "f1": ["b"]}))
        q.processAllAvailable()
        res = spark.sql("SELECT f0 FROM ds_stream_out ORDER BY f0").collect()
    finally:
        q.stop()
    assert [r.f0 for r in res] == [1, 2]


def test_datasource_write_append_and_overwrite(catalog, spark):
    catalog.create_table(
        "default.ds_wr",
        Schema(
            pa.schema([("f0", pa.int64()), ("f1", pa.string()), ("part", pa.string())]),
            partition_keys=["part"],
        ),
        False,
    )
    t = catalog.get_table("default.ds_wr")

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "b", "y")], "f0 long, f1 string, part string"
    )
    df.write.format("paimon_spark").option("path", t.table_path).mode("append").save()
    df2 = spark.createDataFrame([(3, "c", "x")], "f0 long, f1 string, part string")
    df2.write.format("paimon_spark").option("path", t.table_path).mode("append").save()

    out = t.new_read_builder().new_read().to_pandas().sort_values("f0")
    assert out["f0"].tolist() == [1, 2, 3]
    assert out["part"].tolist() == ["x", "y", "x"]

    # snapshot per write job; partition pruning sees the hive dirs
    pb = t.new_read_builder().new_predicate_builder()
    rb = t.new_read_builder().with_filter(pb.equal("part", "x"))
    assert sorted(rb.new_read().to_pandas()["f0"]) == [1, 3]

    # overwrite follows the table's dynamic-partition-overwrite default:
    # only the partitions present in the new data are replaced
    spark.createDataFrame(
        [(9, "z", "x")], "f0 long, f1 string, part string"
    ).write.format("paimon_spark").option("path", t.table_path).mode(
        "overwrite"
    ).save()
    out = t.new_read_builder().new_read().to_pandas().sort_values("f0")
    assert out["f0"].tolist() == [2, 9]  # partition x replaced, y kept


def test_datasource_write_pk_table(catalog, spark):
    """format('paimon_spark') PK writes: front-door commits route rows
    with the verified Python replica of Spark's F.hash bucket function
    (files interleave with builder write_dataframe commits and merge
    newest-wins), sequence ranges advance past the table's snapshots,
    and full-key point reads still bucket-prune (routing parity)."""
    import pyarrow as pa

    S = pa.schema([("dt", pa.string()), ("k", pa.int64()), ("v", pa.string())])
    catalog.create_table(
        "default.ds_wr_pk",
        Schema(
            S,
            partition_keys=["dt"],
            primary_keys=["dt", "k"],
            options={"bucket": "4"},
        ),
        False,
    )
    t = catalog.get_table("default.ds_wr_pk")

    def fmt_write(rows):
        spark.createDataFrame(rows, "dt string, k long, v string").write.format(
            "paimon_spark"
        ).option("path", t.table_path).mode("append").save()

    fmt_write([("a", 1, "x"), ("a", 2, "y"), ("b", 3, "z")])
    fmt_write([("a", 2, "Y2"), ("b", 4, "w")])  # upsert
    rb = t.new_read_builder()
    got = sorted((r.dt, r.k, r.v) for r in rb.new_read().to_df().collect())
    assert got == [("a", 1, "x"), ("a", 2, "Y2"), ("b", 3, "z"), ("b", 4, "w")]
    # builder write interleaves: identical bucket routing, newer seq wins
    _write(t, pd.DataFrame({"dt": ["b"], "k": [3], "v": ["Z3"]}))
    rb = t.new_read_builder()
    got = sorted((r.dt, r.k, r.v) for r in rb.new_read().to_df().collect())
    assert got == [("a", 1, "x"), ("a", 2, "Y2"), ("b", 3, "Z3"), ("b", 4, "w")]
    # format() reader agrees (executor-local merge per split)
    ds = sorted(
        (r.dt, r.k, r.v)
        for r in spark.read.format("paimon_spark")
        .option("path", t.table_path)
        .load()
        .collect()
    )
    assert ds == got
    # full-key point read bucket-prunes through the shared hash
    rb2 = t.new_read_builder()
    pb = rb2.new_predicate_builder()
    rb2.with_filter(pb.and_predicates([pb.equal("dt", "b"), pb.equal("k", 4)]))
    assert [(r.dt, r.k, r.v) for r in rb2.new_read().to_df().collect()] == [
        ("b", 4, "w")
    ]


def test_stream_table_to_table_etl(catalog, spark, tmp_path):
    """Capstone streaming ETL: readStream from one table (snapshots as
    micro-batches via the datasource) into an aggregation-merge-engine
    PK table — the table itself maintains the running counts, the
    Paimon pattern for streaming rollups. Target must equal a batch
    recompute from the source after new commits flow through."""
    import pyarrow as pa

    from paimon_python_spark.streaming.sink import StreamingTableSink

    catalog.create_table("default.etl_src", Schema(SIMPLE), False)
    src = catalog.get_table("default.etl_src")
    _write(src, pd.DataFrame({"f0": [1, 2], "f1": ["a", "b"]}))

    catalog.create_table(
        "default.etl_dst",
        Schema(
            pa.schema([("f1", pa.string()), ("cnt", pa.int64())]),
            primary_keys=["f1"],
            options={
                "bucket": "1",
                "merge-engine": "aggregation",
                "fields.cnt.aggregate-function": "sum",
            },
        ),
        False,
    )
    dst = catalog.get_table("default.etl_dst")

    stream = (
        spark.readStream.format("paimon_spark")
        .option("path", src.table_path)
        .load()
        .select("f1", F.lit(1).cast("long").alias("cnt"))
    )
    q = StreamingTableSink(dst, stream_id="etl").attach(
        stream, checkpoint=str(tmp_path / "etl_ckpt")
    )
    try:
        q.processAllAvailable()
        _write(src, pd.DataFrame({"f0": [3, 4], "f1": ["a", "a"]}))
        q.processAllAvailable()
    finally:
        q.stop()

    got = (
        dst.new_read_builder().new_read().to_pandas().sort_values("f1")
        .reset_index(drop=True)
    )
    # batch recompute from the source
    want = (
        src.new_read_builder().new_read().to_pandas()
        .groupby("f1").size().rename("cnt").reset_index()
        .sort_values("f1").reset_index(drop=True)
    )
    assert got["f1"].tolist() == want["f1"].tolist()
    assert got["cnt"].astype(int).tolist() == want["cnt"].astype(int).tolist()


def test_sql_view_over_engine_table(catalog, spark):
    """SQL front door: register_sql_view exposes an engine table to
    spark.sql with pushdown via the Python Data Source. (CREATE TABLE
    USING paimon_spark is not usable: Spark drops storage options on
    the read path for Python data sources — documented in the helper.)"""
    from paimon_python_spark.datasource import register_sql_view

    catalog.create_table("default.ds_sql", Schema(SIMPLE), False)
    t = catalog.get_table("default.ds_sql")
    _write(t, pd.DataFrame({"f0": [1, 2, 3], "f1": ["x", "y", "z"]}))
    register_sql_view(spark, t, "sql_paimon_t")
    got = spark.sql(
        "SELECT f0, f1 FROM sql_paimon_t WHERE f0 >= 2 ORDER BY f0"
    ).collect()
    assert [(r.f0, r.f1) for r in got] == [(2, "y"), (3, "z")]
    assert spark.sql("SELECT count(*) AS n FROM sql_paimon_t").first().n == 3
    spark.catalog.dropTempView("sql_paimon_t")


def test_filter_inside_file_range_applies_row_level(catalog, spark):
    """Regression: a claimed filter whose bounds fall INSIDE one file's
    min/max must filter rows, not just files — stats pruning alone
    would return the whole file."""
    catalog.create_table("default.ds_resid", Schema(SIMPLE), False)
    t = catalog.get_table("default.ds_resid")
    _write(t, pd.DataFrame({"f0": [1, 2, 3, 4], "f1": ["a", "b", "c", "d"]}))
    out = (
        spark.read.format("paimon_spark")
        .option("path", t.table_path)
        .load()
        .filter("f0 >= 3")
        .toPandas()
        .sort_values("f0")
    )
    assert out["f0"].tolist() == [3, 4]


def test_lake_datasource_batch_and_pushdown(tmp_path, spark):
    """spark.read.format('paimon_lake'): PK lakes merge per-partition
    (one InputPartition per bucket group), pushed key filters bucket-
    prune the partition list, append lakes re-apply claimed filters
    row-exactly, and partition values inject from the layout."""
    from paimon_python_spark.lake_datasource import (
        PaimonLakeBatchReader,
        register_lake,
    )
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        write_lake_append,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    register_lake(spark)
    p = str(tmp_path / "ds_pk_lake")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "8"},
    )
    write_lake_pk_append(
        p, spark.createDataFrame([(i, f"a{i}") for i in range(200)], "k int, v string")
    )
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(i, f"b{i}") for i in range(0, 200, 5)], "k int, v string"
        ),
    )
    df = spark.read.format("paimon_lake").option("path", p).load()
    got = {r["k"]: r["v"] for r in df.collect()}
    assert len(got) == 200 and got[5] == "b5" and got[1] == "a1"
    # key-equality pushdown bucket-prunes the partitions
    out = df.filter(df.k == 42).collect()
    assert [(r["k"], r["v"]) for r in out] == [(42, "a42")]
    rdr = PaimonLakeBatchReader(p)
    n_all = len(rdr.partitions())
    list(rdr.pushFilters([]))  # no-op
    from paimon_python_spark.predicate import PredicateBuilder

    rdr._predicate = PredicateBuilder(["k", "v"]).equal("k", 42)
    assert len(rdr.partitions()) < n_all

    # partitioned APPEND lake: claimed filter applied row-exact,
    # partition column injected
    p2 = str(tmp_path / "ds_app_lake")
    create_lake_table(
        p2,
        [("dt", "STRING NOT NULL"), ("x", "INT")],
        partition_keys=["dt"],
    )
    write_lake_append(
        p2,
        spark.createDataFrame(
            [("a", 1), ("a", 5), ("b", 9)], "dt string, x int"
        ),
    )
    df2 = spark.read.format("paimon_lake").option("path", p2).load()
    assert sorted((r["dt"], r["x"]) for r in df2.filter("x > 1").collect()) == [
        ("a", 5),
        ("b", 9),
    ]


def test_lake_datasource_streaming(tmp_path, spark):
    """readStream.format('paimon_lake'): snapshot-id offsets replay an
    append lake's commit history into a memory sink exactly once."""
    import tempfile

    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    register_lake(spark)
    p = str(tmp_path / "ds_stream_lake")
    create_lake_table(p, [("k", "INT NOT NULL"), ("v", "STRING")])
    write_lake_append(
        p, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    )
    write_lake_append(p, spark.createDataFrame([(3, "c")], "k int, v string"))
    stream = (
        spark.readStream.format("paimon_lake").option("path", p).load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("lake_ds_out")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="lds_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT k, v FROM lake_ds_out ORDER BY k").collect()
    assert [(r["k"], r["v"]) for r in out] == [(1, "a"), (2, "b"), (3, "c")]


def test_lake_datasource_dv_and_evolution(tmp_path, spark):
    """format('paimon_lake') reads DV-marked and schema-evolved lakes
    transparently (refusals lifted): per-file roaring bitmaps decode
    executor-side and drop marked positions before the merge; files
    written under older schema ids remap by FIELD ID (renames follow
    their id, adds NULL-fill). Results match the builder path
    bit-for-bit on the same lake."""
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_import import (
        attach_paimon_dv_fixture,
        plan_paimon_files,
    )
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        alter_lake_schema,
        create_lake_table,
        write_lake_append,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    register_lake(spark)

    # PK lake: evolve (rename v→val, add note), then DV-mark one row
    p = str(tmp_path / "ds_dv_evo_pk")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "2"},
    )
    write_lake_pk_append(
        p, spark.createDataFrame([(i, f"a{i}") for i in range(20)], "k int, v string")
    )
    alter_lake_schema(p, add_columns=[("note", "STRING")], rename_columns={"v": "val"})
    write_lake_pk_append(
        p,
        spark.createDataFrame(
            [(i, f"b{i}", f"n{i}") for i in range(20, 30)],
            "k int, val string, note string",
        ),
    )
    victim = next(e for e in plan_paimon_files(p) if e.bucket == 0)
    attach_paimon_dv_fixture(p, {victim.file_name: [0]}, bucket=victim.bucket)

    ds = spark.read.format("paimon_lake").option("path", p).load()
    builder = PaimonLakeTable(p).new_read_builder().new_read().to_df()
    got = sorted((r["k"], r["val"], r["note"]) for r in ds.collect())
    want = sorted((r["k"], r["val"], r["note"]) for r in builder.collect())
    assert got == want
    assert len(got) == 29  # one DV-marked row gone
    by_k = dict((k, (v, n)) for k, v, n in got)
    assert by_k[25] == ("b25", "n25")  # post-evolution file
    old_k = next(k for k in by_k if k < 20)  # any surviving pre-evolution row
    assert by_k[old_k][0] == f"a{old_k}" and by_k[old_k][1] is None  # remap + NULL-fill

    # APPEND lake with DV marks reads transparently too
    p2 = str(tmp_path / "ds_dv_app")
    create_lake_table(p2, [("x", "INT"), ("s", "STRING")])
    write_lake_append(
        p2,
        spark.createDataFrame(
            [(i, f"s{i}") for i in range(10)], "x int, s string"
        ).coalesce(1),
    )
    e0 = plan_paimon_files(p2)[0]
    attach_paimon_dv_fixture(p2, {e0.file_name: [2, 5]})
    ds2 = sorted(
        (r["x"], r["s"])
        for r in spark.read.format("paimon_lake").option("path", p2).load().collect()
    )
    want2 = sorted(
        (r["x"], r["s"])
        for r in PaimonLakeTable(p2).new_read_builder().new_read().to_df().collect()
    )
    assert ds2 == want2 and len(ds2) == 8


def test_lake_datasource_streaming_partition_planned(tmp_path, spark):
    """The streaming source is the partition-planned
    DataSourceStreamReader (NOT the driver-side simple reader): a
    multi-file snapshot plans one InputPartition per delta file, rows
    land executor-side, partition values inject from the layout, and
    post-evolution batches remap pre-evolution columns by field id."""
    import json as _json
    import tempfile

    from pyspark.sql.datasource import (
        DataSourceStreamReader,
        SimpleDataSourceStreamReader,
    )

    from paimon_python_spark.lake_datasource import (
        PaimonLakeStreamReader,
        register_lake,
    )
    from paimon_python_spark.paimon_lake import (
        alter_lake_schema,
        create_lake_table,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    register_lake(spark)
    assert issubclass(PaimonLakeStreamReader, DataSourceStreamReader)
    assert not issubclass(PaimonLakeStreamReader, SimpleDataSourceStreamReader)

    p = str(tmp_path / "ds_stream_part_lake")
    create_lake_table(
        p,
        [("dt", "STRING NOT NULL"), ("k", "INT NOT NULL"), ("v", "STRING")],
        partition_keys=["dt"],
    )
    # multi-file commit: two partitions → ≥2 delta files in snapshot 1
    write_lake_append(
        p,
        spark.createDataFrame(
            [("a", 1, "x"), ("a", 2, "y"), ("b", 3, "z")], "dt string, k int, v string"
        ),
    )
    alter_lake_schema(p, rename_columns={"v": "val"})
    write_lake_append(
        p, spark.createDataFrame([("b", 4, "w")], "dt string, k int, val string")
    )
    rdr = PaimonLakeStreamReader(p)
    parts = rdr.partitions({"snapshot": 0}, {"snapshot": 1})
    assert len(parts) >= 2, "one InputPartition per delta file"
    # each spec file rides as [entry index, path, level, colmap, DV]
    (file0,) = _json.loads(parts[0].spec)["files"]
    assert file0[1], "partition spec must carry the file path"
    # pre-evolution files carry a field-id colmap remapping v→val
    both = [
        _json.loads(pt.spec)["files"][0][3]
        for pt in rdr.partitions({"snapshot": 0}, {"snapshot": 2})
    ]
    assert any(cm and cm.get("val") == "v" for cm in both)
    assert all(cm in (None, {"k": "k", "val": "v"}) for cm in both)

    stream = spark.readStream.format("paimon_lake").option("path", p).load()
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("lake_ds_part_out")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ldsp_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT dt, k, val FROM lake_ds_part_out ORDER BY k").collect()
    assert [(r["dt"], r["k"], r["val"]) for r in out] == [
        ("a", 1, "x"),
        ("a", 2, "y"),
        ("b", 3, "z"),
        ("b", 4, "w"),
    ]


def test_lake_datasource_write_append(tmp_path, spark):
    """df.write.format('paimon_lake').mode('append'): executors write
    spec-named parquet files straight into the lake layout, the driver
    commits one spec snapshot with footer stats — builder reads, the
    format() reader, and incremental reads all see the rows; PK /
    overwrite refuse with pointers."""
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_import import plan_paimon_files
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        _pruned_entries,
        create_lake_table,
        read_lake_incremental,
        read_paimon_schema,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    register_lake(spark)
    p = str(tmp_path / "ds_write_lake")
    create_lake_table(
        p,
        [("dt", "STRING NOT NULL"), ("k", "INT NOT NULL"), ("v", "STRING")],
        partition_keys=["dt"],
    )
    df = spark.createDataFrame(
        [("a", 1, "x"), ("a", 2, "y"), ("b", 3, "z")], "dt string, k int, v string"
    )
    df.write.format("paimon_lake").option("path", p).mode("append").save()
    spark.createDataFrame([("b", 4, "w")], "dt string, k int, v string").write.format(
        "paimon_lake"
    ).option("path", p).mode("append").save()

    out = PaimonLakeTable(p).new_read_builder().new_read().to_pandas()
    assert sorted(zip(out.dt, out.k, out.v)) == [
        ("a", 1, "x"), ("a", 2, "y"), ("b", 3, "z"), ("b", 4, "w"),
    ]
    # format() reader round trip + partition injection
    rt = spark.read.format("paimon_lake").option("path", p).load()
    assert sorted((r["dt"], r["k"]) for r in rt.collect()) == [
        ("a", 1), ("a", 2), ("b", 3), ("b", 4),
    ]
    # snapshot-per-save: incremental sees only the second commit
    inc = read_lake_incremental(p, 1, 2).toPandas()
    assert list(zip(inc.dt, inc.k)) == [("b", 4)]
    # footer stats committed: a k filter prunes files
    info = read_paimon_schema(p)
    assert all(e.stats_raw for e in plan_paimon_files(p))
    rb = PaimonLakeTable(p).new_read_builder()
    rb.with_filter(rb.new_predicate_builder().equal("k", 4))
    assert len(_pruned_entries(p, info, rb)) == 1

    # non-parquet formats write through the engine codecs since r12:
    # the end-to-end avro/orc coverage lives in
    # test_lake_format_write_avro_and_orc; here just pin that the old
    # refusal is gone (an avro append through the front door succeeds)
    p2 = str(tmp_path / "ds_write_avro")
    create_lake_table(
        p2, [("k", "INT NOT NULL"), ("v", "STRING")],
        options={"file.format": "avro"},
    )
    df.select("k", "v").write.format("paimon_lake").option("path", p2).mode(
        "append"
    ).save()
    av = PaimonLakeTable(p2).new_read_builder().new_read().to_pandas()
    assert sorted(zip(av.k, av.v)) == [(1, "x"), (2, "y"), (3, "z")]


def test_lake_datasource_write_empty_append_is_noop(tmp_path, spark):
    """An empty append through the writer succeeds without committing a
    snapshot — standard Spark sink behavior (parquet/JDBC), not an
    error a caller must pre-count to avoid."""
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_import import latest_paimon_snapshot_id
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    register_lake(spark)
    p = str(tmp_path / "ds_empty_append")
    create_lake_table(p, [("k", "INT"), ("v", "STRING")])
    write_lake_append(p, spark.createDataFrame([(1, "a")], "k int, v string"))
    df = spark.createDataFrame([], "k int, v string")
    df.write.format("paimon_lake").option("path", p).mode("append").save()
    assert latest_paimon_snapshot_id(p) == 1  # no empty snapshot


_EXACT_CASES = [
    (front, pk, ts)
    for ts in (True, False)
    for front in ("format", "builder")
    for pk in (False, True)
]


@pytest.mark.parametrize(
    "front,pk,ts",
    _EXACT_CASES,
    ids=[
        ("builder-" if front == "builder" else "")
        + ("fixed_pk" if pk else "append")
        + ("" if ts else "-no_ts")
        for front, pk, ts in _EXACT_CASES
    ],
)
def test_lake_format_write_stores_exact_values(tmp_path, spark, front, pk, ts):
    """Both write front doors — df.write.format("paimon_lake") and the
    builder's write_lake_append / write_lake_pk_append — store each
    value as Spark hands it over: a BIGINT past 2^53 beside a NULL
    stays exact, a NaN stays apart from NULL, and a year-2300 timestamp
    (past pandas' nanosecond range) is written. The TIMESTAMP column
    leaves the other columns' value stats in place, so a k filter still
    prunes append files. On append lakes a spec bloom index on k is
    built from the exact values too, so k == 5 and k == 2^53 + 1 each
    find their row. Every read door — to_df(), format("paimon_lake")
    and new_read().to_arrow() — returns the same exact values, with
    and without the TIMESTAMP column (on a PK lake the column once
    decided which merge path the builder read took)."""
    import datetime
    import math
    import os

    import pyarrow.parquet as pq

    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_import import plan_paimon_files
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        _pruned_entries,
        create_lake_table,
        read_paimon_schema,
        write_lake_append,
        write_lake_pk_append,
    )

    register_lake(spark)
    p = str(tmp_path / "exact")
    if pk:
        options = {"bucket": "2"}
    else:
        options = {
            "file-index.format": "spec",
            "file-index.bloom-filter.columns": "k",
        }
    fields = [("id", "INT NOT NULL"), ("k", "BIGINT"), ("d", "DOUBLE")]
    if ts:
        fields.append(("t", "TIMESTAMP(6) WITH LOCAL TIME ZONE"))
    create_lake_table(
        p,
        fields,
        primary_keys=["id"] if pk else None,
        options=options,
    )
    big = 2**53 + 1
    utc = datetime.timezone.utc
    far = datetime.datetime(2300, 1, 1, 12, 30, 0, 123456)
    schema = "id int, k bigint, d double, t timestamp"
    rows = [
        (1, big, float("nan"), far.replace(tzinfo=utc)),
        (2, None, None, None),
        (3, 5, 1.5, datetime.datetime(2024, 1, 1, tzinfo=utc)),
    ]
    cols = [name for name, _ in fields]
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        for batch in (rows, [(7, -1, 2.0, datetime.datetime(2024, 1, 2, tzinfo=utc))]):
            df = spark.createDataFrame(batch, schema).select(*cols).coalesce(1)
            if front == "format":
                df.write.format("paimon_lake").option("path", p).mode(
                    "append"
                ).save()
            elif pk:
                write_lake_pk_append(p, df)
            else:
                write_lake_append(p, df)
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)

    stored = {}
    for e in plan_paimon_files(p):
        path = next(
            os.path.join(d, e.file_name)
            for d, _, names in os.walk(p)
            if e.file_name in names
        )
        for r in pq.read_table(path, columns=cols).to_pylist():
            stored[r["id"]] = r
    assert stored[1]["k"] == big and math.isnan(stored[1]["d"])
    if ts:
        assert stored[1]["t"] == far
        assert stored[2] == {"id": 2, "k": None, "d": None, "t": None}
    else:
        assert stored[2] == {"id": 2, "k": None, "d": None}
    assert (stored[3]["k"], stored[3]["d"]) == (5, 1.5)

    files = plan_paimon_files(p)
    assert len(files) > 1 and all(e.stats_raw[0] for e in files)
    if not pk:  # a PK lake prunes on key stats only
        rb = PaimonLakeTable(p).new_read_builder()
        rb.with_filter(rb.new_predicate_builder().equal("k", -1))
        assert len(_pruned_entries(p, read_paimon_schema(p), rb)) == 1
    for k, want in ((5, 3), (big, 1)):
        rb = PaimonLakeTable(p).new_read_builder()
        rb.with_filter(rb.new_predicate_builder().equal("k", k))
        got = rb.with_projection(["id", "k"]).new_read().to_pandas()
        assert list(got.id) == [want] and int(got.k.iloc[0]) == k

    read = PaimonLakeTable(p).new_read_builder().new_read()
    doors = {
        "to_df": [r.asDict() for r in read.to_df().collect()],
        "format": [
            r.asDict()
            for r in spark.read.format("paimon_lake").option("path", p).load().collect()
        ],
        "to_arrow": read.to_arrow().to_pylist(),
    }
    for door, got_rows in doors.items():
        by_id = {r["id"]: r for r in got_rows}
        assert sorted(by_id) == [1, 2, 3, 7], door
        assert by_id[1]["k"] == big and math.isnan(by_id[1]["d"]), (door, by_id[1])
        assert by_id[2] == dict.fromkeys(cols) | {"id": 2}, (door, by_id[2])
        if ts:
            assert by_id[1]["t"] == far, (door, by_id[1])


def test_lake_datasource_streaming_survives_expired_history(tmp_path, spark):
    """Inline expiration trims old snapshots; a FRESH stream bootstraps
    from the earliest surviving snapshot's FULL state (no silent data
    loss), and a restarted stream whose offset fell behind retention
    fails loudly instead of dropping rows."""
    import pytest as _pytest

    from paimon_python_spark.lake_datasource import PaimonLakeStreamReader
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        write_lake_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    p = str(tmp_path / "ds_stream_expired")
    create_lake_table(
        p, [("k", "INT")], options={"snapshot.num-retained.max": "2"}
    )
    for i in range(5):
        write_lake_append(
            p, spark.createDataFrame([(i,)], "k int").coalesce(1)
        )
    rdr = PaimonLakeStreamReader(p)
    start = rdr.initialOffset()
    assert start.get("bootstrap") == 4  # earliest surviving snapshot
    end = rdr.latestOffset()
    parts = rdr.partitions(start, end)
    rows = sorted(
        k for pt in parts for b in rdr.read(pt) for k in b.column("k").to_pylist()
    )
    assert rows == [0, 1, 2, 3, 4]  # full earliest state + delta — nothing lost
    with _pytest.raises(RuntimeError, match="expired"):
        rdr.partitions({"snapshot": 0}, end)


def test_engine_datasource_streaming_partition_planned(catalog, spark):
    """The ENGINE streaming source is also the partition-planned
    DataSourceStreamReader (NOT the driver-side simple reader): a
    multi-file commit plans one InputPartition per delta file and rows
    land executor-side; replay through a memory sink stays exact."""
    from pyspark.sql.datasource import (
        DataSourceStreamReader,
        SimpleDataSourceStreamReader,
    )

    from paimon_python_spark.datasource import PaimonStreamReader

    assert issubclass(PaimonStreamReader, DataSourceStreamReader)
    assert not issubclass(PaimonStreamReader, SimpleDataSourceStreamReader)

    catalog.create_table(
        "default.ds_part_stream",
        Schema(SIMPLE, partition_keys=["f1"]),
        False,
    )
    t = catalog.get_table("default.ds_part_stream")
    # one commit, two partition values → ≥2 delta files in snapshot 1
    _write(t, pd.DataFrame({"f0": [1, 2, 3], "f1": ["a", "a", "b"]}))
    _write(t, pd.DataFrame({"f0": [4], "f1": ["b"]}))

    rdr = PaimonStreamReader(t.table_path, t.schema)
    parts = rdr.partitions({"snapshot": 0}, {"snapshot": 1})
    assert len(parts) >= 2, "one InputPartition per delta file"
    assert all(len(pt.paths) == 1 and pt.paths[0] for pt in parts)
    rows = sorted(r[0] for pt in parts for r in rdr.read(pt))
    assert rows == [1, 2, 3]

    q = (
        spark.readStream.format("paimon_spark")
        .option("path", t.table_path)
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ds_part_stream_out")
        .start()
    )
    try:
        q.processAllAvailable()
        res = spark.sql(
            "SELECT f0, f1 FROM ds_part_stream_out ORDER BY f0"
        ).collect()
    finally:
        q.stop()
    assert [(r.f0, r.f1) for r in res] == [
        (1, "a"),
        (2, "a"),
        (3, "b"),
        (4, "b"),
    ]


def test_lake_datasource_write_pk_and_overwrite(tmp_path, spark):
    """format('paimon_lake') PK writes + mode('overwrite'): front-door
    commits route through the same murmur bucket hash the builder uses
    (files interleave with write_lake_pk_append commits and merge
    newest-wins), overwrite replaces the whole visible table in one
    OVERWRITE snapshot with time travel intact, and dynamic-bucket /
    changelog-producing lakes refuse with pointers."""
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    register_lake(spark)
    p = str(tmp_path / "ds_pk_write")
    create_lake_table(
        p,
        [("dt", "STRING NOT NULL"), ("k", "INT NOT NULL"), ("v", "STRING")],
        partition_keys=["dt"],
        primary_keys=["dt", "k"],
        options={"bucket": "4"},
    )

    def fmt_write(rows, mode):
        spark.createDataFrame(rows, "dt string, k int, v string").write.format(
            "paimon_lake"
        ).option("path", p).mode(mode).save()

    fmt_write([("a", 1, "x"), ("a", 2, "y"), ("b", 3, "z")], "append")
    fmt_write([("a", 2, "Y2"), ("b", 4, "w")], "append")  # upsert
    got = sorted(
        (r.dt, r.k, r.v)
        for r in spark.read.format("paimon_lake").option("path", p).load().collect()
    )
    assert got == [("a", 1, "x"), ("a", 2, "Y2"), ("b", 3, "z"), ("b", 4, "w")]
    # builder writes interleave: same bucket routing, newer sequence wins
    write_lake_pk_append(
        p, spark.createDataFrame([("b", 3, "Z3")], "dt string, k int, v string")
    )
    got = sorted(
        (r.dt, r.k, r.v)
        for r in PaimonLakeTable(p).new_read_builder().new_read().to_df().collect()
    )
    assert got == [("a", 1, "x"), ("a", 2, "Y2"), ("b", 3, "Z3"), ("b", 4, "w")]

    fmt_write([("c", 7, "q")], "overwrite")
    got = sorted(
        (r.dt, r.k, r.v)
        for r in spark.read.format("paimon_lake").option("path", p).load().collect()
    )
    assert got == [("c", 7, "q")]
    # time travel still reads the replaced state
    rb = PaimonLakeTable(p).new_read_builder().with_snapshot(3)
    got = sorted((r.dt, r.k, r.v) for r in rb.new_read().to_df().collect())
    assert got == [("a", 1, "x"), ("a", 2, "Y2"), ("b", 3, "Z3"), ("b", 4, "w")]

    # dynamic-bucket writes go through the front door since r12 (full
    # coverage in test_lake_format_write_dynamic_bucket); pin here that
    # the old "HASH index" refusal is gone for a fresh dynamic lake
    pdyn = str(tmp_path / "ds_pk_dyn")
    create_lake_table(
        pdyn, [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"], options={"bucket": "-1"},
    )
    spark.createDataFrame([(1, "a")], "k int, v string").write.format(
        "paimon_lake"
    ).option("path", pdyn).mode("append").save()
    dyn = PaimonLakeTable(pdyn).new_read_builder().new_read().to_pandas()
    assert sorted(zip(dyn.k, dyn.v)) == [(1, "a")]
    pcl = str(tmp_path / "ds_pk_cl")
    create_lake_table(
        pcl, [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "2", "changelog-producer": "input"},
    )
    with pytest.raises(Exception, match="write_lake_pk_append"):
        spark.createDataFrame([(1, "a")], "k int, v string").write.format(
            "paimon_lake"
        ).option("path", pcl).mode("append").save()


def test_engine_datasource_pk_changelog_stream(catalog, spark, tmp_path):
    """PK tables stream as CHANGELOG rows: plain readStream refuses (a
    raw -D would resurrect the delete as an insert downstream);
    .option('changelog', 'true') appends a _row_kind column and emits
    every commit's kinds (+I/-U/+U/-D) per delta file."""
    import pyarrow as pa

    catalog.create_table(
        "default.ds_pk_cl",
        Schema(
            pa.schema([("k", pa.int64()), ("v", pa.string())]),
            primary_keys=["k"],
            options={"bucket": "2"},
        ),
        False,
    )
    t = catalog.get_table("default.ds_pk_cl")
    _write(t, pd.DataFrame({"k": [1, 2], "v": ["a", "b"]}))
    wb = t.new_batch_write_builder()
    w, c = wb.new_write(), wb.new_commit()
    w.write_dataframe(
        spark.createDataFrame([(2, "B", 2), (1, None, 3)], "k long, v string, rk int"),
        row_kind_col="rk",
    )
    c.commit(w.prepare_commit())
    w.close()
    c.close()

    # refusal without the option, at stream start
    q = (
        spark.readStream.format("paimon_spark")
        .option("path", t.table_path)
        .load()
        .writeStream.format("memory")
        .queryName("ds_pk_cl_refuse")
        .option("checkpointLocation", str(tmp_path / "ck0"))
        .start()
    )
    with pytest.raises(Exception, match="changelog"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    stream = (
        spark.readStream.format("paimon_spark")
        .option("path", t.table_path)
        .option("changelog", "true")
        .load()
    )
    assert "_row_kind" in stream.columns
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("ds_pk_cl_out")
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(
        (
            (r.k, r.v, r._row_kind)
            for r in spark.sql("SELECT * FROM ds_pk_cl_out").collect()
        ),
        key=lambda t: (t[0], t[2]),
    )
    assert rows == [
        (1, "a", "+I"),
        (1, None, "-D"),
        (2, "b", "+I"),
        (2, "B", "+U"),
    ]
    # batch reads refuse the streaming-only option
    with pytest.raises(Exception, match="readStream"):
        spark.read.format("paimon_spark").option("path", t.table_path).option(
            "changelog", "true"
        ).load().collect()


def test_lake_datasource_pk_changelog_stream(tmp_path, spark):
    """format('paimon_lake') PK streaming: plain readStream refuses (a
    raw -D would resurrect the delete); .option('changelog','true')
    appends _row_kind and plans each commit's CHANGELOG manifests when
    a producer wrote them (full-image -U/+U pairs from lookup),
    falling back to delta kv files."""
    from paimon_python_spark.lake_datasource import (
        PaimonLakeStreamReader,
        register_lake,
    )
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    register_lake(spark)
    p = str(tmp_path / "lake_pk_cl")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "2", "changelog-producer": "lookup"},
    )
    write_lake_pk_append(
        p, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    )
    write_lake_pk_append(
        p, spark.createDataFrame([(2, "B"), (3, "c")], "k int, v string")
    )
    write_lake_pk_append(
        p,
        spark.createDataFrame([(1, None, 3)], "k int, v string, rk int"),
        row_kind_col="rk",
    )

    with pytest.raises(Exception, match="changelog"):
        PaimonLakeStreamReader(p)

    stream = (
        spark.readStream.format("paimon_lake")
        .option("path", p)
        .option("changelog", "true")
        .load()
    )
    assert "_row_kind" in stream.columns
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("lake_pk_cl_out")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(
        (
            (r.k, r.v, r._row_kind)
            for r in spark.sql("SELECT * FROM lake_pk_cl_out").collect()
        ),
        key=lambda t: (t[0], t[2]),
    )
    # lookup producer: full-image pairs for the update, -D with old
    # values for the delete, +I for fresh keys
    assert rows == [
        (1, "a", "+I"),
        (1, "a", "-D"),
        (2, "b", "+I"),
        (2, "B", "+U"),
        (2, "b", "-U"),
        (3, "c", "+I"),
    ]
    # batch reads refuse the streaming-only option
    with pytest.raises(Exception, match="readStream"):
        spark.read.format("paimon_lake").option("path", p).option(
            "changelog", "true"
        ).load().collect()


def test_front_door_pk_write_rolls_at_target_size(tmp_path, spark):
    """df.write.format("paimon_lake") on a PK lake with a small
    target-file-size: each executor task rolls its (partition, bucket)
    group into multiple sorted kv chunks; the merged read stays exact
    and a full-key point read prunes to one chunk."""
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_import import plan_paimon_files
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        _pruned_entries,
        create_lake_table,
        read_paimon_schema,
    )
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    register_lake(spark)
    p = str(tmp_path / "fd_roll_pk")
    create_lake_table(
        p,
        [("k", "INT NOT NULL"), ("payload", "STRING")],
        primary_keys=["k"],
        options={"bucket": "1", "target-file-size": "64 KB"},
    )
    df = spark.createDataFrame(
        [(i, "x" * 200) for i in range(3000)], "k int, payload string"
    ).coalesce(1)
    df.write.format("paimon_lake").option("path", p).mode("append").save()
    entries = plan_paimon_files(p)
    assert len(entries) > 1, "front-door PK write must roll at 64 KB"
    assert sum(e.row_count for e in entries) == 3000
    info = read_paimon_schema(p)
    t = PaimonLakeTable(p)
    rb = t.new_read_builder()
    rb.with_filter(rb.new_predicate_builder().equal("k", 1500))
    assert len(_pruned_entries(p, info, rb)) == 1
    out = t.new_read_builder().new_read().to_pandas()
    assert len(out) == 3000 and sorted(out.k) == list(range(3000))


def test_lake_datasource_time_travel(tmp_path, spark):
    """snapshot-id / tag / timestamp-millis batch read options on
    format('paimon_lake') — resolved by the read builder at plan time,
    and the DV plan follows the SAME snapshot (a delete committed after
    the pinned snapshot must not leak into the time-travel read)."""
    import json
    import os

    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        create_lake_tag,
        delete_lake_rows,
        write_lake_pk_append,
    )

    register_lake(spark)
    d = str(tmp_path / "tt")
    create_lake_table(
        d,
        [("k", "BIGINT NOT NULL"), ("v", "DOUBLE")],
        primary_keys=["k"],
        options={"bucket": "2"},
    )
    df1 = spark.range(10).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    )
    write_lake_pk_append(d, df1)  # snapshot 1
    create_lake_tag(d, "v1")
    write_lake_pk_append(
        d,
        spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") + 100.0).alias("v")
        ),
    )  # snapshot 2
    pb = PaimonLakeTable(d).new_read_builder().new_predicate_builder()
    delete_lake_rows(d, pb.equal("k", 7))  # snapshot 3: DV delete

    def rows(df):
        return sorted((r.k, r.v) for r in df.collect())

    def base(**opts):
        # DataFrameReader.option() mutates the reader — build fresh
        r = spark.read.format("paimon_lake").option("path", d)
        for k, v in opts.items():
            r = r.option(k.replace("_", "-"), v)
        return r

    v1 = [(i, float(i)) for i in range(10)]
    latest = [(i, float(i) + 100) for i in range(5)] + [
        (i, float(i)) for i in (5, 6, 8, 9)
    ]
    assert rows(base().load()) == sorted(latest)
    # snapshot 1 predates both the upsert AND the DV delete of k=7
    assert rows(base(snapshot_id="1").load()) == v1
    assert rows(base(tag="v1").load()) == v1
    t1 = json.load(open(os.path.join(d, "snapshot", "snapshot-1")))[
        "timeMillis"
    ]
    assert rows(base(timestamp_millis=str(t1)).load()) == v1
    # snapshot 2 sees the upsert but not the delete
    assert (7.0,) == tuple(
        r.v
        for r in base(snapshot_id="2").load().filter("k = 7").collect()
    )
    # pushed filters compose with the pinned snapshot
    assert rows(base(snapshot_id="1").load().filter("k >= 8")) == [
        (8, 8.0),
        (9, 9.0),
    ]
    # at most one time-travel option
    with pytest.raises(Exception, match="at most one"):
        base(snapshot_id="1", tag="v1").load().count()
    # write/stream refuse time-travel options
    with pytest.raises(Exception, match="read option"):
        (
            spark.range(1)
            .select(F.col("id").alias("k"), F.lit(0.0).alias("v"))
            .write.format("paimon_lake")
            .option("path", d)
            .option("snapshot-id", "1")
            .mode("append")
            .save()
        )


def test_engine_datasource_time_travel(catalog, spark):
    """Engine twin: the same three options on format('paimon_spark')."""
    catalog.create_table(
        "default.ds_tt",
        Schema(SIMPLE, primary_keys=["f0"], options={"bucket": "2"}),
        False,
    )
    t = catalog.get_table("default.ds_tt")
    _write(t, pd.DataFrame({"f0": [1, 2, 3], "f1": ["a", "b", "c"]}))
    t.create_tag("first")
    _write(t, pd.DataFrame({"f0": [2, 4], "f1": ["B", "d"]}))

    def base(**opts):
        r = spark.read.format("paimon_spark").option("path", t.table_path)
        for k, v in opts.items():
            r = r.option(k.replace("_", "-"), v)
        return r

    def rows(df):
        return sorted((r.f0, r.f1) for r in df.collect())

    assert rows(base().load()) == [(1, "a"), (2, "B"), (3, "c"), (4, "d")]
    old = [(1, "a"), (2, "b"), (3, "c")]
    assert rows(base(snapshot_id="1").load()) == old
    assert rows(base(tag="first").load()) == old
    from paimon_python_spark.metadata import MetadataStore

    t1 = MetadataStore(t.table_path).read_snapshot(1).time_millis
    assert rows(base(timestamp_millis=str(t1)).load()) == old
    with pytest.raises(Exception, match="at most one"):
        base(tag="first", timestamp_millis="1").load().count()


def test_datasource_merge_engine_dispatch(catalog, spark, tmp_path):
    """Both data sources dispatch PK merges by merge-engine in-task
    (previously dedup-only — a partial-update table read through
    format(...) silently LOST non-null values from older versions), and
    refuse the engines the pandas fold cannot express with a pointer at
    plan time (RuntimeError, not NotImplementedError — Spark treats NIE
    from partitions() as 'no partitioning' and calls read(None))."""
    import pandas as _pd
    import pyarrow as _pa

    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        write_lake_pk_append,
    )

    register_lake(spark)
    S3 = _pa.schema([("k", _pa.int32()), ("a", _pa.string()), ("b", _pa.string())])

    def mk(name, opts, schema=S3):
        catalog.create_table(
            f"default.{name}",
            Schema(schema, primary_keys=["k"], options={"bucket": "1", **opts}),
            False,
        )
        return catalog.get_table(f"default.{name}")

    def rd(t):
        return (
            spark.read.format("paimon_spark")
            .option("path", t.table_path)
            .load()
            .toPandas()
            .sort_values("k")
            .values.tolist()
        )

    # engine partial-update: latest non-null per column
    t = mk("ds_pu", {"merge-engine": "partial-update"})
    _write(t, _pd.DataFrame({"k": [1], "a": ["a1"], "b": ["b1"]}))
    _write(t, _pd.DataFrame({"k": [1], "a": [None], "b": ["B1"]}))
    assert rd(t) == [[1, "a1", "B1"]]

    # engine first-row: earliest wins
    t2 = mk("ds_fr", {"merge-engine": "first-row"})
    _write(t2, _pd.DataFrame({"k": [1], "a": ["first"], "b": ["x"]}))
    _write(t2, _pd.DataFrame({"k": [1], "a": ["second"], "b": ["y"]}))
    assert rd(t2) == [[1, "first", "x"]]

    # engine ignore-delete: -D drops BEFORE merge, key survives
    t3 = mk("ds_igd", {"ignore-delete": "true"})
    _write(t3, _pd.DataFrame({"k": [1], "a": ["a"], "b": ["A"]}))
    wb = t3.new_batch_write_builder()
    w, c = wb.new_write(), wb.new_commit()
    from pyspark.sql import types as T

    sch = T.StructType(
        list(t3.schema.spark_schema.fields)
        + [T.StructField("_kind", T.IntegerType(), False)]
    )
    w.write_dataframe(
        spark.createDataFrame(
            _pd.DataFrame({"k": [1], "a": ["a"], "b": ["A"], "_kind": [3]}),
            schema=sch,
        ),
        row_kind_col="_kind",
    )
    c.commit(w.prepare_commit())
    w.close()
    c.close()
    assert rd(t3) == [[1, "a", "A"]]

    # engine sequence.field: event-time order beats arrival order
    S4 = _pa.schema([("k", _pa.int32()), ("v", _pa.string()), ("ts", _pa.int64())])
    t4 = mk("ds_sf", {"sequence.field": "ts"}, S4)
    _write(t4, _pd.DataFrame({"k": [1], "v": ["newer"], "ts": [2000]}))
    _write(t4, _pd.DataFrame({"k": [1], "v": ["stale"], "ts": [1000]}))
    assert rd(t4) == [[1, "newer", 2000]]

    # engine aggregation now reads through the front door (r12:
    # in-task pandas_agg_merge); ONLY hll_sketch fields still refuse
    S5 = _pa.schema([("k", _pa.int32()), ("cnt", _pa.int64())])
    t5 = mk(
        "ds_agg",
        {"merge-engine": "aggregation", "fields.cnt.aggregate-function": "sum"},
        S5,
    )
    _write(t5, _pd.DataFrame({"k": [1], "cnt": [2]}))
    _write(t5, _pd.DataFrame({"k": [1], "cnt": [3]}))
    assert rd(t5) == [[1, 5]]
    S6 = _pa.schema([("k", _pa.int32()), ("h", _pa.binary())])
    t6 = mk(
        "ds_agg_hll",
        {
            "merge-engine": "aggregation",
            "fields.h.aggregate-function": "hll_sketch",
        },
        S6,
    )
    _write(t6, _pd.DataFrame({"k": [1], "h": [None]}))
    with pytest.raises(Exception, match="hll_sketch"):
        rd(t6)

    # lake partial-update through format('paimon_lake')
    d = str(tmp_path / "ds_pu_lake")
    create_lake_table(
        d,
        [("k", "INT NOT NULL"), ("a", "STRING"), ("b", "STRING")],
        primary_keys=["k"],
        options={"bucket": "1", "merge-engine": "partial-update"},
    )
    write_lake_pk_append(
        d, spark.createDataFrame([(1, "a1", "b1")], "k int, a string, b string")
    )
    write_lake_pk_append(
        d, spark.createDataFrame([(1, None, "B1")], "k int, a string, b string")
    )
    assert (
        spark.read.format("paimon_lake").option("path", d).load().toPandas()
    ).values.tolist() == [[1, "a1", "B1"]]

    # lake first-row through format('paimon_lake')
    d2 = str(tmp_path / "ds_fr_lake")
    create_lake_table(
        d2,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "1", "merge-engine": "first-row"},
    )
    write_lake_pk_append(d2, spark.createDataFrame([(1, "first")], "k int, v string"))
    write_lake_pk_append(d2, spark.createDataFrame([(1, "second")], "k int, v string"))
    assert (
        spark.read.format("paimon_lake").option("path", d2).load().toPandas()
    ).values.tolist() == [[1, "first"]]


def test_engine_sequence_field_merge(catalog, spark):
    """sequence.field on ENGINE tables (read-side: ordering value is
    struct(seq fields..., arrival seq), so arrival stays the
    deterministic tie-break) — single field, multi field, and the
    partial-update composition."""
    import pyarrow as _pa

    S = _pa.schema(
        [("k", _pa.int32()), ("v", _pa.string()), ("ts", _pa.int64()), ("ver", _pa.int32())]
    )
    catalog.create_table(
        "default.seqf",
        Schema(S, primary_keys=["k"], options={"bucket": "2", "sequence.field": "ts,ver"}),
        False,
    )
    t = catalog.get_table("default.seqf")
    _write(t, pd.DataFrame({"k": [1, 2], "v": ["k1v2", "old"], "ts": [100, 10], "ver": [2, 1]}))
    _write(t, pd.DataFrame({"k": [1], "v": ["k1v1"], "ts": [100], "ver": [1]}))  # same ts, lower ver
    _write(t, pd.DataFrame({"k": [1, 2], "v": ["k1old", "new"], "ts": [50, 20], "ver": [9, 1]}))
    out = (
        t.new_read_builder().new_read().to_pandas().sort_values("k").reset_index(drop=True)
    )
    assert out["v"].tolist() == ["k1v2", "new"]
    # equal composite -> later arrival wins (deterministic tie-break)
    _write(t, pd.DataFrame({"k": [2], "v": ["tie2"], "ts": [20], "ver": [1]}))
    out = t.new_read_builder().new_read().to_pandas().sort_values("k")
    assert out[out.k == 2]["v"].tolist() == ["tie2"]


def test_stream_start_mode_options(catalog, spark, tmp_path):
    """Streaming START MODES through the readStream front doors —
    Paimon's scan.mode / scan.snapshot-id / scan.timestamp-millis as
    stream options, resolved EAGERLY at subscribe (restarts resume the
    checkpoint): latest skips history, latest-full bootstraps the full
    current state (append only), a bare snapshot-id / timestamp-millis
    implies its from-* mode."""
    import json
    import os

    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        write_lake_append,
    )

    register_lake(spark)
    d = str(tmp_path / "sm")
    create_lake_table(
        d, [("k", "INT NOT NULL"), ("v", "STRING")], primary_keys=[], options={}
    )
    for i in range(3):
        write_lake_append(
            d, spark.createDataFrame([(i, f"v{i}")], "k int, v string")
        )

    def run(name, **opts):
        r = spark.readStream.format("paimon_lake").option("path", d)
        for k, v in opts.items():
            r = r.option(k, str(v))
        q = (
            r.load()
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            write_lake_append(
                d, spark.createDataFrame([(99, "post")], "k int, v string")
            )
            q.processAllAvailable()
        finally:
            q.stop()
        return sorted(r.k for r in spark.sql(f"SELECT k FROM {name}").collect())

    assert run("sm_latest", **{"scan.mode": "latest"}) == [99]
    lf = run("sm_lf", **{"scan.mode": "latest-full"})
    assert {0, 1, 2}.issubset(set(lf)) and 99 in lf
    fs = run("sm_fs", **{"scan.snapshot-id": 3})
    assert 2 in fs and 0 not in fs and 1 not in fs
    t2 = json.load(open(os.path.join(d, "snapshot", "snapshot-2")))["timeMillis"]
    ft = run("sm_ft", **{"scan.timestamp-millis": t2})
    assert 2 in ft and 1 not in ft and 0 not in ft
    # invalid combos refuse
    with pytest.raises(Exception, match="exclusive"):
        run("sm_bad", **{"scan.snapshot-id": 1, "scan.timestamp-millis": 1})
    with pytest.raises(Exception, match="scan.mode"):
        run("sm_bad2", **{"scan.mode": "nonsense"})

    # engine twin: latest skips the subscribe-time history
    catalog.create_table("default.sm_eng", Schema(SIMPLE), False)
    t = catalog.get_table("default.sm_eng")
    _write(t, pd.DataFrame({"f0": [1], "f1": ["a"]}))
    q = (
        spark.readStream.format("paimon_spark")
        .option("path", t.table_path)
        .option("scan.mode", "latest")
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("sm_eng_latest")
        .start()
    )
    try:
        q.processAllAvailable()
        _write(t, pd.DataFrame({"f0": [7], "f1": ["new"]}))
        q.processAllAvailable()
    finally:
        q.stop()
    rows = sorted(r.f0 for r in spark.sql("SELECT f0 FROM sm_eng_latest").collect())
    assert rows == [7]


def test_latest_hint_read_is_best_effort(tmp_path, spark):
    """The snapshot-dir LATEST hint is best-effort (real Paimon): a
    concurrent committer mid-rewrite can expose an EMPTY hint — the
    reader must fall back to listing, not crash (seen live under
    streaming commits before hint writes were made atomic)."""
    import os

    from paimon_python_spark.paimon_import import latest_paimon_snapshot_id
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        write_lake_append,
    )

    d = str(tmp_path / "hint")
    create_lake_table(d, [("k", "INT NOT NULL")], primary_keys=[], options={})
    write_lake_append(d, spark.createDataFrame([(1,)], "k int"))
    write_lake_append(d, spark.createDataFrame([(2,)], "k int"))
    hint = os.path.join(d, "snapshot", "LATEST")
    with open(hint, "w") as f:
        pass  # truncated mid-rewrite
    assert latest_paimon_snapshot_id(d) == 2
    with open(hint, "w") as f:
        f.write("garbage")
    assert latest_paimon_snapshot_id(d) == 2


def test_system_tables_through_front_doors(catalog, spark, tmp_path):
    """``$<name>`` path suffixes serve the system tables through BOTH
    data sources (Paimon's own Spark connector shape), bit-identical to
    the builder methods — the rows come from the same pure metadata
    walk (lake_system_table_data / engine_system_table_data), which the
    plan-time worker can run without a SparkSession."""
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        create_lake_tag,
        write_lake_pk_append,
    )

    register_lake(spark)
    d = str(tmp_path / "sys")
    create_lake_table(
        d,
        [("k", "BIGINT NOT NULL"), ("v", "DOUBLE")],
        primary_keys=["k"],
        options={"bucket": "2"},
    )
    write_lake_pk_append(
        d,
        spark.range(10).select(
            F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
        ),
    )
    create_lake_tag(d, "v1")
    write_lake_pk_append(
        d, spark.range(3).select(F.col("id").alias("k"), F.lit(9.0).alias("v"))
    )
    lt = PaimonLakeTable(d)
    for name in (
        "snapshots",
        "files",
        "schemas",
        "partitions",
        "manifests",
        "buckets",
        "tags",
        "options",
        "consumers",
        "indexes",
    ):
        df = spark.read.format("paimon_lake").option("path", f"{d}${name}").load()
        assert sorted(map(str, df.collect())) == sorted(
            map(str, getattr(lt, name)().collect())
        ), name
    # snapshot-id time travel composes with $files
    f1 = (
        spark.read.format("paimon_lake")
        .option("path", f"{d}$files")
        .option("snapshot-id", "1")
        .load()
        .count()
    )
    assert f1 < spark.read.format("paimon_lake").option(
        "path", f"{d}$files"
    ).load().count()
    # read-only + batch-only
    with pytest.raises(Exception, match="read-only"):
        (
            spark.range(1)
            .select(F.col("id").alias("k"), F.lit(0.0).alias("v"))
            .write.format("paimon_lake")
            .option("path", f"{d}$files")
            .mode("append")
            .save()
        )

    # engine twin
    catalog.create_table(
        "default.sys_eng",
        Schema(SIMPLE, primary_keys=["f0"], options={"bucket": "2"}),
        False,
    )
    t = catalog.get_table("default.sys_eng")
    _write(t, pd.DataFrame({"f0": [1, 2], "f1": ["a", "b"]}))
    t.create_tag("x")
    _write(t, pd.DataFrame({"f0": [3], "f1": ["c"]}))
    for name in (
        "snapshots",
        "files",
        "partitions",
        "manifests",
        "buckets",
        "branches",
        "tags",
        "options",
    ):
        df = (
            spark.read.format("paimon_spark")
            .option("path", f"{t.table_path}${name}")
            .load()
        )
        assert sorted(map(str, df.collect())) == sorted(
            map(str, getattr(t, name)().collect())
        ), name
    with pytest.raises(Exception, match="unknown system table"):
        spark.read.format("paimon_spark").option(
            "path", f"{t.table_path}$nope"
        ).load().count()


def test_audit_log_through_front_doors(catalog, spark, tmp_path):
    """``$audit_log`` through both data sources — data-scale (planned
    like a normal read, one partition per group), merge-free, leading
    rowkind; bit-identical to the builder audit_log. DV marks are NOT
    applied (audit shows stored rows)."""
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        delete_lake_rows,
        write_lake_pk_append,
    )

    register_lake(spark)
    d = str(tmp_path / "aud")
    create_lake_table(
        d,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "2"},
    )
    write_lake_pk_append(
        d, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    )
    write_lake_pk_append(d, spark.createDataFrame([(1, "A")], "k int, v string"))
    pb = PaimonLakeTable(d).new_read_builder().new_predicate_builder()
    delete_lake_rows(d, pb.equal("k", 2))

    def rows(df):
        return sorted((r.rowkind, r.k, r.v) for r in df.collect())

    fd = spark.read.format("paimon_lake").option("path", f"{d}$audit_log").load()
    assert rows(fd) == rows(PaimonLakeTable(d).audit_log())
    assert ("-D", 2, "b") in rows(fd)
    assert len(rows(fd)) == 4  # no merge: both k=1 versions present

    # engine twin
    catalog.create_table(
        "default.aud_eng",
        Schema(SIMPLE, primary_keys=["f0"], options={"bucket": "1"}),
        False,
    )
    t = catalog.get_table("default.aud_eng")
    _write(t, pd.DataFrame({"f0": [1, 2], "f1": ["a", "b"]}))
    _write(t, pd.DataFrame({"f0": [1], "f1": ["A"]}))
    ef = (
        spark.read.format("paimon_spark")
        .option("path", f"{t.table_path}$audit_log")
        .load()
    )
    got = sorted((r.rowkind, r.f0, r.f1) for r in ef.collect())
    want = sorted((r.rowkind, r.f0, r.f1) for r in t.audit_log().collect())
    assert got == want and len(got) == 3


def test_incremental_between_batch_option(catalog, spark, tmp_path):
    """Batch ``incremental-between`` reads through both front doors —
    Paimon's incremental query ('3,7' snapshot ids or 'tagA,tagB'),
    reusing the STREAMING readers' per-delta-file planning verbatim.
    PK lakes need .option('changelog','true') (rows carry _row_kind),
    same contract as the stream."""
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        create_lake_tag,
        write_lake_append,
        write_lake_pk_append,
    )

    register_lake(spark)
    d = str(tmp_path / "inc")
    create_lake_table(d, [("k", "INT NOT NULL")], primary_keys=[], options={})
    for i in range(4):
        write_lake_append(d, spark.createDataFrame([(i,)], "k int"))
        if i == 0:
            create_lake_tag(d, "t0")
        if i == 2:
            create_lake_tag(d, "t2")

    def rd(**opts):
        r = spark.read.format("paimon_lake").option("path", d)
        for k, v in opts.items():
            r = r.option(k, str(v))
        return sorted(x.k for x in r.load().collect())

    assert rd(**{"incremental-between": "1,3"}) == [1, 2]
    assert rd(**{"incremental-between": "t0,t2"}) == [1, 2]
    with pytest.raises(Exception, match="start,end"):
        rd(**{"incremental-between": "3"})
    with pytest.raises(Exception, match="does not combine"):
        rd(**{"incremental-between": "1,3", "snapshot-id": "1"})

    # PK + changelog: full-image -U/+U from the lookup producer
    d2 = str(tmp_path / "incpk")
    create_lake_table(
        d2,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "1", "changelog-producer": "lookup"},
    )
    write_lake_pk_append(
        d2, spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
    )
    write_lake_pk_append(d2, spark.createDataFrame([(1, "A")], "k int, v string"))
    rc = (
        spark.read.format("paimon_lake")
        .option("path", d2)
        .option("incremental-between", "1,2")
        .option("changelog", "true")
        .load()
    )
    ks = sorted((x._row_kind, x.k, x.v) for x in rc.collect())
    assert ("-U", 1, "a") in ks and ("+U", 1, "A") in ks
    with pytest.raises(Exception):
        (
            spark.read.format("paimon_lake")
            .option("path", d2)
            .option("incremental-between", "1,2")
            .load()
            .count()
        )

    # engine twin, tag bounds
    catalog.create_table("default.inc_eng", Schema(SIMPLE), False)
    t = catalog.get_table("default.inc_eng")
    for i in range(4):
        _write(t, pd.DataFrame({"f0": [i], "f1": [str(i)]}))
    t.create_tag("a", 1)
    t.create_tag("b", 3)
    re_ = (
        spark.read.format("paimon_spark")
        .option("path", t.table_path)
        .option("incremental-between", "a,b")
        .load()
    )
    assert sorted(x.f0 for x in re_.collect()) == [1, 2]


def test_review_fixes_scan_options_and_system_snapshots(catalog, spark, tmp_path):
    """Review-pass regressions: (a) engine $partitions/$buckets honor
    snapshot-id; (b) conflicting scan options refuse instead of
    silently preferring one; (c) a from-timestamp start predating every
    surviving snapshot falls back to the default earliest replay
    (bootstrap) instead of crashing on offset 0; (d) a bad
    sequence.field refuses at PLAN time through the data source."""
    import json
    import os

    from paimon_python_spark.datasource import _parse_scan_start
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        expire_lake_snapshots,
        write_lake_append,
    )

    register_lake(spark)
    # (a)
    catalog.create_table("default.rv_sys", Schema(SIMPLE), False)
    t = catalog.get_table("default.rv_sys")
    _write(t, pd.DataFrame({"f0": [1, 2], "f1": ["a", "b"]}))
    _write(t, pd.DataFrame({"f0": [3], "f1": ["c"]}))
    p1 = (
        spark.read.format("paimon_spark")
        .option("path", f"{t.table_path}$partitions")
        .option("snapshot-id", "1")
        .load()
        .collect()
    )
    assert sum(r.record_count for r in p1) == 2
    # (b)
    with pytest.raises(ValueError, match="conflicts"):
        _parse_scan_start({"scan.mode": "latest", "scan.snapshot-id": "5"})
    with pytest.raises(ValueError, match="conflicts"):
        _parse_scan_start(
            {"scan.mode": "earliest", "scan.timestamp-millis": "5"}
        )
    # (c)
    d = str(tmp_path / "exp")
    create_lake_table(d, [("k", "INT NOT NULL")], primary_keys=[], options={})
    for i in range(5):
        write_lake_append(d, spark.createDataFrame([(i,)], "k int"))
    t1 = json.load(open(os.path.join(d, "snapshot", "snapshot-1")))[
        "timeMillis"
    ]
    expire_lake_snapshots(d, keep_last_n=2)
    q = (
        spark.readStream.format("paimon_lake")
        .option("path", d)
        .option("scan.timestamp-millis", str(t1 - 10_000))
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("rv_ts_exp")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sorted(r.k for r in spark.sql("SELECT k FROM rv_ts_exp").collect()) == [
        0,
        1,
        2,
        3,
        4,
    ]
    # (d)
    import pyarrow as _pa

    catalog.create_table(
        "default.rv_sf",
        Schema(
            _pa.schema([("k", _pa.int32()), ("v", _pa.string())]),
            primary_keys=["k"],
            options={"bucket": "1", "sequence.field": "nope"},
        ),
        False,
    )
    t2 = catalog.get_table("default.rv_sf")
    _write(t2, pd.DataFrame({"k": [1], "v": ["x"]}))
    with pytest.raises(Exception, match="not value columns"):
        spark.read.format("paimon_spark").option(
            "path", t2.table_path
        ).load().count()


def test_lake_stream_consumer_id_option(spark, tmp_path):
    """``consumer-id`` on the lake streaming front door: every
    CHECKPOINTED batch publishes in-lake consumer progress (spec
    consumer/consumer-<id> — JVM-interoperable, expiry-protecting), and
    a registered offset takes precedence over scan-start options, so a
    FRESH-checkpoint restart resumes instead of replaying. commit()
    lags one batch by the Structured Streaming contract (progress only
    after a durable checkpoint), so an uncommitted tail batch replays —
    at-least-once, never row loss."""
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        read_lake_consumer,
        write_lake_append,
    )

    register_lake(spark)
    d = str(tmp_path / "cons")
    create_lake_table(d, [("k", "INT NOT NULL")], primary_keys=[], options={})
    for i in range(3):
        write_lake_append(d, spark.createDataFrame([(i,)], "k int"))

    def start(name):
        return (
            spark.readStream.format("paimon_lake")
            .option("path", d)
            .option("consumer-id", "jobA")
            .load()
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / name))
            .start()
        )

    q = start("cons_a")
    try:
        q.processAllAvailable()  # batch 1: snapshots 1-3
        write_lake_append(d, spark.createDataFrame([(5,)], "k int"))
        q.processAllAvailable()  # batch 2 -> commit(batch 1) publishes
    finally:
        q.stop()
    assert read_lake_consumer(d, "jobA") == 4
    # FRESH checkpoint: committed history (1-3) must not replay; the
    # uncommitted batch-2 snapshot (k=5) must
    write_lake_append(d, spark.createDataFrame([(9,)], "k int"))
    q2 = start("cons_b")
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    assert sorted(r.k for r in spark.sql("SELECT k FROM cons_b").collect()) == [
        5,
        9,
    ]
    # invalid id refuses when the stream starts (load() is lazy)
    q3 = (
        spark.readStream.format("paimon_lake")
        .option("path", d)
        .option("consumer-id", "bad id!")
        .load()
        .writeStream.format("memory")
        .queryName("cons_bad")
        .start()
    )
    with pytest.raises(Exception, match="invalid consumer id"):
        try:
            q3.processAllAvailable()
        finally:
            q3.stop()


def test_front_door_writes_honor_rowkind_field(catalog, spark, tmp_path):
    """A declared ``rowkind.field`` drives row kinds through
    df.write.format(...) on BOTH doors (previously IGNORED — a CDC
    frame's -D rows were silently written as inserts); invalid kind
    values raise with the offending value, the RowKindGenerator
    contract."""
    import pyarrow as _pa

    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
    )

    register_lake(spark)
    catalog.create_table(
        "default.rkfd",
        Schema(
            _pa.schema([("k", _pa.int32()), ("v", _pa.string()), ("op", _pa.string())]),
            primary_keys=["k"],
            options={"bucket": "1", "rowkind.field": "op"},
        ),
        False,
    )
    t = catalog.get_table("default.rkfd")

    def wr(rows, fmt, path):
        spark.createDataFrame(rows, "k int, v string, op string").write.format(
            fmt
        ).option("path", path).mode("append").save()

    wr([(1, "a", "+I"), (2, "b", "+I")], "paimon_spark", t.table_path)
    wr([(1, None, "-D")], "paimon_spark", t.table_path)
    assert t.new_read_builder().new_read().to_pandas().k.tolist() == [2]

    d = str(tmp_path / "rk")
    create_lake_table(
        d,
        [("k", "INT NOT NULL"), ("v", "STRING"), ("op", "STRING")],
        primary_keys=["k"],
        options={"bucket": "1", "rowkind.field": "op"},
    )
    wr([(1, "a", "+I"), (2, "b", "+I")], "paimon_lake", d)
    wr([(1, None, "-D")], "paimon_lake", d)
    assert PaimonLakeTable(d).new_read_builder().new_read().to_pandas()[
        "k"
    ].tolist() == [2]
    with pytest.raises(Exception, match="invalid RowKind value"):
        wr([(3, "c", "??")], "paimon_lake", d)


def test_datasource_aggregation_matrix_vs_builder(catalog, spark, tmp_path):
    """r12: merge-engine=aggregation reads through BOTH format(...)
    front doors (in-task agg_merge.pandas_agg_merge). Equivalence
    oracle: the builder's Spark-expression fold (field_agg_plan) on the
    same tables, across the scalar + container + sketch function
    surface with retractions in play."""
    import pandas as _pd
    import pyarrow as _pa
    from pyspark.sql import types as T

    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.roaring import (
        deserialize_roaring32,
        serialize_roaring32,
    )

    register_lake(spark)

    st = T.StructType(
        [
            T.StructField("k", T.IntegerType(), False),
            T.StructField("s", T.IntegerType()),
            T.StructField("p", T.DoubleType()),
            T.StructField("n", T.LongType()),
            T.StructField("mn", T.IntegerType()),
            T.StructField("mx", T.IntegerType()),
            T.StructField("lv", T.StringType()),
            T.StructField("lnn", T.StringType()),
            T.StructField("fv", T.StringType()),
            T.StructField("fnn", T.StringType()),
            T.StructField("ba", T.BooleanType()),
            T.StructField("bo", T.BooleanType()),
            T.StructField("la", T.StringType()),
            T.StructField("co", T.ArrayType(T.IntegerType())),
            T.StructField("mm", T.MapType(T.StringType(), T.IntegerType())),
            T.StructField("rb", T.BinaryType()),
        ]
    )
    opts = {
        "bucket": "1",
        "merge-engine": "aggregation",
        "fields.s.aggregate-function": "sum",
        "fields.p.aggregate-function": "product",
        "fields.n.aggregate-function": "count",
        "fields.mn.aggregate-function": "min",
        "fields.mx.aggregate-function": "max",
        "fields.lv.aggregate-function": "last_value",
        "fields.lnn.aggregate-function": "last_non_null_value",
        "fields.fv.aggregate-function": "first_value",
        "fields.fnn.aggregate-function": "first_non_null_value",
        "fields.ba.aggregate-function": "bool_and",
        "fields.bo.aggregate-function": "bool_or",
        "fields.la.aggregate-function": "listagg",
        "fields.la.list-agg-delimiter": "|",
        "fields.la.ignore-retract": "true",
        "fields.mn.ignore-retract": "true",
        "fields.mx.ignore-retract": "true",
        "fields.fv.ignore-retract": "true",
        "fields.fnn.ignore-retract": "true",
        "fields.ba.ignore-retract": "true",
        "fields.bo.ignore-retract": "true",
        "fields.co.aggregate-function": "collect",
        "fields.mm.aggregate-function": "merge_map",
        "fields.rb.aggregate-function": "rbm32",
        "fields.rb.ignore-retract": "true",
    }
    catalog.create_table(
        "default.ds_agg_matrix", Schema(st, primary_keys=["k"], options=opts), False
    )
    t = catalog.get_table("default.ds_agg_matrix")

    def rbm(vals):
        import numpy as np

        return serialize_roaring32(np.array(vals, dtype=np.uint32))

    def row(k, s, p, n, sc, la, co, mm, rb):
        return (
            k, s, p, n, sc, sc, str(sc) if sc is not None else None,
            str(sc) if sc is not None else None,
            str(sc) if sc is not None else None,
            str(sc) if sc is not None else None,
            bool(sc % 2) if sc is not None else None,
            bool(sc % 2) if sc is not None else None,
            la, co, mm, rb,
        )

    rows1 = [
        row(1, 5, 2.0, 7, 3, "a", [1, 2], {"x": 1}, rbm([1, 2])),
        row(1, 4, 3.0, None, 9, "b", [2, 3], {"x": 2, "y": 5}, rbm([2, 9])),
        row(2, None, None, 1, None, None, None, None, None),
    ]
    rows2 = [
        row(1, 4, 3.0, 7, 6, "c", [2], {"y": 5}, rbm([4])),  # retracted below
        row(2, 10, 4.0, 2, 1, "d", [8], {"z": 3}, rbm([7])),
    ]

    def commit(rows, kinds=None):
        wb = t.new_batch_write_builder()
        w, c = wb.new_write(), wb.new_commit()
        if kinds is None:
            w.write_dataframe(spark.createDataFrame(rows, st))
        else:
            full = T.StructType(
                list(st.fields) + [T.StructField("_kind", T.IntegerType(), False)]
            )
            w.write_dataframe(
                spark.createDataFrame(
                    [r + (kk,) for r, kk in zip(rows, kinds)], full
                ),
                row_kind_col="_kind",
            )
        c.commit(w.prepare_commit())
        w.close()
        c.close()

    commit(rows1)
    commit(rows2)
    # retract one of k=1's earlier adds (sum/product/count/collect/
    # merge_map see the retraction; ignore-retract fields drop it)
    commit([rows2[0]], kinds=[3])

    def norm(df):
        pdf = df.toPandas().sort_values("k").reset_index(drop=True)
        pdf["co"] = pdf["co"].map(
            lambda v: None if v is None else sorted(list(v))
        )
        pdf["mm"] = pdf["mm"].map(
            lambda v: None if v is None else sorted(dict(v).items())
        )
        pdf["rb"] = pdf["rb"].map(
            lambda v: None if v is None else sorted(deserialize_roaring32(bytes(v)).tolist())
        )
        return pdf

    builder = norm(t.new_read_builder().new_read().to_df())
    front = norm(
        spark.read.format("paimon_spark").option("path", t.table_path).load()
    )
    _pd.testing.assert_frame_equal(front, builder, check_dtype=False)
    # sanity-pin a few values so both sides can't be wrong together:
    # k=1 adds s 5+4+4 then retracts 4 → 9; count(7, None, 7) - 7 → 1;
    # product 2*3*3/3 → 6; collect [1,2]+[2,3]+[2] minus one 2;
    # merge_map folds to x→2,y→5 then retracts key y; rbm unions the
    # adds only (ignore-retract)
    r1 = builder[builder.k == 1].iloc[0]
    assert r1["s"] == 9 and r1["n"] == 1 and r1["p"] == 6.0
    assert r1["la"] == "a|b|c" and r1["co"] == [1, 2, 2, 3]
    assert r1["lnn"] == "6" and r1["fnn"] == "3"
    assert r1["rb"] == [1, 2, 4, 9]
    assert sorted(dict(r1["mm"]).items()) == [("x", 2)]

    # LAKE twin through format('paimon_lake'): same function matrix on
    # a real lake written by the engine's PK writer
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        write_lake_pk_append,
    )

    d = str(tmp_path / "ds_agg_lake")
    create_lake_table(
        d,
        [
            ("k", "INT NOT NULL"),
            ("s", "INT"),
            ("n", "BIGINT"),
            ("la", "STRING"),
            ("co", "ARRAY<INT>"),
        ],
        primary_keys=["k"],
        options={
            "bucket": "1",
            "merge-engine": "aggregation",
            "fields.s.aggregate-function": "sum",
            "fields.n.aggregate-function": "count",
            "fields.la.aggregate-function": "listagg",
            "fields.la.ignore-retract": "true",
            "fields.co.aggregate-function": "collect",
        },
    )
    lsch = "k int, s int, n bigint, la string, co array<int>"
    write_lake_pk_append(
        d,
        spark.createDataFrame(
            [(1, 5, 7, "a", [1, 2]), (2, None, None, None, None)], lsch
        ),
    )
    write_lake_pk_append(
        d, spark.createDataFrame([(1, 4, 7, "b", [2, 3])], lsch)
    )
    # retract k=1's second add through the rowkind column
    write_lake_pk_append(
        d,
        spark.createDataFrame(
            [(1, 4, 7, "b", [2, 3], 3)], lsch + ", _kind int"
        ),
        row_kind_col="_kind",
    )
    from paimon_python_spark.paimon_lake import PaimonLakeTable

    def lnorm(df):
        pdf = df.toPandas().sort_values("k").reset_index(drop=True)
        pdf["co"] = pdf["co"].map(
            lambda v: None if v is None else sorted(list(v))
        )
        return pdf

    lb = lnorm(PaimonLakeTable(d).new_read_builder().new_read().to_df())
    lf = lnorm(spark.read.format("paimon_lake").option("path", d).load())
    _pd.testing.assert_frame_equal(lf, lb, check_dtype=False)
    lr1 = lb[lb.k == 1].iloc[0]
    assert lr1["s"] == 5 and lr1["n"] == 1 and lr1["co"] == [1, 2]


def test_lake_format_write_dynamic_bucket(spark, tmp_path):
    """r12: df.write.format('paimon_lake') onto a dynamic-bucket
    ('bucket' = '-1') PK lake — existing keys keep their HASH-index
    bucket, new keys assign deterministically and land in the index, so
    interleaved builder/front-door commits merge newest-wins and point
    reads stay bucket-pruned."""
    import json
    import os

    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.paimon_import import plan_paimon_hash_index

    register_lake(spark)
    d = str(tmp_path / "dyn_front")
    create_lake_table(
        d,
        [("k", "BIGINT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "-1", "dynamic-bucket.initial-buckets": "3"},
    )
    # seed through the BUILDER so a real capacity-planned index exists
    write_lake_pk_append(
        d, spark.createDataFrame([(i, f"seed{i}") for i in range(50)], "k bigint, v string")
    )
    idx_before = {
        (bytes(e["_PARTITION"] or b""), int(e["_BUCKET"])): e["_ROW_COUNT"]
        for e in plan_paimon_hash_index(d)
    }
    assert idx_before

    # front door: update 20 existing keys + insert 30 new ones
    upd = spark.createDataFrame(
        [(i, f"upd{i}") for i in range(20)]
        + [(i, f"new{i}") for i in range(100, 130)],
        "k bigint, v string",
    )
    upd.write.format("paimon_lake").option("path", d).mode("append").save()

    out = {
        r.k: r.v
        for r in PaimonLakeTable(d).new_read_builder().new_read().to_df().collect()
    }
    assert len(out) == 80
    assert out[0] == "upd0" and out[19] == "upd19"
    assert out[25] == "seed25" and out[100] == "new100"

    # the index grew by exactly the new keys (existing hashes not re-added)
    idx_after = plan_paimon_hash_index(d)
    assert sum(e["_ROW_COUNT"] for e in idx_after) == sum(
        idx_before.values()
    ) + 30

    # builder write AFTER the front-door one still merges consistently
    write_lake_pk_append(
        d, spark.createDataFrame([(100, "builder100")], "k bigint, v string")
    )
    out2 = {
        r.k: r.v
        for r in PaimonLakeTable(d).new_read_builder().new_read().to_df().collect()
    }
    assert out2[100] == "builder100" and len(out2) == 80

    # front-door read agrees with the builder read
    fd = {
        r.k: r.v
        for r in spark.read.format("paimon_lake").option("path", d).load().collect()
    }
    assert fd == out2

    # cross-partition lakes still refuse with the pointer
    d2 = str(tmp_path / "xp_front")
    create_lake_table(
        d2,
        [("k", "BIGINT NOT NULL"), ("p", "INT NOT NULL"), ("v", "STRING")],
        partition_keys=["p"],
        primary_keys=["k"],
        options={"bucket": "-1"},
    )
    with pytest.raises(Exception, match="CROSS-PARTITION"):
        spark.createDataFrame([(1, 1, "a")], "k bigint, p int, v string").write.format(
            "paimon_lake"
        ).option("path", d2).mode("append").save()


def test_lake_format_dynamic_index_copy_limit(spark, tmp_path, monkeypatch):
    """A dynamic-bucket front-door write routes against a serialized
    copy of the HASH index, so above the copy limit it refuses, pointing
    at the builder's distributed routing."""
    import paimon_python_spark.lake_datasource as lds
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        write_lake_pk_append,
    )

    d = str(tmp_path / "dyn_cap")
    create_lake_table(
        d,
        [("k", "BIGINT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "-1"},
    )
    write_lake_pk_append(d, spark.createDataFrame([(1, "a")], "k bigint, v string"))
    lds.PaimonLakeBatchWriter(d, overwrite=False)  # 4 bytes: within the limit
    monkeypatch.setattr(lds, "_DYN_INDEX_COPY_LIMIT_BYTES", 1)
    with pytest.raises(RuntimeError, match=r"HASH index is 4 bytes \(limit 1\)"):
        lds.PaimonLakeBatchWriter(d, overwrite=False)


def test_lake_format_write_dynamic_overwrite_rebuilds_index(spark, tmp_path):
    """Dynamic-bucket INSERT OVERWRITE through the front door rebuilds
    the HASH index from the new data alone — a later write must not
    re-assign a surviving key to a different bucket."""
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_pk_append,
    )
    from paimon_python_spark.paimon_import import plan_paimon_hash_index

    register_lake(spark)
    d = str(tmp_path / "dyn_ow")
    create_lake_table(
        d,
        [("k", "BIGINT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "-1", "dynamic-bucket.initial-buckets": "2"},
    )
    write_lake_pk_append(
        d, spark.createDataFrame([(i, f"old{i}") for i in range(10)], "k bigint, v string")
    )
    ow = spark.createDataFrame(
        [(i, f"ow{i}") for i in range(5, 15)], "k bigint, v string"
    )
    ow.write.format("paimon_lake").option("path", d).mode("overwrite").save()
    assert sum(e["_ROW_COUNT"] for e in plan_paimon_hash_index(d)) == 10
    # post-overwrite writes route consistently (same key, same bucket)
    write_lake_pk_append(
        d, spark.createDataFrame([(7, "after7")], "k bigint, v string")
    )
    out = {
        r.k: r.v
        for r in PaimonLakeTable(d).new_read_builder().new_read().to_df().collect()
    }
    assert len(out) == 10 and out[7] == "after7" and out[14] == "ow14"


def _live_file_fields(d):
    """Every manifest field of each live data file except its name, size
    and path: (partition, bucket, total buckets, rows, min/max key,
    sequence range, level, decoded min/max value stats and null counts
    of the non-partition columns, file-index presence), sorted."""
    import os

    from paimon_python_spark.avro_codec import read_avro_records
    from paimon_python_spark.paimon_import import (
        decode_binary_row,
        read_manifest_list,
        read_paimon_schema,
        read_paimon_snapshot,
    )

    info = read_paimon_schema(d)
    types = [f.dataType for f in info.spark_schema.fields]
    keep = [
        i
        for i, f in enumerate(info.spark_schema.fields)
        if f.name not in info.partition_keys
    ]

    def stats(raw):
        return [decode_binary_row(bytes(raw), types)[i] for i in keep] if raw else None

    snap = read_paimon_snapshot(d)
    live = {}
    for lst in (snap["baseManifestList"], snap["deltaManifestList"]):
        for m in read_manifest_list(d, lst):
            with open(os.path.join(d, "manifest", m), "rb") as f:
                for r in read_avro_records(f.read())[1]:
                    fm = r["_FILE"]
                    if r["_KIND"] == 1:
                        live.pop(fm["_FILE_NAME"])
                        continue
                    vs = fm["_VALUE_STATS"]
                    nulls = vs["_NULL_COUNTS"]
                    live[fm["_FILE_NAME"]] = (
                        bytes(r["_PARTITION"]),
                        r["_BUCKET"],
                        r["_TOTAL_BUCKETS"],
                        fm["_ROW_COUNT"],
                        bytes(fm["_MIN_KEY"]),
                        bytes(fm["_MAX_KEY"]),
                        fm["_MIN_SEQUENCE_NUMBER"],
                        fm["_MAX_SEQUENCE_NUMBER"],
                        fm["_LEVEL"],
                        stats(vs["_MIN_VALUES"]),
                        stats(vs["_MAX_VALUES"]),
                        [nulls[i] for i in keep] if nulls is not None else None,
                        fm["_EMBEDDED_FILE_INDEX"] is not None
                        or bool(fm["_EXTRA_FILES"]),
                    )
    return sorted(live.values(), key=repr)


_FORMAT_MODES = [
    (fmt, mode)
    for fmt in ("parquet", "orc", "avro")
    for mode in ("append", "fixed_pk", "dynamic_pk")
] + [("parquet", "plain"), ("orc", "plain")]


@pytest.mark.parametrize(
    "fmt,mode", _FORMAT_MODES, ids=[f"{f}-{m}" for f, m in _FORMAT_MODES]
)
def test_lake_format_write_avro_and_orc(spark, tmp_path, fmt, mode):
    """The two write front doors are one lake file writer: the same rows
    written into twin lakes — once through the builder, once through
    df.write.format("paimon_lake") — read back identically and leave
    identical manifest entries apart from file names, sizes and paths,
    for every data-file format and table kind. The batch mixes NULL
    values, an update of a seeded key and, on PK lakes, a rowkind.field
    -D then re-insert of one key, sequenced by a TIMESTAMP
    sequence.field under a non-UTC session time zone (a BIGINT one on
    avro, whose data files hold no timestamps here). ``plain`` append
    lakes declare no file index and carry a TIMESTAMP column, which
    reads back equal to the input on both doors. Parquet and ORC lakes
    also carry a TIMESTAMP (no time zone) column. The
    format("paimon_lake") read agrees with to_df() on every column, and
    both return the stored timestamps as they went in."""
    import datetime

    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_append,
    )
    from paimon_python_spark.paimon_import import plan_paimon_files

    register_lake(spark)
    pk = mode.endswith("_pk")
    ts_type = "BIGINT" if fmt == "avro" else "TIMESTAMP(6) WITH LOCAL TIME ZONE"
    plain = mode == "plain"
    ntz = fmt != "avro"
    fields = [("p", "INT NOT NULL"), ("k", "BIGINT NOT NULL"), ("v", "STRING")]
    options = {"file.format": fmt, "file-index.bloom-filter.columns": "v"}
    if plain:
        fields.append(("ts", ts_type))
        options = {"file.format": fmt}
    if pk:
        fields += [("ts", ts_type), ("op", "STRING")]
        options.update(
            {
                "bucket": "2" if mode == "fixed_pk" else "-1",
                "sequence.field": "ts",
                "rowkind.field": "op",
            }
        )
    if ntz:
        fields.append(("ntz", "TIMESTAMP(6)"))
    t0 = datetime.datetime(2024, 3, 1, 12, 0, 0)
    # row tuples are (p, k, v, ts, op, ntz); a lake takes its own columns
    pos = {"p": 0, "k": 1, "v": 2, "ts": 3, "op": 4, "ntz": 5}
    ddl_types = {
        "p": "int",
        "k": "bigint",
        "v": "string",
        "ts": "bigint" if fmt == "avro" else "timestamp",
        "op": "string",
        "ntz": "timestamp_ntz",
    }
    cols = [name for name, _ in fields]

    def project(rows):
        return [tuple(r[pos[c]] for c in cols) for r in rows]

    def frame(rows):
        ddl = ", ".join(f"{c} {ddl_types[c]}" for c in cols)
        # one input task: the front door writes one file per group it sees
        return spark.createDataFrame(project(rows), ddl).coalesce(1)

    def at(s):
        if fmt == "avro":
            return 1_709_294_400_000 + 1000 * s
        return t0 + datetime.timedelta(seconds=s)

    def wall(s):
        return t0 + datetime.timedelta(minutes=s)

    seed = [(k % 2 + 1, k, f"s{k}", at(k), "+I", wall(k)) for k in range(6)]
    batch = [
        (1, 10, None, at(100), "+I", wall(100)),
        (2, 3, "u3", at(101), "+I", None),
        (1, 4, "x4", at(102), "+I", wall(102)),
        (1, 4, None, at(103), "-D", wall(103)),
        (1, 4, "re4", at(104), "+I", wall(104)),
        (2, 11, "n11", at(105), "+I", wall(105)),
        (1, 12, None, at(106), "+I", wall(106)),
    ]
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        lakes = {}
        for door in ("builder", "format"):
            d = str(tmp_path / door)
            create_lake_table(
                d,
                fields,
                partition_keys=["p"],
                primary_keys=["p", "k"] if pk else None,
                options=options,
            )
            write_lake_append(d, frame(seed))
            if door == "builder":
                write_lake_append(d, frame(batch))
            else:
                frame(batch).write.format("paimon_lake").option(
                    "path", d
                ).mode("append").save()
            lakes[door] = d

        def merged(d):
            df = PaimonLakeTable(d).new_read_builder().new_read().to_df()
            return sorted((tuple(r) for r in df.collect()), key=repr)

        out = merged(lakes["builder"])
        assert out == merged(lakes["format"])
        # the front-door read agrees too, timestamps included
        fd = spark.read.format("paimon_lake").option("path", lakes["format"]).load()
        assert sorted((tuple(r) for r in fd.collect()), key=repr) == out
        got = {r[1]: r[2] for r in out}
        if pk:
            assert len(out) == 9 and got[4] == "re4" and got[3] == "u3"
        else:
            assert len(out) == 13
        if plain:
            assert out == sorted(project(seed + batch), key=repr)
        if ntz:
            assert {r[-1] for r in out} <= {r[5] for r in seed + batch}
        assert got[10] is None and got[12] is None
        for d in lakes.values():
            assert all(e.file_name.endswith(f".{fmt}") for e in plan_paimon_files(d))
        assert _live_file_fields(lakes["builder"]) == _live_file_fields(
            lakes["format"]
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_stream_latest_full_pk_bootstrap(spark, tmp_path):
    """r12: scan.mode=latest-full on a PK lake through readStream — the
    first batch is the MERGED full state (bucket-group partitions
    running the batch reader's in-task merge, DV marks applied, +I
    kinds), then deltas stream as changelog rows."""
    from paimon_python_spark.lake_datasource import register_lake
    from paimon_python_spark.paimon_lake import (
        create_lake_table,
        delete_lake_rows,
        write_lake_pk_append,
    )

    register_lake(spark)
    d = str(tmp_path / "lf_pk")
    create_lake_table(
        d,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "2"},
    )
    write_lake_pk_append(
        d, spark.createDataFrame([(i, f"v{i}") for i in range(6)], "k int, v string")
    )
    # upsert k=1 and delete k=5: the merged bootstrap must show the
    # newest value and drop the deleted key
    write_lake_pk_append(
        d, spark.createDataFrame([(1, "v1b")], "k int, v string")
    )
    from paimon_python_spark.paimon_lake import PaimonLakeTable

    pb = PaimonLakeTable(d).new_read_builder().new_predicate_builder()
    delete_lake_rows(d, pb.equal("k", 5))

    q = (
        spark.readStream.format("paimon_lake")
        .option("path", d)
        .option("changelog", "true")
        .option("scan.mode", "latest-full")
        .load()
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("lf_pk_boot")
        .start()
    )
    try:
        q.processAllAvailable()
        boot = {
            (r.k, r.v, r._row_kind)
            for r in spark.sql("SELECT * FROM lf_pk_boot").collect()
        }
        assert boot == {
            (0, "v0", "+I"),
            (1, "v1b", "+I"),
            (2, "v2", "+I"),
            (3, "v3", "+I"),
            (4, "v4", "+I"),
        }
        # a post-subscribe commit streams as an ordinary delta
        write_lake_pk_append(
            d, spark.createDataFrame([(7, "post")], "k int, v string")
        )
        q.processAllAvailable()
        rows = {
            (r.k, r.v, r._row_kind)
            for r in spark.sql("SELECT * FROM lf_pk_boot").collect()
        }
        assert (7, "post", "+I") in rows and len(rows) == 6
    finally:
        q.stop()


def test_datasource_partial_update_extras_vs_builder(catalog, spark, tmp_path):
    """r12: partial-update with sequence-groups / per-field aggregates /
    remove-record-on-delete reads through BOTH format(...) front doors
    (previously refused). Equivalence oracle: the builder's
    merge_on_read on the same tables."""
    import pandas as _pd
    from pyspark.sql import types as T

    from paimon_python_spark.lake_datasource import register_lake

    register_lake(spark)

    # --- sequence groups + per-field aggregate ---
    st = T.StructType(
        [
            T.StructField("k", T.IntegerType(), False),
            T.StructField("g1", T.LongType()),
            T.StructField("a", T.StringType()),
            T.StructField("b", T.StringType()),
            T.StructField("tot", T.LongType()),
            T.StructField("plain", T.StringType()),
        ]
    )
    catalog.create_table(
        "default.ds_pu_sg",
        Schema(
            st,
            primary_keys=["k"],
            options={
                "bucket": "1",
                "merge-engine": "partial-update",
                "fields.g1.sequence-group": "a,b",
                "fields.tot.aggregate-function": "sum",
                "fields.tot.ignore-retract": "true",
            },
        ),
        False,
    )
    t = catalog.get_table("default.ds_pu_sg")

    def commit(rows, kinds=None):
        wb = t.new_batch_write_builder()
        w, c = wb.new_write(), wb.new_commit()
        if kinds is None:
            w.write_dataframe(spark.createDataFrame(rows, st))
        else:
            full = T.StructType(
                list(st.fields)
                + [T.StructField("_kind", T.IntegerType(), False)]
            )
            w.write_dataframe(
                spark.createDataFrame(
                    [r + (kk,) for r, kk in zip(rows, kinds)], full
                ),
                row_kind_col="_kind",
            )
        c.commit(w.prepare_commit())
        w.close()
        c.close()

    # newer group version first; a STALE patch (lower g1) must not
    # clobber a/b even though it commits later; sum accumulates; plain
    # stays last-non-null
    commit([(1, 20, "a20", "b20", 5, "p1"), (2, 1, "x", None, 3, None)])
    commit([(1, 10, "aSTALE", None, 2, None), (2, 2, None, "y", 4, "q")])
    # group retraction: -D with g1=2 retracts key 2's group-b value
    commit([(2, 3, None, "GONE", 0, None)], kinds=[3])

    builder = (
        t.new_read_builder().new_read().to_df().toPandas()
        .sort_values("k").reset_index(drop=True)
    )
    front = (
        spark.read.format("paimon_spark").option("path", t.table_path)
        .load().toPandas().sort_values("k").reset_index(drop=True)
    )
    _pd.testing.assert_frame_equal(front, builder, check_dtype=False)
    r1 = builder[builder.k == 1].iloc[0]
    assert r1["a"] == "a20" and r1["b"] == "b20" and r1["tot"] == 7
    assert r1["plain"] == "p1"

    # --- remove-record-on-delete ---
    st2 = T.StructType(
        [
            T.StructField("k", T.IntegerType(), False),
            T.StructField("a", T.StringType()),
            T.StructField("b", T.StringType()),
        ]
    )
    catalog.create_table(
        "default.ds_pu_rod",
        Schema(
            st2,
            primary_keys=["k"],
            options={
                "bucket": "1",
                "merge-engine": "partial-update",
                "partial-update.remove-record-on-delete": "true",
            },
        ),
        False,
    )
    t2 = catalog.get_table("default.ds_pu_rod")

    def commit2(rows, kinds=None):
        wb = t2.new_batch_write_builder()
        w, c = wb.new_write(), wb.new_commit()
        if kinds is None:
            w.write_dataframe(spark.createDataFrame(rows, st2))
        else:
            full = T.StructType(
                list(st2.fields)
                + [T.StructField("_kind", T.IntegerType(), False)]
            )
            w.write_dataframe(
                spark.createDataFrame(
                    [r + (kk,) for r, kk in zip(rows, kinds)], full
                ),
                row_kind_col="_kind",
            )
        c.commit(w.prepare_commit())
        w.close()
        c.close()

    commit2([(1, "a1", "b1"), (2, "a2", None)])
    commit2([(1, "a1", "b1")], kinds=[3])  # -D clears key 1's record
    commit2([(1, "REBUILT", None), (2, None, "b2")])  # later adds rebuild

    b2 = (
        t2.new_read_builder().new_read().to_df().toPandas()
        .sort_values("k").reset_index(drop=True)
    )
    f2 = (
        spark.read.format("paimon_spark").option("path", t2.table_path)
        .load().toPandas().sort_values("k").reset_index(drop=True)
    )
    _pd.testing.assert_frame_equal(f2, b2, check_dtype=False)
    assert b2[b2.k == 1].iloc[0]["a"] == "REBUILT"
    assert b2[b2.k == 1].iloc[0]["b"] is None  # pre-delete b1 stays cleared
    assert b2[b2.k == 2].iloc[0]["a"] == "a2"
    assert b2[b2.k == 2].iloc[0]["b"] == "b2"

    # --- LAKE twin: sequence group through format('paimon_lake') ---
    from paimon_python_spark.paimon_lake import (
        PaimonLakeTable,
        create_lake_table,
        write_lake_pk_append,
    )

    d = str(tmp_path / "pu_sg_lake")
    create_lake_table(
        d,
        [
            ("k", "INT NOT NULL"),
            ("g1", "BIGINT"),
            ("a", "STRING"),
            ("tot", "BIGINT"),
        ],
        primary_keys=["k"],
        options={
            "bucket": "1",
            "merge-engine": "partial-update",
            "fields.g1.sequence-group": "a",
            "fields.tot.aggregate-function": "sum",
            "fields.tot.ignore-retract": "true",
        },
    )
    lsch = "k int, g1 bigint, a string, tot bigint"
    write_lake_pk_append(d, spark.createDataFrame([(1, 20, "v20", 5)], lsch))
    write_lake_pk_append(
        d, spark.createDataFrame([(1, 10, "STALE", 2)], lsch)
    )
    lb = (
        PaimonLakeTable(d).new_read_builder().new_read().to_df().toPandas()
        .sort_values("k").reset_index(drop=True)
    )
    lf = (
        spark.read.format("paimon_lake").option("path", d).load()
        .toPandas().sort_values("k").reset_index(drop=True)
    )
    _pd.testing.assert_frame_equal(lf, lb, check_dtype=False)
    assert lb.iloc[0]["a"] == "v20" and lb.iloc[0]["tot"] == 7
