"""Dynamic-bucket (``'bucket' = '-1'``) primary-key lakes — the mode
the reference refuses outright (py4j/util/java_utils.py:56-61). The
engine's HashBucketAssigner must: route new keys into buckets capped at
``dynamic-bucket.target-row-num``, pin every key to ONE bucket via the
spec HASH index files under ``index/``, keep that pin stable across
commits, and survive every lake maintenance op (compaction, delete,
update, lookup changelog, overwrite, orphan cleanup)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from paimon_python_spark.dynamic_bucket import read_hash_index_file
from paimon_python_spark.paimon_import import (
    plan_paimon_files,
    plan_paimon_hash_index,
)
from paimon_python_spark.paimon_lake import (
    PaimonLakeTable,
    create_lake_table,
    write_lake_pk_append,
)


def _schema():
    return T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.StringType()),
        ]
    )


def _mk(tmp_path, options=None, partition_keys=None, schema=None, pks=None):
    tp = str(tmp_path / "db.db" / "dyn")
    opts = {"bucket": "-1", "dynamic-bucket.target-row-num": "10"}
    opts.update(options or {})
    create_lake_table(
        tp,
        schema or _schema(),
        partition_keys=partition_keys,
        primary_keys=pks or ["id"],
        options=opts,
    )
    return tp


def _state(tp):
    return {
        r["id"]: r["v"]
        for r in PaimonLakeTable(tp)
        .new_read_builder()
        .new_read()
        .to_df()
        .collect()
    }


def test_dynamic_upsert_roundtrip_and_bucket_growth(tmp_path, spark):
    tp = _mk(tmp_path)
    write_lake_pk_append(
        tp, spark.createDataFrame([(i, f"a{i}") for i in range(25)], _schema())
    )
    write_lake_pk_append(
        tp,
        spark.createDataFrame([(i, f"b{i}") for i in range(10, 35)], _schema()),
    )
    rows = _state(tp)
    assert len(rows) == 35
    assert rows[5] == "a5" and rows[12] == "b12" and rows[34] == "b34"
    ents = plan_paimon_hash_index(tp)
    # 35 keys at target-row-num 10 → at least 4 buckets, each index
    # file holding ≤ 10 hashes, all 35 distinct, no key in two buckets
    assert len(ents) >= 4
    assert sum(e["_ROW_COUNT"] for e in ents) == 35
    hashes = []
    for e in ents:
        h = read_hash_index_file(os.path.join(tp, "index", e["_FILE_NAME"]))
        assert len(h) == e["_ROW_COUNT"] <= 10
        hashes.extend(h.tolist())
    assert len(hashes) == len(set(hashes)) == 35


def test_dynamic_key_bucket_pin_is_stable(tmp_path, spark):
    """Updating every key must route each to its ORIGINAL bucket — the
    invariant the merge-on-read correctness rests on."""
    tp = _mk(tmp_path)
    write_lake_pk_append(
        tp, spark.createDataFrame([(i, f"a{i}") for i in range(30)], _schema())
    )
    bucket_of = {
        h: e["_BUCKET"]
        for e in plan_paimon_hash_index(tp)
        for h in read_hash_index_file(
            os.path.join(tp, "index", e["_FILE_NAME"])
        ).tolist()
    }
    write_lake_pk_append(
        tp, spark.createDataFrame([(i, f"b{i}") for i in range(30)], _schema())
    )
    # no new keys → identical index state
    ents2 = plan_paimon_hash_index(tp)
    assert sum(e["_ROW_COUNT"] for e in ents2) == 30
    for e in ents2:
        for h in read_hash_index_file(
            os.path.join(tp, "index", e["_FILE_NAME"])
        ).tolist():
            assert bucket_of[h] == e["_BUCKET"]
    # and the second commit's data files landed in the pinned buckets
    assert _state(tp) == {i: f"b{i}" for i in range(30)}


def test_dynamic_partitioned_independent_bucket_spaces(tmp_path, spark):
    schema = T.StructType(
        [
            T.StructField("dt", T.StringType(), False),
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.StringType()),
        ]
    )
    tp = _mk(
        tmp_path, partition_keys=["dt"], schema=schema, pks=["dt", "id"]
    )
    rows = [(d, i, f"{d}-{i}") for d in ("d1", "d2") for i in range(15)]
    write_lake_pk_append(tp, spark.createDataFrame(rows, schema))
    out = PaimonLakeTable(tp).new_read_builder().new_read().to_df()
    assert out.count() == 30
    ents = plan_paimon_hash_index(tp)
    # each partition fills its own buckets 0..n independently
    assert sum(e["_ROW_COUNT"] for e in ents) == 30
    per_part_buckets = {}
    for e in plan_paimon_files(tp):
        per_part_buckets.setdefault(e.partition["dt"], set()).add(e.bucket)
    assert per_part_buckets["d1"] >= {0, 1} and per_part_buckets["d2"] >= {0, 1}
    # upsert one partition only
    write_lake_pk_append(
        tp,
        spark.createDataFrame([("d1", 3, "patched")], schema),
    )
    got = {
        (r["dt"], r["id"]): r["v"]
        for r in PaimonLakeTable(tp).new_read_builder().new_read().to_df().collect()
    }
    assert got[("d1", 3)] == "patched" and got[("d2", 3)] == "d2-3"


def test_drop_partition_keeps_other_partitions_hash_index(tmp_path, spark):
    """Dropping one partition of a dynamic-bucket lake with no DV marks
    drops that partition's HASH entries and keeps every other one. The
    drop used to commit ``indexManifest = null``: the whole HASH index
    was lost, and the next write into the kept partition refused with
    "has data files but no HASH index"."""
    from paimon_python_spark.paimon_import import decode_binary_row
    from paimon_python_spark.paimon_lake import drop_lake_partitions

    schema = T.StructType(
        [
            T.StructField("dt", T.StringType(), False),
            T.StructField("id", T.LongType(), False),
            T.StructField("v", T.StringType()),
        ]
    )
    tp = _mk(
        tmp_path, partition_keys=["dt"], schema=schema, pks=["dt", "id"]
    )
    rows = [(d, i, f"{d}-{i}") for d in ("d1", "d2") for i in range(15)]
    write_lake_pk_append(tp, spark.createDataFrame(rows, schema))

    def hash_files(dt):
        return sorted(
            e["_FILE_NAME"]
            for e in plan_paimon_hash_index(tp)
            if decode_binary_row(bytes(e["_PARTITION"]), [T.StringType()])
            == [dt]
        )

    kept = hash_files("d2")
    assert len(kept) >= 2 and len(hash_files("d1")) >= 2
    pb = PaimonLakeTable(tp).new_read_builder().new_predicate_builder()
    drop_lake_partitions(tp, pb.equal("dt", "d1"))
    assert hash_files("d1") == [] and hash_files("d2") == kept
    write_lake_pk_append(
        tp,
        spark.createDataFrame([("d2", 3, "patched"), ("d2", 20, "new")], schema),
    )
    got = {
        (r["dt"], r["id"]): r["v"]
        for r in PaimonLakeTable(tp).new_read_builder().new_read().to_df().collect()
    }
    want = {("d2", i): f"d2-{i}" for i in range(15)}
    want.update({("d2", 3): "patched", ("d2", 20): "new"})
    assert got == want
    assert sum(e["_ROW_COUNT"] for e in plan_paimon_hash_index(tp)) == 16


def test_dynamic_cross_partition_now_creatable(tmp_path, spark):
    """CROSS_PARTITION (PK ⊉ partition keys) lakes create and write —
    the full surface lives in the test_cross_partition_* cases below;
    the reference refuses this mode outright (java_utils.py:56-61)."""
    schema = T.StructType(
        [
            T.StructField("dt", T.StringType(), False),
            T.StructField("id", T.LongType(), False),
        ]
    )
    tp = str(tmp_path / "x.db" / "cp")
    create_lake_table(
        tp,
        schema,
        partition_keys=["dt"],
        primary_keys=["id"],  # PK does not contain the partition key
        options={"bucket": "-1"},
    )
    write_lake_pk_append(
        tp, spark.createDataFrame([("d1", 1), ("d2", 2)], schema)
    )
    out = PaimonLakeTable(tp).new_read_builder().new_read().to_pandas()
    assert sorted(zip(out.dt, out.id)) == [("d1", 1), ("d2", 2)]


def test_dynamic_delete_update_compact(tmp_path, spark):
    from paimon_python_spark.paimon_lake import (
        compact_lake,
        delete_lake_rows,
        update_lake_rows,
    )
    from paimon_python_spark.predicate import PredicateBuilder

    tp = _mk(tmp_path)
    write_lake_pk_append(
        tp, spark.createDataFrame([(i, f"a{i}") for i in range(30)], _schema())
    )
    pb = PredicateBuilder(["id", "v"])
    delete_lake_rows(tp, pb.less_than("id", 5))
    update_lake_rows(tp, pb.greater_or_equal("id", 28), {"v": "upper(v)"})
    rows = _state(tp)
    assert len(rows) == 25
    assert 0 not in rows and rows[29] == "A29"
    # compaction folds the LSM and must keep both results AND the index
    compact_lake(tp)
    assert _state(tp) == rows
    ents = plan_paimon_hash_index(tp)
    assert sum(e["_ROW_COUNT"] for e in ents) == 30  # hashes persist
    # post-compact files still bucket-consistent with the index
    pin = {}
    for e in ents:
        for h in read_hash_index_file(
            os.path.join(tp, "index", e["_FILE_NAME"])
        ).tolist():
            pin[h] = e["_BUCKET"]
    write_lake_pk_append(
        tp, spark.createDataFrame([(7, "post-compact")], _schema())
    )
    assert _state(tp)[7] == "post-compact"


def test_dynamic_lookup_changelog(tmp_path, spark):
    """changelog-producer=lookup on a dynamic lake: full-image -U/+U
    pairs for existing keys, +I for fresh keys."""
    from paimon_python_spark.paimon_lake import read_lake_incremental

    tp = _mk(tmp_path, options={"changelog-producer": "lookup"})
    write_lake_pk_append(
        tp, spark.createDataFrame([(i, f"a{i}") for i in range(12)], _schema())
    )
    write_lake_pk_append(
        tp,
        spark.createDataFrame([(3, "b3"), (99, "b99")], _schema()),
    )
    cl = read_lake_incremental(tp, 1, 2, use_changelog=True)
    kinds = {(r["id"], r["_row_kind"]) for r in cl.collect()}
    assert (3, "-U") in kinds and (3, "+U") in kinds and (99, "+I") in kinds
    assert not any(k == 99 and rk == "-U" for k, rk in kinds)


def test_dynamic_overwrite_resets_index(tmp_path, spark):
    from paimon_python_spark.paimon_lake import overwrite_lake

    tp = _mk(tmp_path)
    write_lake_pk_append(
        tp, spark.createDataFrame([(i, f"a{i}") for i in range(25)], _schema())
    )
    overwrite_lake(
        tp, spark.createDataFrame([(i, f"o{i}") for i in range(5)], _schema())
    )
    assert _state(tp) == {i: f"o{i}" for i in range(5)}
    ents = plan_paimon_hash_index(tp)
    assert sum(e["_ROW_COUNT"] for e in ents) == 5  # index restarted
    # post-overwrite upserts still merge correctly
    write_lake_pk_append(tp, spark.createDataFrame([(2, "p2")], _schema()))
    assert _state(tp)[2] == "p2"


def test_dynamic_index_survives_cleanup_and_expiry(tmp_path, spark):
    from paimon_python_spark.paimon_lake import (
        expire_lake_snapshots,
        remove_lake_orphan_files,
    )

    tp = _mk(tmp_path)
    for c in range(3):
        write_lake_pk_append(
            tp,
            spark.createDataFrame(
                [(i + 10 * c, f"c{c}") for i in range(10)], _schema()
            ),
        )
    # an orphan index file (failed commit debris) goes; live ones stay
    orphan = os.path.join(tp, "index", "index-deadbeef-0")
    with open(orphan, "wb") as f:
        f.write(b"\x00" * 8)
    remove_lake_orphan_files(tp, older_than_seconds=0.0)
    assert not os.path.exists(orphan)
    expire_lake_snapshots(tp, keep_last_n=1)
    live = {e["_FILE_NAME"] for e in plan_paimon_hash_index(tp)}
    for name in live:
        assert os.path.exists(os.path.join(tp, "index", name))
    assert len(_state(tp)) == 30


def test_dynamic_bucket_local_merge_plan_no_exchange(tmp_path, spark):
    """The hash index pins keys to buckets, so the no-shuffle
    bucket-closed merge stays eligible on dynamic lakes."""
    tp = _mk(tmp_path)
    write_lake_pk_append(
        tp, spark.createDataFrame([(i, f"a{i}") for i in range(20)], _schema())
    )
    write_lake_pk_append(
        tp, spark.createDataFrame([(i, f"b{i}") for i in range(20)], _schema())
    )
    df = PaimonLakeTable(tp).new_read_builder().new_read().to_df()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert {r["v"][0] for r in df.collect()} == {"b"}


def test_dynamic_initial_buckets_pre_open(tmp_path, spark):
    tp = _mk(
        tmp_path,
        options={
            "dynamic-bucket.target-row-num": "100",
            "dynamic-bucket.initial-buckets": "4",
        },
    )
    write_lake_pk_append(
        tp,
        spark.createDataFrame([(i, "x") for i in range(150)], _schema()),
    )
    ents = plan_paimon_hash_index(tp)
    # sequential capacity fill over the 4 pre-opened buckets: 150 keys
    # land in buckets 0 (100) and 1 (50)
    got = {e["_BUCKET"]: e["_ROW_COUNT"] for e in ents}
    assert got == {0: 100, 1: 50}


def test_dynamic_assigner_parallelism(tmp_path, spark):
    """``dynamic-bucket.assigner-parallelism = 4``: class c (pmod of
    the key hashcode by 4) owns the bucket ids ≡ c (mod 4), so a bulk
    load's new-key ranking distributes across 4 windows per partition
    instead of one serial sort — and every index invariant still
    holds: one bucket per key, per-bucket capacity, stable pins."""
    tp = _mk(
        tmp_path,
        options={
            "dynamic-bucket.target-row-num": "20",
            "dynamic-bucket.assigner-parallelism": "4",
        },
    )
    df = spark.createDataFrame([(i, f"a{i}") for i in range(300)], _schema())
    write_lake_pk_append(tp, df)
    ents = plan_paimon_hash_index(tp)
    assert sum(e["_ROW_COUNT"] for e in ents) == 300
    classes = set()
    seen = set()
    for e in ents:
        b = int(e["_BUCKET"])
        h = read_hash_index_file(os.path.join(tp, "index", e["_FILE_NAME"]))
        assert len(h) == e["_ROW_COUNT"] <= 20
        # ownership rule: a bucket only holds hashes of ITS class
        assert all(int(x) % 4 == b % 4 for x in h.tolist())
        assert seen.isdisjoint(h.tolist())
        seen.update(h.tolist())
        classes.add(b % 4)
    assert len(classes) == 4, "300 murmur hashes must hit all 4 classes"
    # pins stay stable: upsert EVERY key — no growth, routed back
    write_lake_pk_append(
        tp, spark.createDataFrame([(i, "u") for i in range(300)], _schema())
    )
    ents2 = plan_paimon_hash_index(tp)
    assert sum(e["_ROW_COUNT"] for e in ents2) == 300
    assert sorted(
        (int(e["_BUCKET"]), e["_ROW_COUNT"]) for e in ents2
    ) == sorted((int(e["_BUCKET"]), e["_ROW_COUNT"]) for e in ents)
    rows = _state(tp)
    assert len(rows) == 300 and set(rows.values()) == {"u"}


def _xp_schema():
    return T.StructType(
        [
            T.StructField("id", T.LongType(), False),
            T.StructField("seg", T.StringType(), False),
            T.StructField("v", T.StringType()),
        ]
    )


def _mk_xp(tmp_path, options=None, name="xp"):
    tp = str(tmp_path / "db.db" / name)
    opts = {"bucket": "-1", "dynamic-bucket.target-row-num": "10"}
    opts.update(options or {})
    create_lake_table(
        tp,
        _xp_schema(),
        partition_keys=["seg"],
        primary_keys=["id"],
        options=opts,
    )
    return tp


def _xp_state(tp):
    out = (
        PaimonLakeTable(tp)
        .new_read_builder()
        .new_read()
        .to_pandas()
        .sort_values("id")
    )
    assert out.id.duplicated().sum() == 0, "a key must live in ONE partition"
    return {r.id: (r.seg, r.v) for r in out.itertuples()}


def test_cross_partition_move_and_back(tmp_path, spark):
    """CROSS_PARTITION upserts: a key whose partition value changes
    MOVES — the old partition nets it away via the retraction row, the
    new partition holds the new version; a later move-back re-pins to
    the original bucket (the old index keeps the hash)."""
    tp = _mk_xp(tmp_path)
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [(i, "even" if i % 2 == 0 else "odd", f"a{i}") for i in range(30)],
            _xp_schema(),
        ),
    )
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [(i, "hot", f"m{i}") for i in range(10)], _xp_schema()
        ),
    )
    st = _xp_state(tp)
    assert len(st) == 30
    assert all(st[i] == ("hot", f"m{i}") for i in range(10))
    assert st[11] == ("odd", "a11") and st[28] == ("even", "a28")
    # move back — and the retractions are visible to incremental readers
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [(i, "even" if i % 2 == 0 else "odd", f"b{i}") for i in range(4)],
            _xp_schema(),
        ),
    )
    st = _xp_state(tp)
    assert len(st) == 30 and st[0] == ("even", "b0") and st[3] == ("odd", "b3")
    from paimon_python_spark.paimon_lake import read_lake_incremental

    inc = read_lake_incremental(tp, 2, 3).toPandas()
    kinds = inc.groupby("_row_kind").size().to_dict()
    # 4 moved rows: 4 retractions (-D, null values) in 'hot' + 4 adds
    assert kinds == {"+I": 4, "-D": 4}
    assert set(inc[inc._row_kind == "-D"].seg) == {"hot"}


def test_cross_partition_same_batch_dup_last_wins(tmp_path, spark):
    """One batch carrying the SAME key in two partitions nets to the
    LAST arrival — per-partition merges could never reconcile a key
    written twice, so the router arrival-dedups first."""
    tp = _mk_xp(tmp_path)
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [(1, "odd", "first"), (1, "even", "mid"), (1, "odd", "last")],
            _xp_schema(),
        ),
    )
    assert _xp_state(tp) == {1: ("odd", "last")}


def test_cross_partition_delete_moved_key(tmp_path, spark):
    """delete_lake_rows on a cross-partition lake: matched rows carry
    their TRUE partition from the read, so the -D lands where the key
    lives — including keys that moved since their first write."""
    from paimon_python_spark.paimon_lake import delete_lake_rows
    from paimon_python_spark.predicate import PredicateBuilder

    tp = _mk_xp(tmp_path)
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [(i, "odd", f"a{i}") for i in range(6)], _xp_schema()
        ),
    )
    write_lake_pk_append(
        tp, spark.createDataFrame([(2, "even", "moved")], _xp_schema())
    )
    pb = PredicateBuilder(["id", "seg", "v"])
    delete_lake_rows(tp, pb.is_in("id", [2, 3]))
    st = _xp_state(tp)
    assert set(st) == {0, 1, 4, 5}


def test_cross_partition_overwrite_dedups(tmp_path, spark):
    """An OVERWRITE's own batch must not leave one key in two
    partitions: last arrival wins, index restarts fresh."""
    from paimon_python_spark.paimon_lake import overwrite_lake

    tp = _mk_xp(tmp_path)
    write_lake_pk_append(
        tp, spark.createDataFrame([(9, "odd", "old")], _xp_schema())
    )
    overwrite_lake(
        tp,
        spark.createDataFrame(
            [(1, "odd", "x"), (1, "even", "y"), (2, "even", "z")],
            _xp_schema(),
        ),
    )
    st = _xp_state(tp)
    assert st == {1: ("even", "y"), 2: ("even", "z")}
    ents = plan_paimon_hash_index(tp)
    assert sum(e["_ROW_COUNT"] for e in ents) == 2  # fresh index


def test_cross_partition_compact_and_lookup_refusal(tmp_path, spark):
    """Compaction folds the retraction history away per partition; the
    lookup changelog producer (needs old values for keys that moved)
    refuses clearly."""
    from paimon_python_spark.paimon_lake import compact_lake

    tp = _mk_xp(tmp_path)
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [(i, "odd", f"a{i}") for i in range(8)], _xp_schema()
        ),
    )
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [(i, "even", f"m{i}") for i in range(4)], _xp_schema()
        ),
    )
    compact_lake(tp)
    st = _xp_state(tp)
    assert len(st) == 8 and st[2] == ("even", "m2") and st[6] == ("odd", "a6")
    # still writable after compact (index survived the rewrite)
    write_lake_pk_append(
        tp, spark.createDataFrame([(2, "odd", "back")], _xp_schema())
    )
    assert _xp_state(tp)[2] == ("odd", "back")
    # lookup changelog on a cross lake: full-image pairs — a MOVE shows
    # -U with the OLD partition and +U with the NEW one
    from paimon_python_spark.paimon_lake import read_lake_incremental

    tp2 = _mk_xp(tmp_path, options={"changelog-producer": "lookup"}, name="xp2")
    write_lake_pk_append(
        tp2,
        spark.createDataFrame(
            [(1, "odd", "x"), (2, "even", "y")], _xp_schema()
        ),
    )
    write_lake_pk_append(
        tp2,
        spark.createDataFrame(
            [(1, "even", "moved"), (3, "odd", "fresh")], _xp_schema()
        ),
    )
    cl = read_lake_incremental(tp2, 1, 2, use_changelog=True).toPandas()
    got = sorted(zip(cl._row_kind, cl.id, cl.seg, cl.v))
    assert got == [
        ("+I", 3, "odd", "fresh"),
        ("+U", 1, "even", "moved"),
        ("-U", 1, "odd", "x"),
    ]
    assert _xp_state(tp2) == {1: ("even", "moved"), 2: ("even", "y"), 3: ("odd", "fresh")}


def test_dynamic_and_cross_lakes_read_via_format(tmp_path, spark):
    """The Spark-native front door reads dynamic-bucket and
    cross-partition lakes transparently: their (partition, bucket)
    groups are ordinary PK merge units (retractions are co-located
    with their victims by construction)."""
    from paimon_python_spark.lake_datasource import register_lake

    register_lake(spark)
    tp = _mk(tmp_path)
    write_lake_pk_append(
        tp, spark.createDataFrame([(i, f"a{i}") for i in range(25)], _schema())
    )
    write_lake_pk_append(
        tp, spark.createDataFrame([(3, "u3"), (30, "n30")], _schema())
    )
    out = (
        spark.read.format("paimon_lake")
        .load(tp)
        .toPandas()
        .sort_values("id")
    )
    assert len(out) == 26 and out[out.id == 3].v.iloc[0] == "u3"
    xp = _mk_xp(tmp_path)
    write_lake_pk_append(
        xp,
        spark.createDataFrame(
            [(i, "odd", f"a{i}") for i in range(6)], _xp_schema()
        ),
    )
    write_lake_pk_append(
        xp, spark.createDataFrame([(2, "even", "moved")], _xp_schema())
    )
    out = spark.read.format("paimon_lake").load(xp).toPandas()
    assert len(out) == 6 and out.id.duplicated().sum() == 0
    assert out[out.id == 2].seg.iloc[0] == "even"


def test_class_plan_formula_matches_greedy_oracle():
    """Property: the broadcast-join capacity formula (segments of
    existing buckets, then the pure-codegen overflow expression) must
    assign ranks exactly like a greedy sequential fill — for any
    existing bucket occupancy, target, parallelism and initial-buckets.
    Pure arithmetic, no Spark."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @st.composite
    def cases(draw):
        P = draw(st.integers(min_value=1, max_value=5))
        target = draw(st.integers(min_value=1, max_value=50))
        nb = draw(st.integers(min_value=0, max_value=8))
        buckets = {
            b: draw(st.integers(min_value=0, max_value=target))
            for b in draw(
                st.lists(
                    st.integers(min_value=0, max_value=20),
                    min_size=nb,
                    max_size=nb,
                    unique=True,
                )
            )
        }
        initial = draw(st.integers(min_value=0, max_value=6))
        n_ranks = draw(st.integers(min_value=0, max_value=200))
        return P, target, buckets, initial, n_ranks

    class _FakeAssigner:
        # borrow the real plan methods with a minimal state shape
        _class_plans = None

    from paimon_python_spark.dynamic_bucket import DynamicBucketAssigner

    @given(cases())
    @settings(max_examples=60, deadline=None)
    def run(case):
        P, target, buckets, initial, n_ranks = case
        fake = _FakeAssigner()
        fake.par = P
        fake.target = target
        fake.initial = initial
        fake.state = (
            {"pj": {b: {"rows": r, "file": None, "part_values": []} for b, r in buckets.items()}}
            if buckets
            else {}
        )
        if buckets:
            plans = {
                c: DynamicBucketAssigner._class_plans(fake)[("pj", c)]
                for c in range(P)
            }
        else:
            plans = {
                c: DynamicBucketAssigner._fresh_class_plan(fake, c)
                for c in range(P)
            }
        for c in range(P):
            cum, ids, free, j0 = plans[c]
            # greedy oracle: own existing buckets in id order take their
            # remaining capacity, then fresh ids c+P*j take target each
            own = sorted(b for b in buckets if b % P == c) if buckets else [
                b for b in range(initial) if b % P == c
            ]
            slots = []
            for b in own:
                occ = buckets.get(b, 0) if buckets else 0
                slots.extend([b] * (target - occ))
            expected_j0 = (max(own) // P + 1) if own else 0
            assert j0 == expected_j0

            def formula(r):
                lo = 0
                for hi, b in zip(cum, ids):
                    if lo <= r < hi:
                        return b
                    lo = hi
                return c + P * (j0 + (r - free) // target)

            for r in range(n_ranks):
                want = (
                    slots[r]
                    if r < len(slots)
                    else c + P * (expected_j0 + (r - len(slots)) // target)
                )
                got = formula(r)
                assert got == want, (case, c, r, got, want)
                assert got % P == c % P

    run()


def test_cross_partition_bulk_batch_range_pruned(tmp_path, spark):
    """A batch above CROSS_POINT_KEY_CAP distinct keys takes the BULK
    state-read path (BETWEEN range predicates from the batch's key
    min/max instead of an IN list) and still moves keys exactly."""
    tp = _mk_xp(
        tmp_path, options={"dynamic-bucket.target-row-num": "500"}
    )
    n = 1100  # > CROSS_POINT_KEY_CAP = 1024
    write_lake_pk_append(
        tp,
        spark.range(n).select(
            F.col("id"),
            F.when(F.col("id") % 2 == 0, F.lit("even"))
            .otherwise(F.lit("odd"))
            .alias("seg"),
            F.concat(F.lit("a"), F.col("id")).alias("v"),
        ),
    )
    # bulk second commit: move every key to 'hot'
    write_lake_pk_append(
        tp,
        spark.range(n).select(
            F.col("id"),
            F.lit("hot").alias("seg"),
            F.concat(F.lit("m"), F.col("id")).alias("v"),
        ),
    )
    out = (
        PaimonLakeTable(tp).new_read_builder().new_read().to_pandas()
    )
    assert len(out) == n and out.id.duplicated().sum() == 0
    assert set(out.seg) == {"hot"} and out.v.str.startswith("m").all()


def test_streaming_sink_into_dynamic_and_cross_lakes(tmp_path, spark):
    """Structured Streaming micro-batches commit into dynamic-bucket
    and cross-partition lakes through the same sink — each batch is one
    write_lake_pk_append commit, so routing/index/retraction semantics
    hold under streaming ingest too."""
    from paimon_python_spark.session import set_spark
    from paimon_python_spark.streaming import StreamingLakeSink

    set_spark(spark)
    tp = _mk(tmp_path)
    write_lake_pk_append(
        tp, spark.createDataFrame([(1, "a"), (2, "b")], _schema())
    )
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    batch = spark.createDataFrame([(2, "B"), (3, "c")], _schema())
    batch.write.parquet(src)
    q = StreamingLakeSink(tp, stream_id="dyn1").attach(
        spark.readStream.schema(batch.schema).parquet(src),
        checkpoint=ckpt,
        trigger_once=True,
    )
    q.awaitTermination(120)
    assert _state(tp) == {1: "a", 2: "B", 3: "c"}
    assert sum(e["_ROW_COUNT"] for e in plan_paimon_hash_index(tp)) == 3

    xp = _mk_xp(tmp_path)
    write_lake_pk_append(
        xp, spark.createDataFrame([(1, "odd", "x")], _xp_schema())
    )
    src2, ckpt2 = str(tmp_path / "src2"), str(tmp_path / "ckpt2")
    mv = spark.createDataFrame([(1, "even", "moved")], _xp_schema())
    mv.write.parquet(src2)
    q2 = StreamingLakeSink(xp, stream_id="xp1").attach(
        spark.readStream.schema(mv.schema).parquet(src2),
        checkpoint=ckpt2,
        trigger_once=True,
    )
    q2.awaitTermination(120)
    assert _xp_state(xp) == {1: ("even", "moved")}


def test_cross_partition_update_moves_partition(tmp_path, spark):
    """UPDATE setting a partition column on a cross lake is a MOVE:
    the PK alone is the row's identity, so the write path retracts
    from the old partition and lands the +U in the new one."""
    from paimon_python_spark.paimon_lake import update_lake_rows
    from paimon_python_spark.predicate import PredicateBuilder

    tp = _mk_xp(tmp_path)
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [(i, "odd", f"a{i}") for i in range(6)], _xp_schema()
        ),
    )
    pb = PredicateBuilder(["id", "seg", "v"])
    update_lake_rows(tp, pb.less_than("id", 3), {"seg": "'hot'"})
    st = _xp_state(tp)
    assert len(st) == 6
    assert all(st[i][0] == "hot" for i in range(3))
    assert all(st[i] == ("odd", f"a{i}") for i in range(3, 6))
    # fixed/dynamic lakes still refuse partition-column updates
    tp2 = _mk(tmp_path)
    write_lake_pk_append(
        tp2, spark.createDataFrame([(1, "x")], _schema())
    )
    with pytest.raises(ValueError, match="cannot update key columns"):
        update_lake_rows(tp2, pb.less_than("id", 3), {"id": "id + 1"})


def test_cross_partition_merge_into(tmp_path, spark):
    """MERGE INTO a cross lake: a matched update that sets the
    partition column MOVES the key; unmatched source rows insert into
    their own partitions."""
    from paimon_python_spark.merge import merge_into_lake

    tp = _mk_xp(tmp_path)
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [(1, "odd", "x"), (2, "even", "y")], _xp_schema()
        ),
    )
    src = spark.createDataFrame(
        [(1, "hot", "merged"), (9, "new", "fresh")], _xp_schema()
    )
    merge_into_lake(
        tp,
        src,
        on=["id"],
        matched_update={"seg": "src.seg", "v": "src.v"},
    )
    assert _xp_state(tp) == {
        1: ("hot", "merged"),
        2: ("even", "y"),
        9: ("new", "fresh"),
    }


def test_indexes_system_table(tmp_path, spark):
    """$indexes system view: live HASH entries (and DVs when present)
    with partition/bucket/file/row_count columns."""
    tp = _mk_xp(tmp_path)
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [(i, "odd" if i % 2 else "even", f"a{i}") for i in range(8)],
            _xp_schema(),
        ),
    )
    idx = PaimonLakeTable(tp).indexes().toPandas()
    assert set(idx.index_type) == {"HASH"}
    assert idx.row_count.sum() == 8
    assert {p["seg"] for p in idx.partition} == {"odd", "even"}
    for _, r in idx.iterrows():
        h = read_hash_index_file(os.path.join(tp, "index", r.file_name))
        assert len(h) == r.row_count and r.file_size == 4 * r.row_count


def test_cross_partition_stale_partition_delete(tmp_path, spark):
    """A -D row naming the key's OLD (stale) partition still deletes
    the moved key: the router's state join finds the true location and
    the retraction lands there; the stale-located -D is a no-op."""
    tp = _mk_xp(tmp_path)
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [(5, "odd", "x"), (6, "even", "y")], _xp_schema()
        ),
    )
    write_lake_pk_append(
        tp, spark.createDataFrame([(5, "hot", "moved")], _xp_schema())
    )
    d = spark.createDataFrame([(5, "odd", None)], _xp_schema()).withColumn(
        "__kind", F.lit(3)
    )
    write_lake_pk_append(tp, d, row_kind_col="__kind")
    assert _xp_state(tp) == {6: ("even", "y")}


def test_dynamic_avro_format_lake(tmp_path, spark):
    """file.format=avro + 'bucket' = '-1': the hash-index routing is
    format-agnostic — data files write through the engine's avro codec
    while index files keep the spec int32 payload."""
    tp = _mk(tmp_path, options={"file.format": "avro"})
    write_lake_pk_append(
        tp, spark.createDataFrame([(i, f"a{i}") for i in range(12)], _schema())
    )
    write_lake_pk_append(
        tp, spark.createDataFrame([(3, "u"), (20, "n")], _schema())
    )
    st = _state(tp)
    assert len(st) == 13 and st[3] == "u" and st[20] == "n"
    assert sum(e["_ROW_COUNT"] for e in plan_paimon_hash_index(tp)) == 13
    import glob

    assert glob.glob(os.path.join(tp, "bucket-*", "*.avro")) or glob.glob(
        os.path.join(tp, "**", "bucket-*", "*.avro"), recursive=True
    )


def test_cross_lookup_one_ranking_no_double_pin(tmp_path, spark):
    """CROSS_PARTITION + changelog-producer=lookup: the data write and
    the lookup-changelog write must see ONE new-key ranking. A batch
    row producing no changelog row (a -D of an absent key) is in the
    router's ranking but not the changelog's — before the fix the two
    assigners ranked different sets, a rank shift crossed a
    capacity-segment boundary, and one hashcode was pinned in TWO
    buckets of a partition (later index joins match both → row
    multiplication). Asserts the one-hash-one-bucket invariant and an
    exact merged state after a follow-up update."""
    from paimon_python_spark.paimon_import import (
        HASH_INDEX,
        decode_binary_row,
        encode_binary_row,
        live_index_entries,
        murmur_hash_words,
    )

    def h(k):
        return murmur_hash_words(encode_binary_row([k], [T.IntegerType()])[4:])

    # absent-delete key whose hash sorts FIRST among the batch's new
    # keys: shifts every fresh key's router rank by one vs the
    # changelog's own ranking
    cands = sorted(range(20, 200), key=h)
    dk, fresh = cands[0], cands[1:4]
    tp = str(tmp_path / "db.db" / "xlook")
    create_lake_table(
        tp,
        [("dt", "STRING NOT NULL"), ("k", "INT NOT NULL"), ("v", "STRING")],
        partition_keys=["dt"],
        primary_keys=["k"],
        options={
            "bucket": "-1",
            "changelog-producer": "lookup",
            "dynamic-bucket.target-row-num": "2",
        },
    )
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [("a", k, "s") for k in (10, 11, 12, 13)],
            "dt string, k int, v string",
        ),
    )
    rows = [("a", dk, None, 3)] + [("a", k, "x", 0) for k in fresh]
    write_lake_pk_append(
        tp,
        spark.createDataFrame(rows, "dt string, k int, v string, kind int"),
        row_kind_col="kind",
    )
    part_types = [T.StringType()]
    seen = {}
    for e in live_index_entries(tp):
        if e.get("_INDEX_TYPE") != HASH_INDEX:
            continue
        pv = tuple(decode_binary_row(bytes(e["_PARTITION"]), part_types))
        for hh in read_hash_index_file(
            os.path.join(tp, "index", e["_FILE_NAME"])
        ):
            key = (pv, int(hh))
            assert seen.get(key, e["_BUCKET"]) == e["_BUCKET"], (
                f"hash {key} pinned in buckets {seen[key]} and {e['_BUCKET']}"
            )
            seen[key] = e["_BUCKET"]
    # follow-up update of the affected keys must not multiply rows
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [("a", k, "y") for k in fresh], "dt string, k int, v string"
        ),
    )
    got = sorted(
        (r.k, r.v)
        for r in PaimonLakeTable(tp)
        .new_read_builder()
        .new_read()
        .to_df()
        .collect()
    )
    assert got == sorted(
        [(k, "s") for k in (10, 11, 12, 13)] + [(k, "y") for k in fresh]
    )


def test_dv_index_manifest_applies_pending_hash(tmp_path, spark):
    """A lake commit carrying DV marks AND staged dynamic-bucket
    assignments (a compaction's rewrite) must apply the staged metas,
    not carry the old HASH entries verbatim — dropping them would
    discard a scoped compaction's re-route / self-heal and leave the
    lake's routing stale while the commit claims success."""
    from paimon_python_spark.avro_codec import read_avro_records
    from paimon_python_spark.dynamic_bucket import write_hash_index_file
    from paimon_python_spark.paimon_import import (
        DELETION_VECTORS_INDEX,
        HASH_INDEX,
        live_index_entries,
        read_paimon_snapshot,
    )
    from paimon_python_spark.paimon_lake import (
        _commit_lake_snapshot,
        read_paimon_schema,
    )

    tp = _mk(tmp_path)
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [(i, "x") for i in range(25)], schema=_schema()
        ),
    )
    info = read_paimon_schema(tp)
    before = {
        int(e["_BUCKET"]): e["_FILE_NAME"]
        for e in live_index_entries(tp)
        if e.get("_INDEX_TYPE") == HASH_INDEX
    }
    assert len(before) >= 2  # target-row-num=10 → ≥3 buckets for 25 keys
    # stage a replacement for bucket 0 (a compact rewrite's meta)
    os.makedirs(os.path.join(tp, "index"), exist_ok=True)
    size = write_hash_index_file(
        os.path.join(tp, "index", "index-selfheal-0"), [1, 2, 3]
    )
    pending = [
        {
            "part_json": "{}",
            "part_values": [],
            "bucket": 0,
            "file": "index-selfheal-0",
            "size": size,
            "rows": 3,
        }
    ]
    files = plan_paimon_files(tp)
    sid = _commit_lake_snapshot(
        tp, info, [], 0, dv_marks={files[0].file_name: [0]}, hash_index=pending
    )
    im = read_paimon_snapshot(tp, sid)["indexManifest"]
    with open(os.path.join(tp, "manifest", im), "rb") as f:
        _, entries = read_avro_records(f.read())
    hash_by_bucket = {
        int(e["_BUCKET"]): e["_FILE_NAME"]
        for e in entries
        if e.get("_INDEX_TYPE") == HASH_INDEX
    }
    # pending replaced bucket 0; the other buckets carried forward
    assert hash_by_bucket[0] == "index-selfheal-0"
    for b, name in before.items():
        if b != 0:
            assert hash_by_bucket[b] == name
    assert any(
        e.get("_INDEX_TYPE") == DELETION_VECTORS_INDEX for e in entries
    )


def test_cross_location_cache_amortizes_streaming_state_reads(tmp_path, spark):
    """A streaming run into a CROSS_PARTITION lake must pay the merged
    state read ONCE (the bootstrap real Paimon's GlobalIndexAssigner
    also pays) and maintain the (pk → partition) projection from each
    commit's own net batch: N micro-batches → 1 bootstrap. Moves and
    deletes stay exact across the cached batches, and a FOREIGN commit
    between batches invalidates the cache (snapshot-id keying) instead
    of routing against stale locations."""
    from paimon_python_spark.dynamic_bucket import CrossLocationCache
    from paimon_python_spark.paimon_import import read_paimon_schema

    tp = _mk_xp(tmp_path, name="xpcache")
    write_lake_pk_append(
        tp,
        spark.createDataFrame(
            [(i, "odd" if i % 2 else "even", f"a{i}") for i in range(10)],
            _xp_schema(),
        ),
    )
    info = read_paimon_schema(tp)
    cache = CrossLocationCache(tp)
    # batch 1: move key 1 odd→even; batch 2: delete key 2, update key 1
    # in place; batch 3: fresh key 100 + move key 1 back
    batches = [
        [(1, "even", "m1", 0)],
        [(2, "even", None, 3), (1, "even", "m2", 0)],
        [(100, "odd", "new", 0), (1, "odd", "back", 0)],
    ]
    for rows in batches:
        write_lake_pk_append(
            tp,
            spark.createDataFrame(rows, "id long, seg string, v string, k int"),
            row_kind_col="k",
            xp_location_cache=cache,
        )
    assert cache.bootstraps == 1, "state read must run once, not per batch"
    want = {
        i: ("odd" if i % 2 else "even", f"a{i}") for i in range(10) if i > 2
    }
    want[0] = ("even", "a0")
    want[1] = ("odd", "back")
    want[100] = ("odd", "new")
    assert _xp_state(tp) == want
    # the cache's projection IS the merged state's (pk → partition)
    got_proj = {
        r["id"]: r["seg"] for r in cache.locations(info).collect()
    }
    assert got_proj == {k: seg for k, (seg, _) in want.items()}
    assert cache.bootstraps == 1  # the check above reused the cache too

    # a FOREIGN commit (no cache) stales the snapshot id → re-bootstrap
    write_lake_pk_append(
        tp, spark.createDataFrame([(200, "even", "f")], _xp_schema())
    )
    write_lake_pk_append(
        tp,
        spark.createDataFrame([(200, "odd", "f2", 0)], "id long, seg string, v string, k int"),
        row_kind_col="k",
        xp_location_cache=cache,
    )
    assert cache.bootstraps == 2
    st = _xp_state(tp)
    assert st[200] == ("odd", "f2")


def test_cross_overlap_pk_partition_lookup_and_cache(tmp_path, spark):
    """pk ∩ partition OVERLAP is legal in cross mode (partitions ⊄ pk):
    the lookup-changelog routing join and the CrossLocationCache must
    dedup the shared column or every select turns ambiguous. Also
    asserts the cache DROPS when a commit is not the immediate
    successor of its cached snapshot (a foreign commit interleaved
    inside the batch window — its moves are invisible to the net
    batch, so absorbing it would leave the projection stale)."""
    from paimon_python_spark.dynamic_bucket import CrossLocationCache
    from paimon_python_spark.paimon_import import read_paimon_schema

    tp = str(tmp_path / "db.db" / "xpoverlap")
    create_lake_table(
        tp,
        [
            ("region", "STRING NOT NULL"),
            ("day", "STRING NOT NULL"),
            ("id", "BIGINT NOT NULL"),
            ("v", "STRING"),
        ],
        partition_keys=["region", "day"],
        primary_keys=["region", "id"],
        options={
            "bucket": "-1",
            "changelog-producer": "lookup",
            "dynamic-bucket.target-row-num": "10",
        },
    )
    info = read_paimon_schema(tp)
    cache = CrossLocationCache(tp)
    sch = "region string, day string, id long, v string"
    write_lake_pk_append(
        tp,
        spark.createDataFrame([("eu", "d1", 1, "a"), ("eu", "d1", 2, "b")], sch),
        xp_location_cache=cache,
    )
    # key 2 moves d1 → d2 (same region: the overlap column is in both
    # the join keys and the partition); lookup changelog derives pairs
    write_lake_pk_append(
        tp,
        spark.createDataFrame([("eu", "d2", 2, "B")], sch),
        xp_location_cache=cache,
    )
    got = {
        (r.region, r.id): (r.day, r.v)
        for r in PaimonLakeTable(tp).new_read_builder().new_read().to_df().collect()
    }
    assert got == {("eu", 1): ("d1", "a"), ("eu", 2): ("d2", "B")}
    proj = {
        (r["region"], r["id"]): r["day"]
        for r in cache.locations(info).collect()
    }
    assert proj == {("eu", 1): "d1", ("eu", 2): "d2"}

    # non-successor commit id → the cache must DROP, not absorb
    sid = cache.snapshot_id
    cache.snapshot_id = sid - 1  # simulate a foreign commit in the window
    net = spark.createDataFrame(
        [("eu", "d1", 3, "c", 0)], sch + ", __kind int"
    )
    cache.update(info, net, sid + 1)
    assert cache.df is None and cache.snapshot_id is None
