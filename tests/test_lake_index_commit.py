"""The lake commit owns the index manifest: every CAS attempt builds the
next deletion-vector / HASH index against the head it publishes on, and
a commit that changes no index state reads no index file."""

import pytest
from pyspark.sql import functions as F

from paimon_python_spark import paimon_import
from paimon_python_spark.paimon_lake import (
    PaimonLakeTable,
    compact_lake,
    compact_lake_auto,
    create_lake_table,
    delete_lake_rows,
    write_lake_append,
    write_lake_pk_append,
)


def _keys(tp):
    return sorted(
        r.k for r in PaimonLakeTable(tp).new_read_builder().new_read().to_df().collect()
    )


def test_racing_deletes_keep_both_marks(tmp_path, spark, racing_commit):
    """Two DV deletes planned on the same snapshot of a 100-row append
    lake: ``k < 10`` wins the race for snapshot 2, ``k >= 90`` retries.
    The retry must publish the winner's marks with its own; republishing
    the index it built before the race brought the winner's 10 deleted
    rows back (90 rows left, not 80)."""
    tp = str(tmp_path / "db.db" / "race")
    create_lake_table(tp, [("k", "INT NOT NULL"), ("v", "STRING")])
    write_lake_append(
        tp, spark.range(100).select(F.col("id").cast("int").alias("k"), F.lit("x").alias("v"))
    )
    pb = PaimonLakeTable(tp).new_read_builder().new_predicate_builder()
    won = []
    racing_commit(tp, lambda: won.append(delete_lake_rows(tp, pb.less_than("k", 10))))
    lost = delete_lake_rows(tp, pb.greater_or_equal("k", 90))
    assert (won, lost) == ([2], 3)
    assert _keys(tp) == list(range(10, 90))


def test_commits_without_index_state_read_no_index(tmp_path, spark, monkeypatch):
    """On a fixed-bucket PK lake with no DV marks (the shape of the
    benchmark's upsert and lookup lakes), an upsert, a triggered
    compaction and a full compaction open no index manifest and decode
    no deletion vector."""
    tp = str(tmp_path / "db.db" / "fixed")
    create_lake_table(
        tp,
        [("k", "INT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "2", "num-sorted-run.compaction-trigger": "2"},
    )

    def upsert(tag, n):
        write_lake_pk_append(
            tp, spark.createDataFrame([(k, tag) for k in range(n)], "k int, v string")
        )

    upsert("a", 20)

    def no_index_read(*_a, **_k):
        raise AssertionError("index metadata read on a lake without index state")

    monkeypatch.setattr(paimon_import, "live_index_entries", no_index_read)
    monkeypatch.setattr(paimon_import, "read_dv_index_entry", no_index_read)
    upsert("b", 10)
    assert compact_lake_auto(tp) is not None
    upsert("c", 5)
    compact_lake(tp)
    snap = paimon_import.read_paimon_snapshot(tp)
    assert snap["indexManifest"] is None
    got = {
        r.k: r.v for r in PaimonLakeTable(tp).new_read_builder().new_read().to_df().collect()
    }
    assert got == {k: "c" if k < 5 else "b" if k < 10 else "a" for k in range(20)}


def test_delete_racing_a_compaction_fails(tmp_path, spark, racing_commit):
    """A DV delete whose marked file a concurrent compaction rewrote
    cannot commit its marks: the rows live on in the compaction's output.
    The retry raises instead of publishing marks on a file that is gone
    (which silently lost the delete)."""
    from paimon_python_spark.metadata import SnapshotConflictError

    tp = str(tmp_path / "db.db" / "race_compact")
    create_lake_table(tp, [("k", "INT NOT NULL"), ("v", "STRING")])
    for lo in (0, 50):
        write_lake_append(
            tp,
            spark.range(lo, lo + 50).select(
                F.col("id").cast("int").alias("k"), F.lit("x").alias("v")
            ),
        )
    pb = PaimonLakeTable(tp).new_read_builder().new_predicate_builder()
    racing_commit(tp, lambda: compact_lake(tp))
    with pytest.raises(SnapshotConflictError, match="no longer live"):
        delete_lake_rows(tp, pb.greater_or_equal("k", 90))
    assert _keys(tp) == list(range(100))
