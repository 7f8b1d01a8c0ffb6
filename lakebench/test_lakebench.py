"""Self-tests of the benchmark's own parts, at tiny sizes.

    python3 -m pytest lakebench -q

They pin what the benchmark's verdicts rest on: a seed fixes the
inputs, the oracle's merge is the Paimon merge (max sequence per key
wins, a winning -D removes the key, a later write re-inserts it), and
the tail, span and directory-diff arithmetic.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from lakebench import gen, oracle
from lakebench.run import tail
from lakebench.trace import Tracer, dir_diff


# -- generation ----------------------------------------------------------------
def _stream(seed: int, n: int = 3):
    rng = np.random.default_rng(seed)
    zipf = gen.Zipf(rng, 1_000)
    return [gen.cdc_batch(rng, zipf, 1_000 + 200 * i, 1_000) for i in range(n)]


def test_same_seed_gives_identical_batches():
    for a, b in zip(_stream(7), _stream(7)):
        pd.testing.assert_frame_equal(a, b)


def test_other_seed_gives_other_batches():
    assert not _stream(7)[0].equals(_stream(8)[0])


def test_cdc_batch_shape():
    batch = _stream(3, 1)[0]
    assert batch["k"].is_unique
    kinds = batch["kind"].value_counts()
    assert set(kinds.index) == {gen.INSERT, gen.UPDATE, gen.DELETE}
    assert kinds[gen.INSERT] == 200  # a fifth of the batch is new keys
    assert (batch[batch["kind"] == gen.INSERT]["k"] >= 1_000).all()
    assert (batch[batch["kind"] != gen.INSERT]["k"] < 1_000).all()
    assert (batch["dt"] == gen.dt_of(batch["k"].to_numpy())).all()
    assert batch["v"].between(0, gen.V_RANGE - 1).all()


def test_logical_bytes_counts_bigints_and_utf8():
    pdf = pd.DataFrame({"dt": ["2026-10-01"], "k": [1], "v": [2], "s": ["abc"], "kind": [0]})
    assert gen.logical_bytes(pdf) == 16 + 10 + 3


# -- oracle --------------------------------------------------------------------
@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[1]")
        .appName("lakebench-selftest")
        .config("spark.sql.shuffle.partitions", "1")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    yield s
    s.stop()


def _rows(spec):
    """``[(k, v, s, kind)]`` -> a generated-style batch."""
    keys = np.array([r[0] for r in spec], dtype=np.int64)
    return pd.DataFrame(
        {
            "dt": gen.dt_of(keys),
            "k": keys,
            "v": np.array([r[1] for r in spec], dtype=np.int64),
            "s": [r[2] for r in spec],
            "kind": np.array([r[3] for r in spec], dtype=np.int32),
        }
    )


I, U, D = gen.INSERT, gen.UPDATE, gen.DELETE
LOG = [
    (0, _rows([(1, 10, "a", I), (2, 20, "b", I), (3, 30, "c", I)])),
    (1, _rows([(1, 11, "a1", U), (2, 0, "", D)])),  # update k1, delete k2
    (2, _rows([(2, 22, "b2", I), (3, 0, "", D)])),  # re-insert k2, delete k3
]


def _as_tuples(rows):
    return sorted((r["dt"], r["k"], r["v"], r["s"]) for r in rows)


def test_merged_state_matches_hand_merge(spark):
    log = oracle.log_df(spark, LOG)
    got = _as_tuples(oracle.merged_state(log).collect())
    dt = lambda k: gen.dt_of([k])[0]  # noqa: E731
    assert got == [(dt(1), 1, 11, "a1"), (dt(2), 2, 22, "b2")]
    assert _as_tuples(oracle.merged_state(log, upto_seq=1).collect()) == [
        (dt(1), 1, 11, "a1"),
        (dt(3), 3, 30, "c"),
    ]


def test_state_summary_checksums_the_hand_merge(spark):
    want = pd.DataFrame(
        {"dt": gen.dt_of([1, 2]), "k": [1, 2], "v": [11, 22], "s": ["a1", "b2"]}
    )
    want_df = spark.createDataFrame(want, oracle.TABLE_SCHEMA)
    summary = oracle.state_summary(oracle.merged_state(oracle.log_df(spark, LOG)))
    assert summary["full"] == oracle.checksum(want_df)
    assert summary["full"][0] == 2
    # v < 100 keeps both rows; the filtered checksum covers (k, v) only
    assert summary["filtered"] == oracle.checksum(want_df.select("k", "v"))
    assert summary["logical_bytes"] == gen.logical_bytes(want)


def test_checksum_tells_rows_apart(spark):
    a = spark.createDataFrame([("x", 1, 2, "s")], oracle.TABLE_SCHEMA)
    b = spark.createDataFrame([("x", 1, 3, "s")], oracle.TABLE_SCHEMA)
    assert oracle.checksum(a) != oracle.checksum(b)


def test_expected_lookups_follow_the_log(spark):
    log = oracle.log_df(spark, LOG)
    got = oracle.expected_lookups(
        spark, log, [(0, 2, 0), (1, 2, 1), (2, 2, 2), (3, 3, 2), (4, 9, 2)]
    )
    dt2 = gen.dt_of([2])[0]
    assert got == {
        0: (dt2, 2, 20, "b"),
        1: None,  # deleted at seq 1
        2: (dt2, 2, 22, "b2"),  # re-inserted at seq 2
        3: None,
        4: None,  # never written
    }


def test_spark_rows_are_seeded(spark):
    def rows(seed):
        return _as_tuples(gen.spark_rows(spark, seed, 0, 50, gen.INSERT).collect())

    assert rows(5) == rows(5)
    assert rows(5) != rows(6)
    share = gen.spark_rows(spark, 5, 1, 1_000, gen.UPDATE, gen.key_slots(5, 1, 10, 0, 3))
    assert 200 < share.count() < 400


# -- measurement arithmetic -------------------------------------------------------
def test_tail_has_ten_samples_beyond_it():
    label, value = tail([float(x) for x in range(1, 101)])
    assert (label, value) == ("p90", 90.0)
    assert sum(x > value for x in range(1, 101)) == 10
    # with 20 samples or fewer no percentile above the median has ten
    # beyond it: the tail is the median
    assert tail([3.0, 1.0, 2.0]) == ("p50", 2.0)
    assert tail([float(x) for x in range(1, 13)]) == ("p50", 6.5)
    assert tail([float(x) for x in range(1, 22)]) == ("p52", 11.0)


def test_self_time_subtracts_children():
    t = Tracer(True)
    t.spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 5.0, "end": 7.0},
    ]
    assert t.self_times() == {0: 5.0, 1: 3.0, 2: 2.0}


def test_dir_diff_counts_created_and_deleted():
    before = {"snapshot/snapshot-1": 10, "dt=a/bucket-0/data-1.parquet": 100}
    after = {
        "snapshot/snapshot-1": 10,
        "snapshot/snapshot-2": 12,
        "dt=a/bucket-0/data-2.parquet": 80,
    }
    assert dir_diff(before, after) == {
        "files_created": 2,
        "bytes_created": 92,
        "data_files_created": 1,
        "data_bytes_created": 80,
        "files_deleted": 1,
    }
