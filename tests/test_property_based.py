"""Property-based tests (hypothesis): the invariants that must hold for
ANY data, not just the fixtures.

The reference has no property tests (SURVEY §5); these guard the parts
where a subtle bug would silently corrupt results — predicate semantics
(3-valued NULL logic), PK merge (last-write-wins with deletes), and the
write→read round trip.
"""

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from paimon_python_spark import Schema

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# small int/None values exercise NULL logic and duplicate keys heavily
VALS = st.lists(
    st.one_of(st.none(), st.integers(min_value=-3, max_value=3)),
    min_size=0,
    max_size=12,
)


_COUNTER = iter(range(10**9))


def _table(catalog, prefix, pk=None):
    schema = pa.schema([("k", pa.int64()), ("v", pa.int64())])
    opts = {"bucket": "2"} if pk else {}
    name = f"{prefix}_{next(_COUNTER)}"
    catalog.create_table(
        f"default.{name}", Schema(schema, primary_keys=pk, options=opts), False
    )
    return catalog.get_table(f"default.{name}")


def _write(table, df):
    wb = table.new_batch_write_builder()
    w, c = wb.new_write(), wb.new_commit()
    w.write_pandas(df)
    c.commit(w.prepare_commit())
    w.close()
    c.close()


@given(vals=VALS)
@settings(**SETTINGS)
def test_not_equal_drops_nulls(catalog_pb, vals):
    """not_equal must use SQL 3-valued logic: NULL != x is not TRUE
    (test_pynative_reader.py:140-153)."""
    t = _table(catalog_pb, "ne")
    df = pd.DataFrame({"k": range(len(vals)), "v": pd.array(vals, dtype="Int64")})
    _write(t, df)
    pb = t.new_read_builder().new_predicate_builder()
    rb = t.new_read_builder().with_filter(pb.not_equal("v", 1))
    got = sorted(rb.new_read().to_pandas()["k"].tolist())
    expected = [i for i, v in enumerate(vals) if v is not None and v != 1]
    assert got == expected


@given(vals=VALS)
@settings(**SETTINGS)
def test_is_null_partitions_rows(catalog_pb, vals):
    """is_null + is_not_null exactly partition the rows."""
    t = _table(catalog_pb, "nl")
    df = pd.DataFrame({"k": range(len(vals)), "v": pd.array(vals, dtype="Int64")})
    _write(t, df)
    pb = t.new_read_builder().new_predicate_builder()
    rb_null = t.new_read_builder().with_filter(pb.is_null("v"))
    rb_not = t.new_read_builder().with_filter(pb.is_not_null("v"))
    got_null = sorted(rb_null.new_read().to_pandas()["k"].tolist())
    got_not = sorted(rb_not.new_read().to_pandas()["k"].tolist())
    assert got_null == [i for i, v in enumerate(vals) if v is None]
    assert got_not == [i for i, v in enumerate(vals) if v is not None]
    assert len(got_null) + len(got_not) == len(vals)


@given(
    commits=st.lists(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=4),
                st.integers(min_value=-100, max_value=100),
            ),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=4,
    )
)
@settings(**SETTINGS)
def test_pk_merge_is_last_write_wins(catalog_pb, commits):
    """For any commit sequence, the merged table equals a dict built by
    replaying all rows in order — per key, the last write wins."""
    t = _table(catalog_pb, "lww", pk=["k"])
    expected: dict[int, int] = {}
    for commit in commits:
        _write(t, pd.DataFrame({"k": [k for k, _ in commit], "v": [v for _, v in commit]}))
        for k, v in commit:
            expected[k] = v
    out = t.new_read_builder().new_read().to_pandas()
    got = dict(zip(out["k"].tolist(), out["v"].tolist()))
    assert got == expected


@given(vals=st.lists(st.integers(min_value=-5, max_value=5), min_size=0, max_size=10))
@settings(**SETTINGS)
def test_between_matches_python_slice(catalog_pb, vals):
    """between is both-ends-inclusive (predicate.py:29-95 contract)."""
    t = _table(catalog_pb, "bt")
    _write(t, pd.DataFrame({"k": range(len(vals)), "v": vals}))
    pb = t.new_read_builder().new_predicate_builder()
    rb = t.new_read_builder().with_filter(pb.between("v", -2, 2))
    got = sorted(rb.new_read().to_pandas()["k"].tolist())
    assert got == [i for i, v in enumerate(vals) if -2 <= v <= 2]


@pytest.fixture(scope="module")
def catalog_pb(tmp_path_factory):
    """Module-scoped catalog: hypothesis re-runs the test body many
    times; a fresh warehouse per example would leak fixtures."""
    import shutil

    from paimon_python_spark import Catalog
    from paimon_python_spark.session import configure_builder, set_spark
    from pyspark.sql import SparkSession

    spark = configure_builder(
        SparkSession.builder.master("local[4]").appName("paimon_python_spark_tests"),
        shuffle_partitions=4,
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    set_spark(spark)
    path = str(tmp_path_factory.mktemp("pps_prop_wh"))
    cat = Catalog.create({"warehouse": path})
    cat.create_database("default", True)
    yield cat
    shutil.rmtree(path, ignore_errors=True)


# ---- round-3 pipeline-operator invariants ----


@given(
    toks=st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=20),
    budget=st.integers(min_value=1, max_value=300),
)
@settings(**SETTINGS)
def test_pack_concat_chunks_stream_invariants(spark, toks, budget):
    """Packing invariants for ANY stream: offsets are the exclusive
    prefix sum, chunk ranges are contiguous and non-overlapping in
    token space, and every doc's span covers exactly its tokens."""
    from paimon_python_spark.operators import pack_concat_chunks

    rows = [(i, "s", t) for i, t in enumerate(toks)]
    df = spark.createDataFrame(rows, "id long, stream string, toks int")
    out = sorted(
        pack_concat_chunks(df, "id", "toks", budget, "stream").collect(),
        key=lambda r: r.id,
    )
    offset = 0
    for r in out:
        assert r.offset == offset
        assert r.first_chunk == r.offset // budget
        assert r.last_chunk == (r.offset + r.n_tokens - 1) // budget
        assert r.n_chunks_spanned == r.last_chunk - r.first_chunk + 1
        offset += r.n_tokens


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10**6), min_size=1, max_size=30, unique=True),
    rate_pct=st.integers(min_value=0, max_value=100),
)
@settings(**SETTINGS)
def test_weighted_mix_sample_is_pure_per_row(spark, ids, rate_pct):
    """A row's keep decision depends only on (id, its group's rate):
    invariant under repartitioning and under adding other rows."""
    from paimon_python_spark.operators import weighted_mix_sample

    rate = rate_pct / 100.0
    df = spark.createDataFrame([(i, "g") for i in ids], "id long, grp string")
    keep1 = {
        r.id: r.keep
        for r in weighted_mix_sample(df, "id", "grp", {"g": rate}).collect()
    }
    extra = spark.createDataFrame(
        [(i, "g") for i in ids] + [(10**7 + 1, "other")], "id long, grp string"
    ).repartition(5)
    keep2 = {
        r.id: r.keep
        for r in weighted_mix_sample(extra, "id", "grp", {"g": rate}).collect()
        if r.id in keep1
    }
    assert keep1 == keep2
    if rate_pct == 0:
        assert not any(keep1.values())
    if rate_pct == 100:
        assert all(keep1.values())


@given(
    words=st.lists(
        st.sampled_from(["aa", "bb", "cc", "dd", "ee"]), min_size=1, max_size=30
    )
)
@settings(**SETTINGS)
def test_unigram_surprisal_bounds(spark, words):
    """Surprisal per word is in [0, floor(log2 N)]; a single-doc corpus
    containing one repeated word scores exactly 0."""
    from paimon_python_spark.functions import unigram_surprisal

    df = spark.createDataFrame([(1, " ".join(words))], "doc_id long, text string")
    r = unigram_surprisal(df, "doc_id", "text").collect()[0]
    n = len(words)
    assert r.n_words == n
    assert 0 <= r.total_surprisal <= n * max(0, n.bit_length() - 1)
    if len(set(words)) == 1:
        assert r.total_surprisal == 0


@given(
    vals=st.lists(st.integers(min_value=-50, max_value=50), min_size=1, max_size=40),
    tiles=st.integers(min_value=1, max_value=7),
    buckets=st.integers(min_value=2, max_value=6),
)
@settings(**SETTINGS)
def test_scalable_rank_matches_window_property(spark, vals, tiles, buckets):
    """For ANY value multiset, bucket count, and tile count, the
    distributed scalable_rank must agree exactly with Spark's own
    single-partition window functions (tie-free order via the unique
    id tiebreak)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from paimon_python_spark.operators.ranking import scalable_rank

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long")
    w = W.orderBy("v", "id")
    want = {
        r.id: (r.rn, r.pr, r.cd, r.q)
        for r in df.select(
            "id",
            F.row_number().over(w).alias("rn"),
            F.percent_rank().over(w).alias("pr"),
            F.cume_dist().over(w).alias("cd"),
            F.ntile(tiles).over(w).alias("q"),
        ).collect()
    }
    got = {
        r.id: (r.rn, r.pr, r.cd, r.q)
        for r in scalable_rank(
            df,
            ["v", "id"],
            num_buckets=buckets,
            row_number_col="rn",
            percent_rank_col="pr",
            cume_dist_col="cd",
            ntile=tiles,
            ntile_col="q",
        ).collect()
    }
    assert got == want


#: every bucket-key type encode_binary_row accepts, with a value strategy
_KEY_TYPES = [
    (T.ByteType(), st.integers(min_value=-(2**7), max_value=2**7 - 1)),
    (T.ShortType(), st.integers(min_value=-(2**15), max_value=2**15 - 1)),
    (T.IntegerType(), st.integers(min_value=-(2**31), max_value=2**31 - 1)),
    (T.LongType(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
    (T.BooleanType(), st.booleans()),
    (T.FloatType(), st.floats(allow_nan=False, width=32)),
    (T.DoubleType(), st.floats(allow_nan=False)),
    (T.StringType(), st.text(max_size=30)),
    (T.BinaryType(), st.binary(max_size=30)),
    (T.DateType(), st.dates()),
]


def _key_column(vals, dt, typed):
    """A bucket-key column as the routers receive it: object dtype, or
    the typed pandas form of its arrow conversion (a pandas UDF's
    input)."""
    from paimon_python_spark.types import spark_type_to_pa

    if not typed:
        return pd.Series(vals, dtype="object")
    if isinstance(dt, T.LongType) and None in vals:
        # arrow's NULL-able int64 → float64 would round longs past 2^53
        return pd.Series(vals, dtype="Int64")
    return pa.array(vals, spark_type_to_pa(dt)).to_pandas()


@given(
    rows=st.lists(
        st.tuples(*[st.one_of(st.none(), v) for _, v in _KEY_TYPES]),
        min_size=1,
        max_size=100,
    ),
    nb=st.sampled_from([1, 2, 8, 16, 97]),
    typed=st.booleans(),
)
@settings(**SETTINGS)
def test_vectorized_bucket_matches_scalar_oracle(spark, rows, nb, typed):
    """The numpy-vectorized lake bucket router must agree with the
    scalar spec implementation (fixed_bucket over encode_binary_row)
    for ANY key values of EVERY key type it accepts — each type alone
    and all of them as one composite key, as object-dtype and typed
    columns, with NULLs, negatives, unicode strings and binaries of
    every inline/var length, and dates outside the datetime64[ns] range
    — so a vectorization bug can never route a row to the wrong bucket
    (there is no scalar fallback behind it). The JVM expression router
    must agree on the float and double keys too (signed zeros,
    infinities, subnormals)."""
    from pyspark.sql import functions as F

    from paimon_python_spark.paimon_import import (
        binary_row_bucket_expr,
        fixed_bucket,
        logical_value,
    )
    from paimon_python_spark.paimon_lake import _vectorized_fixed_buckets

    types = [dt for dt, _ in _KEY_TYPES]
    cols = [
        _key_column([r[i] for r in rows], dt, typed) for i, dt in enumerate(types)
    ]

    def oracle(key_rows, key_types):
        return [
            fixed_bucket(
                [
                    None if v is None else logical_value(v, dt)
                    for v, dt in zip(r, key_types)
                ],
                key_types,
                nb,
            )
            for r in key_rows
        ]

    for i, dt in enumerate(types):
        got = list(_vectorized_fixed_buckets((cols[i],), [dt], nb))
        assert got == oracle([(r[i],) for r in rows], [dt]), dt
    got = list(_vectorized_fixed_buckets(tuple(cols), types, nb))
    assert got == oracle(rows, types)
    for i, dt in enumerate(types):
        if not isinstance(dt, (T.FloatType, T.DoubleType)):
            continue
        df = spark.createDataFrame(
            [(r[i],) for r in rows], T.StructType([T.StructField("c0", dt)])
        )
        bx = binary_row_bucket_expr(["c0"], [dt], nb)
        got = [x.b for x in df.select(F.expr(bx).alias("b")).collect()]
        assert got == oracle([(r[i],) for r in rows], [dt]), dt


@given(
    values=st.lists(
        st.one_of(
            st.integers(min_value=-(2**40), max_value=2**40),
            st.text(max_size=40),
            st.floats(allow_nan=False, allow_infinity=False, width=32),
            st.booleans(),
        ),
        min_size=1,
        max_size=300,
    ),
)
@settings(**SETTINGS)
def test_bloom_never_false_negative(values):
    """A bloom index may only PRUNE: every value that went into the
    bitmap must probe positive (a false negative would silently drop
    matching files from a plan), for any mix of value types."""
    from paimon_python_spark.bloom import build_hex
    from paimon_python_spark.predicate import PredicateBuilder

    hx = build_hex(values)
    assert hx is not None
    st_ = {"u": {"min": None, "max": None, "null_count": 0,
                 "row_count": len(values), "bloom": hx}}
    pb = PredicateBuilder(["u"])
    for v in values:
        assert pb.equal("u", v).test_by_stats(st_) is True
    assert pb.is_in("u", list(values)[:5]).test_by_stats(st_) is True


def test_bucket_router_has_no_scalar_fallback(monkeypatch, tmp_path):
    """The in-task router is the vectorized encoder alone: it routes
    like the scalar spec oracle, refuses a key type it cannot encode,
    and an encoder failure inside a front-door task surfaces instead of
    silently re-hashing row by row through a second implementation."""
    import paimon_python_spark.paimon_lake as pl
    from paimon_python_spark.lake_datasource import PaimonLakeBatchWriter
    from paimon_python_spark.paimon_import import fixed_bucket

    keys = pd.Series([1, None, 7, 42, -9])
    types = [T.LongType()]
    want = [
        fixed_bucket([None if pd.isna(v) else int(v)], types, 8) for v in keys
    ]
    assert list(pl._vectorized_fixed_buckets((keys,), types, 8)) == want
    with pytest.raises(ValueError, match="unsupported key type"):
        pl._vectorized_fixed_buckets((keys,), [T.DecimalType(10, 2)], 8)

    d = str(tmp_path / "lake")
    pl.create_lake_table(
        d,
        [("k", "BIGINT NOT NULL"), ("v", "STRING")],
        primary_keys=["k"],
        options={"bucket": "8"},
    )
    writer = PaimonLakeBatchWriter(d, overwrite=False)
    batch = pa.record_batch(
        {"k": pa.array([1, 7], pa.int64()), "v": pa.array(["a", "b"])}
    )

    def boom(*a, **k):
        raise RuntimeError("forced")

    monkeypatch.setattr(pl, "_vectorized_fixed_buckets", boom)
    with pytest.raises(RuntimeError, match="forced"):
        writer.write(iter([batch]))
