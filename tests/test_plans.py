"""Physical-plan regression tests: the scale-critical plan properties
(filter pushdown, broadcast joins, no accidental cartesian products)
are asserted here so a recipe change that silently degrades the plan
fails CI — sf0.1 timings would never show a 100 TB plan regression.

tools/plan_audit.py produces the human-readable PLANS.md over every
headline query; this file pins the same properties for a representative
subset so they run on every `pytest tests/`.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

SF = "/root/testdata/sf0.001"

# queries that filter a parquet scan — PushedFilters must be non-empty
PUSHED = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_forecast_revenue",
    "q19_discounted_revenue",
]
# queries joining a small dim — must broadcast, not shuffle, that side
BROADCAST = [
    "q3_shipping_priority",
    "q5_local_supplier",
    "q9_product_profit",
    "join_salted_skew",
    "dedup_semantic",
]
# broadcast-scalar cross joins that are deliberate (one-row side)
CARTESIAN_OK: set[str] = set()


def _plan(spark, name: str) -> str:
    import __spark_entry__ as entrymod

    df = entrymod.queries()[name](spark, SF)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", PUSHED)
def test_filters_reach_the_scan(spark, name):
    plan = _plan(spark, name)
    assert "PushedFilters: [" in plan
    pushed_lines = [
        ln for ln in plan.splitlines() if "PushedFilters" in ln and "[]" not in ln
    ]
    assert pushed_lines, f"{name}: no non-empty PushedFilters in plan"


@pytest.mark.parametrize("name", BROADCAST)
def test_small_sides_broadcast(spark, name):
    plan = _plan(spark, name)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"{name}: expected a broadcast join in the plan"
    )


@pytest.mark.parametrize("name", PUSHED + BROADCAST)
def test_no_accidental_cartesian(spark, name):
    if name in CARTESIAN_OK:
        pytest.skip("deliberate broadcast-scalar cross join")
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product in plan"


def test_projection_prunes_scan_columns(spark):
    """A 2-column projection must not read the whole lineitem schema —
    column pruning reaching ReadSchema is what keeps a 100 TB scan
    from reading 16 columns for a 2-column query."""
    df = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
        .filter("l_quantity > 40")
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "l_extendedprice" not in read_schema[0]
    assert "l_orderkey" in read_schema[0] and "l_quantity" in read_schema[0]


def test_lake_pk_read_prunes_unprojected_columns(tmp_path, spark):
    """The lake PK merge is declarative end-to-end: projecting two of
    three value columns must narrow the parquet ReadSchema through the
    merge window (a pruning-blocking barrier here would read every
    column of a wide table at 100 TB)."""
    import io
    from contextlib import redirect_stdout

    import pyarrow as pa

    from paimon_python_spark.paimon_import import write_paimon_table_fixture
    from paimon_python_spark.paimon_lake import PaimonLakeTable
    from paimon_python_spark.session import set_spark

    set_spark(spark)
    kv = pa.table(
        {
            "_KEY_k": pa.array([1, 2], pa.int32()),
            "_SEQUENCE_NUMBER": pa.array([0, 1], pa.int64()),
            "_VALUE_KIND": pa.array([0, 0], pa.int32()),
            "k": pa.array([1, 2], pa.int32()),
            "v": pa.array(["a", "b"], pa.string()),
            "wide": pa.array(["x", "y"], pa.string()),
        }
    )
    p = str(tmp_path / "prune_lake")
    write_paimon_table_fixture(
        p,
        [("k", "INT NOT NULL"), ("v", "STRING"), ("wide", "STRING")],
        [],
        ["k"],
        [(0, {}, 0, kv)],
        options={"bucket": "1"},
    )
    df = (
        PaimonLakeTable(p)
        .new_read_builder()
        .with_projection(["k", "v"])
        .new_read()
        .to_df()
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    schemas = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    if schemas:
        # key-window path: Catalyst prunes the parquet scan
        assert all("wide" not in ln for ln in schemas), schemas
    else:
        # bucket-local merge path: no Catalyst scan to prune — the
        # projection ∪ predicate set is pushed into the per-group
        # pyarrow reads, so the merge OUTPUT schema itself excludes
        # the unprojected column
        assert "MapInArrow" in plan, plan[:600]
        assert "wide" not in [f.name for f in df.schema.fields]
    assert sorted(df.toPandas().v) == ["a", "b"]


def test_pk_window_merge_pushes_key_filter_to_scan(catalog, spark):
    """On the key-window merge path (bucket-local ineligible via salt),
    a key predicate must reach the parquet scan as a PushedFilter —
    the exchange feeding the window then carries only matching keys'
    versions. Version-invariance of key columns makes this exact."""
    import pandas as pd
    import pyarrow as pa

    from paimon_python_spark import Schema

    schema = pa.schema([("k", pa.int64()), ("v", pa.string())])
    catalog.create_table(
        "default.plan_kpush",
        Schema(
            schema,
            primary_keys=["k"],
            options={"bucket": "2", "bucket-shuffle.salt": "4"},
        ),
        False,
    )
    t = catalog.get_table("default.plan_kpush")
    for tag in ("a", "b"):
        wb = t.new_batch_write_builder()
        w, c = wb.new_write(), wb.new_commit()
        w.write_pandas(
            pd.DataFrame({"k": list(range(50)), "v": [f"{tag}{i}" for i in range(50)]})
        )
        c.commit(w.prepare_commit())
    pb = t.new_read_builder().new_predicate_builder()
    rb = t.new_read_builder().with_filter(pb.equal("k", 7))
    df = rb.new_read().to_df(rb.new_scan().plan().splits())
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan  # salted: the window path, not bucket-local
    assert "PushedFilters:" in plan and "EqualTo(k,7)" in plan.replace(" ", ""), (
        plan[:1200]
    )
    assert [(r["k"], r["v"]) for r in df.collect()] == [(7, "b7")]
