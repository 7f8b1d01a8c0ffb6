"""Driver-local DataFrames without the Python boundary.

``spark.createDataFrame(list_of_rows)`` builds a pickled-row
``ParallelCollectionRDD``: every evaluation of the frame (each AQE
stage materialization, each broadcast build, each re-execution of a
non-persisted plan) pays a Python-worker round-trip PER SLICE —
measured ~250 ms of task time per slice, several times per lake
commit (guide §4.1). Slicing fixes the width (r12 Finding 1) but not
the boundary itself.

``local_df`` therefore builds the frame through Arrow
(``spark.createDataFrame(pyarrow.Table)``): the rows are converted
ONCE on the driver into Arrow record batches and handed to the JVM,
so evaluating the frame is pure JVM work — no Python worker appears
anywhere in its lineage. Measured on the r12 profile harness
(12-row metadata frame, noop-evaluated, warm): classic 1-slice
~286 ms median vs Arrow ~186 ms, with the ~90 ms job floor accounting
for most of the remainder; at the default 32 slices the classic path
costs 0.3-0.8 s of wall per evaluation.

Callers whose downstream stage does real per-row work (mapInPandas
reading one index file per row) pass ``fan_out=True`` to keep the
classic sliced path: there the per-task fan-out IS the point, and the
worker round-trip is amortized by the per-row I/O.

Every input here is metadata-sized at ANY data scale (file lists,
capacity plans, DV path lists, stats rows); data-scale frames come
from real scans and never pass through this module.
"""

from __future__ import annotations


def pinned_width(spark, max_groups: int | None = None) -> int:
    """Explicit partition count for compute-bearing group stages
    (the lake write tasks' ``mapInArrow`` group writes, per-file
    bitmap folds) whose
    shuffled BYTES are tiny but whose per-group work is real (a parquet
    file write, a bitmap serialize). AQE's byte-based coalescing sees
    KBs and folds the exchange to ONE partition, serializing every
    group's work on one core (guide §2.5's "bytes are a bad cost proxy"
    blind spot — r12 Finding 16 hit the same on the cosine verify).
    An explicit ``repartition(n, keys)`` is never coalesced, so the
    stage keeps its width. Scale-adaptive: the session's configured
    shuffle width or the cluster parallelism, whichever is larger —
    never a local constant. Empty partitions cost ~10 ms of warm
    Python-worker round-trip each and run in parallel (measured).

    Two ceilings (r12 ADVICE: a tiny commit must not inherit an
    arbitrarily large ``spark.sql.shuffle.partitions`` as hundreds of
    mostly-empty Python tasks):

    - 4x the cluster parallelism — past a few task waves per core
      there is nothing left to parallelize, only empty-partition
      round-trips to pay;
    - 8x ``max_groups`` when the caller knows an upper bound on the
      number of groups (e.g. an unpartitioned fixed-bucket table has
      at most ``bucket`` groups). The 8x headroom keeps hash spreading
      effective (guide §2.5: key count should comfortably exceed the
      partition count is the concern in reverse here — with width ==
      groups, birthday collisions serialize two groups on one task).
    """
    try:
        parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        parts = 0
    dp = spark.sparkContext.defaultParallelism
    w = max(parts, dp, 2)
    w = min(w, max(4 * dp, 2))
    if max_groups is not None:
        w = min(w, max(8 * max_groups, 2))
    return w


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for a parsed SQL expression."""
    return "`" + str(name).replace("`", "``") + "`"


def cast_select_sql(fields) -> list:
    """SQL select-list strings casting each field to its declared type.

    The Column form (``F.col(c).cast(dt).alias(c)``) costs 3 py4j round
    trips PER COLUMN at plan-construction time; a ``selectExpr`` over
    these strings is ONE round trip for the whole list (the driver-
    latency pattern r12 Findings 6/20 proved — guide §5.3-adjacent).
    Plan-identical to the Column form: both analyze to the same cast,
    and a same-type cast folds away identically."""
    return [
        f"CAST({quote_ident(f.name)} AS {f.dataType.simpleString()}) "
        f"AS {quote_ident(f.name)}"
        for f in fields
    ]


def _coerce(v, dt):
    """Make a driver-side Python value Arrow-compatible for ``dt``
    (Row/tuple structs -> dicts, dict maps -> item lists, bytearray ->
    bytes), recursively through nested types."""
    from pyspark.sql import types as T

    if v is None:
        return None
    if isinstance(dt, T.StructType):
        if isinstance(v, dict):
            d = v
        elif hasattr(v, "asDict"):
            d = v.asDict()
        else:
            d = dict(zip([f.name for f in dt.fields], v))
        return {f.name: _coerce(d.get(f.name), f.dataType) for f in dt.fields}
    if isinstance(dt, T.ArrayType):
        return [_coerce(x, dt.elementType) for x in v]
    if isinstance(dt, T.MapType):
        items = v.items() if isinstance(v, dict) else v
        return [
            (_coerce(k, dt.keyType), _coerce(val, dt.valueType))
            for k, val in items
        ]
    if isinstance(dt, T.BinaryType) and isinstance(v, bytearray):
        return bytes(v)
    return v


def _arrow_local_df(spark, rows, schema):
    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if not isinstance(schema, T.StructType):
        raise TypeError("non-struct schema")
    names, arrays = [], []
    for i, f in enumerate(schema.fields):
        at = to_arrow_type(f.dataType)
        col = [
            _coerce(r.get(f.name) if isinstance(r, dict) else r[i], f.dataType)
            for r in rows
        ]
        arrays.append(pa.array(col, type=at))
        names.append(f.name)
    tbl = pa.Table.from_arrays(arrays, names=names)
    return spark.createDataFrame(tbl, schema=schema)


def local_df(spark, rows, schema, max_slices: int | None = None, fan_out: bool = False):
    """Driver-built list-of-rows frame.

    Default: Arrow construction (JVM-native lineage, one batch — no
    Python worker on any evaluation). ``fan_out=True``: classic
    pickled-row path with slices = row count (capped at ``max_slices``
    or the session's parallelism) for callers whose downstream
    per-row work is real I/O. Any Arrow conversion failure falls back
    to the classic path, so behavior is never narrower than before.
    """
    rows = rows if isinstance(rows, list) else list(rows)
    if not fan_out:
        try:
            return _arrow_local_df(spark, rows, schema)
        except Exception:
            pass  # unconvertible type/value: classic path below
    if not rows:
        # one EMPTY slice, not defaultParallelism empty slices — a
        # 32-slice empty frame unioned/joined into a plan widens every
        # downstream Python-evaluated stage to 32 near-empty tasks
        return spark.createDataFrame(
            spark.sparkContext.parallelize([], 1), schema
        )
    cap = (
        max_slices
        if max_slices is not None
        else spark.sparkContext.defaultParallelism
    )
    n = max(1, min(len(rows), cap))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, numSlices=n), schema
    )
