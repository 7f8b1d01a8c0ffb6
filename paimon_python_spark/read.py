"""TableRead: planned splits → DataFrame (scale path) or Arrow/pandas/
DuckDB (driver materialization, reference-API parity).

The reference's read pipeline for PK tables is an iterator tree —
Concat(Filter?(KeyValueUnwrap(DropDelete(SortMerge([KeyValueWrap(...)]))))
(SURVEY §2.3, pypaimon/pynative/util/reader_converter.py:41-90). The
whole tree collapses into one declarative Spark expression::

    window = Window.partitionBy(*merge_keys).orderBy(desc(_SEQUENCE_NUMBER))
    files.withColumn('rn', row_number().over(window)).filter('rn = 1')
         .filter(_VALUE_KIND in (+I, +U))      # DropDeleteReader
         .select(*value_cols)                  # KeyValueUnwrapReader
         .filter(residual_predicate)           # filter-placement rule

which replaces SortMergeReader (sort_merge_reader.py:198-271),
DeduplicateMergeFunction (:78-108), DropDeleteReader
(drop_delete_reader.py:26-62) and KeyValueUnwrapReader
(key_value_unwrap_reader.py:28-74). Catalyst/AQE pick the physical
strategy; at scale the window's shuffle is the merge's one unavoidable
exchange, and it is keyed exactly on the merge key.

Append tables read back verbatim in commit order
(test_pynative_reader.py:64-92): the scale path is a plain multi-file
scan; the driver-materialization path (`to_arrow`/`to_pandas`) reads via
pyarrow dataset in manifest order — the very thing the reference does
(pyarrow_dataset_reader.py:31-71) — so tiny reads don't pay a Spark job.
"""

from __future__ import annotations

from typing import List, Optional

from paimon_python_spark._localdf import local_df
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from paimon_python_spark.scan import Split
from paimon_python_spark.session import get_spark
from paimon_python_spark.write import (
    ADD_KINDS,
    KIND_COL,
    ROWKIND_DELETE,
    ROWKIND_UPDATE_BEFORE,
    SEQ_COL,
)


def _read_avro_df(spark, paths: List[str], physical: T.StructType) -> DataFrame:
    """Distributed Avro scan of the engine's own avro tables, without
    the spark-avro DataSource: the ``binaryFile`` source parallelizes
    over files, each task decodes its files with the engine codec and
    emits the rows via ``mapInPandas``. Not vectorized like parquet,
    but fully distributed and schema-checked at the tool-call layer.
    (Lake avro files read through ``paimon_import.read_lake_task``.)"""
    import pandas as pd

    from paimon_python_spark.avro_codec import read_avro_columns

    names = [f.name for f in physical.fields]

    def decode(batches):
        for pdf in batches:
            frames = []
            for content in pdf["content"]:
                # columnar decode (numpy-vectorized for numeric blocks)
                # straight into the frame — no row-tuple detour
                fnames, cols = read_avro_columns(bytes(content))
                by_name = dict(zip(fnames, cols))
                n_rows = len(cols[0]) if cols else 0
                frames.append(
                    pd.DataFrame(
                        {
                            # schema evolution: fill columns the old file lacks
                            n: by_name.get(n, [None] * n_rows)
                            for n in names
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    binary = spark.read.format("binaryFile").load(paths).select("content")
    return binary.mapInPandas(decode, physical)


def projection_columns(paths: List[List[str]]) -> List:
    """Build the select list for a normalized projection (list of
    paths, see ``ReadBuilder.with_projection``).

    A path like ``["s", "x"]`` prunes struct ``s`` down to subfield
    ``x`` — the struct is REBUILT containing only the projected leaves
    (nested projection semantics, reference read_builder.py:36-38), and
    Catalyst's nested-schema pruning narrows the parquet ``ReadSchema``
    to those leaves. Multiple paths into one struct merge in path order;
    a bare name takes the whole subtree."""
    FULL = None  # marker: take everything below this node
    tree: dict = {}
    order: List[str] = []

    def insert(node: dict, path: List[str]) -> None:
        head, rest = path[0], path[1:]
        if head in node and node[head] is FULL:
            return  # already taking the whole subtree
        if not rest:
            node[head] = FULL
        else:
            insert(node.setdefault(head, {}), rest)

    for path in paths:
        if path[0] not in order:
            order.append(path[0])
        insert(tree, path)

    def build(prefix: List[str], name: str, sub):
        full = prefix + [name]
        if sub is FULL:
            return F.col(".".join(f"`{p}`" for p in full))
        return F.struct(*[build(full, k, v).alias(k) for k, v in sub.items()])

    return [build([], name, tree[name]).alias(name) for name in order]


#: merge-engine option values (Paimon table-format semantics; the
#: reference SDK only ever reads deduplicate tables, but the format
#: defines all four — paimon docs "merge-engine").
MERGE_ENGINES = ("deduplicate", "first-row", "partial-update", "aggregation")

#: supported fields.<name>.aggregate-function values for the
#: aggregation merge engine (re-exported; the implementation moved to
#: agg_merge.py when the surface grew to the full Paimon function list)
from paimon_python_spark.agg_merge import AGG_FUNCTIONS  # noqa: E402,F401
from paimon_python_spark.agg_merge import (  # noqa: E402
    check_merge_options,
    sequence_fields,
    sequence_groups,
)


def _engine_bucket_local_ok(schema, splits) -> bool:
    """Eligibility for the NO-SHUFFLE engine PK merge. Narrower than
    the lake gate (paimon_import._bucket_local_merge_ok, which keeps
    only hll_sketch fields and oversized groups on the key-window):
    parquet/orc files, plain deduplicate engine without sequence.field
    or salt, and — the shared scale guard — no split larger than
    ``_BUCKET_LOCAL_MAX_GROUP_BYTES`` on disk. PK splits are already
    one (partition, bucket) group each (scan._group), which is what
    closes the merge per task."""
    from paimon_python_spark import paimon_import as pi

    if schema.file_format() not in ("parquet", "orc"):
        return False
    if schema.options.get("merge-engine", "deduplicate") != "deduplicate":
        return False
    if schema.options.get("sequence.field"):
        # read-side sequence ordering lives in merge_on_read; the
        # in-task merge orders by _SEQUENCE_NUMBER only
        return False
    if int(schema.options.get("bucket-shuffle.salt", "0")) > 1:
        return False
    return all(s.file_size() <= pi._BUCKET_LOCAL_MAX_GROUP_BYTES for s in splits)


def merge_on_read_bucket_local(
    spark, schema, splits, needed_cols=None, key_predicate=None
) -> DataFrame:
    """NO-SHUFFLE merge-on-read for fixed-bucket engine PK tables —
    the same execution shape as the lake path
    (paimon_import.merge_paimon_pk_entries): each planned split
    is one merge-closed (partition, bucket) group, so an Arrow task
    reads the group's files with the shared reader
    (paimon_import.read_group_frame: pruned to projection ∪ predicate
    columns + keys, key predicate applied at the read) and merges them
    with ``agg_merge.merge_group``, the one in-task merge kernel; the
    groups pack into ``paimon_import.arrow_task_df``'s slices. Plan
    shape: scan → MapInArrow. The window formulation this replaces
    exchanges every scanned byte on the merge key — the dominant
    PK-read cost at 100 TB. Ties beyond the sequence number break by
    manifest file order then in-file position (a superset of the
    window path's seq-only contract, fully deterministic)."""
    merge_keys = list(dict.fromkeys(schema.partition_keys + schema.primary_keys))
    fields = list(schema.spark_schema.fields)
    if needed_cols is not None:
        keep = set(needed_cols) | set(merge_keys)
        fields = [f for f in fields if f.name in keep]
    read_cols = list(
        dict.fromkeys([*merge_keys, *[f.name for f in fields], SEQ_COL, KIND_COL])
    )
    from paimon_python_spark.paimon_import import arrow_task_df

    fmt = schema.file_format()

    def _merge(spec):
        from paimon_python_spark.agg_merge import merge_group, order_rank
        from paimon_python_spark.paimon_import import read_group_frame

        g = read_group_frame(
            [(path, None, None) for path in spec["files"]],
            fmt,
            read_cols,
            schema,
            key_predicate,
        )
        g = g.append_column("__ord", order_rank(g[SEQ_COL], g["__file"]))
        g = merge_group(g, schema, merge_keys, "__ord", KIND_COL)
        return g.select([f.name for f in fields])

    specs = [{"files": list(s.file_paths())} for s in splits]
    return arrow_task_df(spark, specs, T.StructType(fields), _merge)


def merge_on_read(
    df: DataFrame,
    schema,
    seq_col: str = None,
    kind_col: str = None,
    tie_breaks=(),
) -> DataFrame:
    """Collapse raw LSM rows (value fields + sequence + kind) into the
    table's merged state according to the schema's merge-engine option.

    Every engine is a single exchange keyed on the merge key:

    - ``deduplicate`` (default): latest row per key wins; deletes drop
      the key — one window sort, ``row_number() == 1``. ``tie_breaks``
      (sort-order Columns) trail the sequence in that window, so equal
      sequences resolve deterministically (the lake read passes its
      LSM level and manifest entry order).
    - ``first-row``: earliest row per key wins (same window, ascending).
    - ``partial-update``: per value column, the latest NON-NULL value
      across versions, as ONE hash aggregate (map-side combine halves
      the shuffle vs the window formulation); delete rows remove the
      key. ``fields.<g>.sequence-group = c1,c2`` scopes columns c1,c2
      to a per-group version field ``g``: they only take a value from
      the row with the greatest ``(g, _SEQUENCE_NUMBER)`` among rows
      where both the column and ``g`` are non-null, so a stale patch
      (lower ``g``) cannot clobber a newer value even if it commits
      later. Paimon's sequence-group contract; the reference delegates
      it to the Java writer (pypaimon/api/table_write.py:27-48). A value
      column that ALSO declares ``fields.<c>.aggregate-function`` folds
      with that aggregate instead of last-non-null (Paimon's
      sequence-group aggregation; scalar functions only).
    - ``aggregation``: per-field aggregate configured via
      ``fields.<name>.aggregate-function`` (default last_non_null_value)
      — a hash aggregate, which beats a window at scale because partial
      (map-side) aggregation halves the shuffle volume.
    """
    seq_col = seq_col or SEQ_COL
    kind_col = kind_col or KIND_COL
    engine = schema.options.get("merge-engine", "deduplicate")
    if engine not in MERGE_ENGINES:
        raise ValueError(f"unknown merge-engine {engine!r}; one of {MERGE_ENGINES}")
    check_merge_options(schema)
    merge_keys = list(dict.fromkeys(schema.partition_keys + schema.primary_keys))
    value_cols = [
        f.name for f in schema.spark_schema.fields if f.name not in merge_keys
    ]
    out_cols = [f.name for f in schema.spark_schema.fields]

    # sequence.field (possibly comma-separated, Paimon's multi-field
    # form): user columns drive the merge order instead of commit
    # arrival — a stale CDC update arriving late loses to the newer row
    # already in the table. Read-side formulation: the ordering value
    # becomes struct(seq_field..., _SEQUENCE_NUMBER), so the unique
    # arrival sequence stays as the deterministic tie-break (real
    # Paimon's UserDefinedSeqComparator falls back the same way). Lake
    # writers instead bake a single declared field into
    # _SEQUENCE_NUMBER at write time (paimon_lake.py); for those the
    # struct is (v, v)-ordered — same order, so applying it here too
    # is harmless.
    seq_fields = sequence_fields(schema.options)
    if seq_fields:
        df = df.withColumn(
            "__seq_ord",
            F.struct(*[F.col(c) for c in seq_fields], F.col(seq_col)),
        )
        seq_col = "__seq_ord"

    # ignore-delete: -D records are dropped BEFORE merging, so a delete
    # can never erase a key (Paimon's option for replaying CDC streams
    # that carry deletes you want to ignore).
    if schema.options.get("ignore-delete", "false").lower() == "true":
        df = df.filter(F.col(kind_col).isin(*ADD_KINDS))

    if engine == "deduplicate" or engine == "first-row":
        order = [
            F.col(seq_col).asc() if engine == "first-row" else F.col(seq_col).desc()
        ]
        if engine == "deduplicate":
            order += list(tie_breaks)
        # skew-aware two-phase merge (``bucket-shuffle.salt`` = S > 1):
        # a pathologically hot key (one counter row hammered with
        # millions of versions, or a bad user key choice collapsing a
        # bucket) lands every version on ONE reduce task in the plain
        # window. Phase 1 salts the shuffle with hash(seq) % S so each
        # key's versions spread over S tasks and reduce to ≤ S
        # candidate rows; phase 2 runs the ordinary window over that
        # constant-per-key remainder. Latest/earliest-per-key is
        # associative, so the result is hash-identical to the unsalted
        # plan; cost is one extra (tiny) exchange, which is why it is
        # opt-in rather than default.
        salt = int(schema.options.get("bucket-shuffle.salt", "0"))
        if salt > 1:
            w1 = Window.partitionBy(*merge_keys, "__salt").orderBy(*order)
            df = (
                df.withColumn(
                    "__salt", F.pmod(F.xxhash64(F.col(seq_col)), F.lit(salt))
                )
                .withColumn("__rn1", F.row_number().over(w1))
                .filter(F.col("__rn1") == 1)
                .drop("__salt", "__rn1")
            )
        w = Window.partitionBy(*merge_keys).orderBy(*order)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .filter(F.col(kind_col).isin(*ADD_KINDS))
            .select(*out_cols)
        )

    if engine == "partial-update":
        # fields.<g>.sequence-group = "c1,c2" -> columns c1,c2 version on g
        groups = sequence_groups(schema.options)
        col_group = {c: g for g, cols in groups.items() for c in cols}

        # Paimon's delete contract for partial-update: retract records
        # (-U/-D) are REFUSED unless one of ignore-delete (rows already
        # filtered above), partial-update.remove-record-on-delete (a -D
        # clears the accumulated record — later adds rebuild it from
        # scratch), or a declared sequence-group (group retraction)
        # opts in. The refusal is a guarded in-plan raise_error, so it
        # costs one tiny aggregate and only fires when tripped.
        remove_on_delete = (
            schema.options.get(
                "partial-update.remove-record-on-delete", "false"
            ).lower()
            == "true"
        )
        is_add = F.col(kind_col).isin(*ADD_KINDS)
        extra_aggs = []
        if remove_on_delete:
            # -U still has no defined meaning without a sequence-group
            viol = F.max(
                F.when(F.col(kind_col) == ROWKIND_UPDATE_BEFORE, 1).otherwise(0)
            )
            extra_aggs.append(
                F.max(
                    F.when(F.col(kind_col) == ROWKIND_DELETE, F.col(seq_col))
                ).alias("__pu_del_seq")
            )
        else:
            viol = F.max(F.when(~is_add, 1).otherwise(0))
        accepts_retracts = bool(groups)
        if not accepts_retracts:
            extra_aggs.append(viol.alias("__pu_viol"))

        aggs = [F.max_by(F.col(kind_col), F.col(seq_col)).alias(kind_col)]
        from paimon_python_spark.agg_merge import partial_update_agg_expr

        for c in value_cols:
            col = F.col(c)
            fn = schema.options.get(f"fields.{c}.aggregate-function")
            if c in groups:  # a group's version field: highest version seen
                aggs.append(F.max(col).alias(c))
            elif fn is not None:
                # Paimon's sequence-group aggregation: the column folds
                # with its declared aggregate instead of last-non-null;
                # order inside a group is (group seq, commit seq)
                if c in col_group:
                    order = F.struct(F.col(col_group[c]), F.col(seq_col))
                else:
                    order = F.col(seq_col)
                aggs.append(
                    partial_update_agg_expr(
                        schema, c, fn, order, seq_col, kind_col
                    ).alias(c)
                )
            elif c in col_group:
                g = F.col(col_group[c])
                order = F.when(
                    col.isNotNull() & g.isNotNull(), F.struct(g, F.col(seq_col))
                )
                aggs.append(F.max_by(col, order).alias(c))
            elif remove_on_delete:
                # only ADD rows carry values, and a value older than the
                # last -D was cleared by it — fold the latest non-null
                # ADD value and its sequence, gate on the delete's
                # sequence after the aggregate
                sel = F.when(col.isNotNull() & is_add, F.col(seq_col))
                aggs.append(F.max_by(col, sel).alias(c))
                extra_aggs.append(F.max(sel).alias(f"__pu_s_{c}"))
            else:  # default: latest non-null by commit sequence
                aggs.append(
                    F.max_by(col, F.when(col.isNotNull(), F.col(seq_col))).alias(c)
                )
        merged = df.groupBy(*merge_keys).agg(*aggs, *extra_aggs)
        if not accepts_retracts:
            what = "-U" if remove_on_delete else "retract (-U/-D)"
            how = (
                "declare a sequence-group for the retracted columns"
                if remove_on_delete
                else "set ignore-delete, "
                "partial-update.remove-record-on-delete, or a "
                "sequence-group"
            )
            merged = merged.withColumn(
                kind_col,
                F.when(
                    F.col("__pu_viol") == 1,
                    F.raise_error(
                        F.lit(
                            f"partial-update cannot accept {what} records: "
                            f"{how}"
                        )
                    ).cast("int"),
                ).otherwise(F.col(kind_col)),
            )
        if remove_on_delete:
            d = F.col("__pu_del_seq")
            for c in value_cols:
                merged = merged.withColumn(
                    c,
                    F.when(
                        d.isNull() | (F.col(f"__pu_s_{c}") > d), F.col(c)
                    ),
                )
        return (
            merged.filter(F.col(kind_col).isin(*ADD_KINDS)).select(*out_cols)
        )

    # aggregation: ONE hash aggregate; the full Paimon function surface
    # (incl. retraction semantics, container folds, sketch unions)
    # lives in agg_merge.field_agg_plan. A key survives as long as it
    # has at least one add row — a key whose rows are ALL retractions
    # merges to nothing, same as the pre-retraction formulation.
    from paimon_python_spark.agg_merge import field_agg_plan

    aggs, post = field_agg_plan(schema, value_cols, seq_col, kind_col)
    has_add = F.max(
        F.when(F.col(kind_col).isin(*ADD_KINDS), F.lit(1)).otherwise(F.lit(0))
    ).alias("__has_add")
    merged = (
        df.groupBy(*merge_keys)
        .agg(has_add, *aggs)
        .filter(F.col("__has_add") == 1)
    )
    return merged.select(
        *[post[c](F.col(c)).alias(c) if c in post else F.col(c) for c in out_cols]
    )


#: RowKind int → Paimon's short string form (row_kind.py:22-57)
ROWKIND_STRINGS = {0: "+I", 1: "-U", 2: "+U", 3: "-D"}


def df_to_arrow(df: DataFrame) -> pa.Table:
    """A read's DataFrame as an Arrow table of its declared types —
    ``toArrow`` keeps NULL, NaN and wide integers apart, unlike a
    pandas hop. Shared by the engine's and the lake's ``to_arrow``."""
    from paimon_python_spark.types import spark_schema_to_pa

    tbl = df.toArrow()
    # normalize to the declared schema types (Spark may widen)
    target = pa.schema(
        [spark_schema_to_pa(T.StructType([df.schema[n]]))[0] for n in df.columns]
    ) if df.columns else tbl.schema
    try:
        return tbl.cast(target)
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return tbl


def audit_log_df(table, snapshot_id: Optional[int] = None) -> DataFrame:
    """Paimon's ``table$audit_log`` system table: every STORED row (no
    merge, no drop-delete) with a leading ``rowkind`` string column.

    The reference surfaces RowKind through its changelog row model
    (pypaimon/pynative/common/row/row_kind.py:22-57); audit_log is the
    batch view of it. Append tables are all ``+I``. The plan is a plain
    multi-file scan plus one CASE projection — narrow, no shuffle, so it
    scales like the raw scan at any data size."""
    spark = get_spark()
    schema = table.schema
    rb = table.new_read_builder()
    if snapshot_id is not None:
        rb = rb.with_snapshot(snapshot_id)
    splits = rb.new_scan().plan().splits()
    paths = [p for s in splits for p in s.file_paths()]
    out_fields = [T.StructField("rowkind", T.StringType(), False)] + list(
        schema.spark_schema.fields
    )
    if not paths:
        return local_df(spark, [], T.StructType(out_fields))

    is_pk = schema.is_primary_key_table()
    physical = T.StructType(list(schema.spark_schema.fields))
    if is_pk:
        physical = T.StructType(
            physical.fields
            + [
                T.StructField(SEQ_COL, T.LongType(), False),
                T.StructField(KIND_COL, T.IntegerType(), False),
            ]
        )
    fmt = schema.file_format()
    if fmt == "avro":
        df = _read_avro_df(spark, paths, physical)
    else:
        df = spark.read.schema(physical).format(fmt).load(paths)

    if is_pk:
        kind = F.col(KIND_COL)
        rowkind = F.when(kind == 0, "+I")
        for k, s in ROWKIND_STRINGS.items():
            if k:
                rowkind = rowkind.when(kind == k, s)
        rowkind = rowkind.otherwise("+I")
    else:
        rowkind = F.lit("+I")
    cols = [rowkind.alias("rowkind")] + [f.name for f in schema.spark_schema.fields]
    return df.select(*cols)


class TableRead:
    def __init__(self, read_builder):
        self.read_builder = read_builder
        self.table = read_builder.table
        self.schema = self.table.schema

    # ---- the scale path ----

    def to_df(self, splits: Optional[List[Split]] = None) -> DataFrame:
        """Compose the read as a lazy DataFrame. ``splits=None`` plans a
        fresh scan (with this builder's pushdowns)."""
        if splits is None:
            splits = self.read_builder.new_scan().plan().splits()
        paths = [p for s in splits for p in s.file_paths()]
        spark = get_spark()
        schema = self.schema
        is_pk = schema.is_primary_key_table()

        if not paths:
            df = local_df(spark, [], schema.spark_schema)
            return self._finish(df)

        from paimon_python_spark.deletion_vectors import dv_enabled

        if (
            is_pk
            and not dv_enabled(schema)
            and _engine_bucket_local_ok(schema, splits)
        ):
            # merge-closed per split: the zero-Exchange per-group merge
            proj = self.read_builder._projection
            pred = self.read_builder._predicate
            needed = None
            if proj is not None:
                # engine projections normalize to PATH lists (nested
                # projection); eligible tables have no struct columns,
                # so the top-level name is the whole path
                tops = [p[0] if isinstance(p, (list, tuple)) else p for p in proj]
                needed = list(
                    dict.fromkeys(
                        tops + (sorted(pred.fields()) if pred else [])
                    )
                )
            # KEY sub-predicate pushed below the merge (sound: every
            # version of a key shares its key values) — engine kv files
            # carry keys under their ORIGINAL column names
            key_pred = None
            if pred is not None:
                merge_keys = set(schema.partition_keys) | set(schema.primary_keys)
                key_pred = pred.keep_only_fields(merge_keys)
            df = merge_on_read_bucket_local(
                spark, schema, splits, needed_cols=needed, key_predicate=key_pred
            )
            return self._finish(df)

        physical = T.StructType(list(schema.spark_schema.fields))
        if is_pk:
            physical = T.StructType(
                physical.fields
                + [
                    T.StructField(SEQ_COL, T.LongType(), False),
                    T.StructField(KIND_COL, T.IntegerType(), False),
                ]
            )
        fmt = schema.file_format()
        if fmt == "avro":
            df = _read_avro_df(spark, paths, physical)
        else:
            df = spark.read.schema(physical).format(fmt).load(paths)

        if is_pk:
            if dv_enabled(schema):
                df = self._dv_read(df)
            else:
                pred = self.read_builder._predicate
                if pred is not None:
                    # key predicates are version-invariant, so filtering
                    # BEFORE the merge window is exact — Catalyst pushes
                    # the filter into the scan and the key-window
                    # exchange carries only matching keys' versions
                    kp = pred.keep_only_fields(
                        set(schema.partition_keys) | set(schema.primary_keys)
                    )
                    if kp is not None:
                        df = df.filter(kp.to_column())
                df = merge_on_read(df, schema)
        return self._finish(df)

    def _dv_read(self, df: DataFrame) -> DataFrame:
        """Deletion-vector read: merge-on-read WITHOUT the key-window
        shuffle. Superseded row versions were marked at commit time
        (deletion_vectors.py), so the merged state is scan → broadcast
        anti-join on (file, position) → drop ``-D`` rows — a narrow,
        whole-stage-codegen plan that scales linearly with the data and
        never exchanges it."""
        from paimon_python_spark.deletion_vectors import apply_dv
        from paimon_python_spark.metadata import MetadataStore

        schema = self.schema
        store = MetadataStore(self.table.table_path)
        sid = self.read_builder._snapshot_id
        snap = store.read_snapshot(sid) if sid is not None else store.latest_snapshot()
        df = df.select(
            "*",
            F.col("_metadata.file_path").alias("__fp"),
            F.col("_metadata.row_index").alias("__pos"),
        )
        df = apply_dv(df, self.table, snap)
        out_cols = [f.name for f in schema.spark_schema.fields]
        return df.filter(F.col(KIND_COL).isin(*ADD_KINDS)).select(*out_cols)

    def _finish(self, df: DataFrame) -> DataFrame:
        pred = self.read_builder._predicate
        if pred is not None:
            # full residual filter after the merge — the reference's
            # correctness rule (reader_convert_func.py:56-59); on append
            # tables Catalyst pushes it down to the scan anyway.
            df = df.filter(pred.to_column())
        proj = self.read_builder._projection
        if proj is not None:
            df = df.select(*projection_columns(proj))
        return df

    # ---- driver materialization (reference API parity) ----

    def to_arrow(self, splits: Optional[List[Split]] = None) -> pa.Table:
        if splits is None:
            splits = self.read_builder.new_scan().plan().splits()
        if not self.schema.is_primary_key_table():
            return self._arrow_append(splits)
        # PK: merged output in deterministic key order (the reference's
        # sort-merge emits key order per split).
        merge_keys = list(
            dict.fromkeys(self.schema.partition_keys + self.schema.primary_keys)
        )
        df = self.to_df(splits)
        order = [k for k in merge_keys if k in df.columns]
        if order:
            df = df.orderBy(*order)
        return df_to_arrow(df)

    def _arrow_append(self, splits: List[Split]) -> pa.Table:
        import pyarrow.dataset as ds

        from paimon_python_spark.types import spark_schema_to_pa

        paths = [p for s in splits for p in s.file_paths()]
        proj = self.read_builder._projection
        if proj is not None and any(len(p) > 1 for p in proj):
            # nested projection: route through the Spark recipe (struct
            # rebuild + Catalyst nested-schema pruning) instead of the
            # flat pyarrow column list
            return df_to_arrow(self.to_df(splits))
        pred = self.read_builder._predicate
        pa_schema = spark_schema_to_pa(self.schema.spark_schema)
        cols = (
            [p[0] for p in proj] if proj is not None else self.schema.field_names
        )
        if not paths:
            return pa.table(
                {c: pa.array([], pa_schema.field(c).type) for c in cols}
            )
        fmt = self.schema.file_format()
        if fmt == "avro":
            # driver-side codec decode in manifest order (same shape as
            # the reference's fastavro reader); the scale path is to_df
            from paimon_python_spark.avro_codec import read_avro_table

            frames = []
            for p in paths:
                with open(p, "rb") as f:
                    names, rows = read_avro_table(f.read())
                frames.append(
                    pa.table(
                        {
                            c: pa.array(
                                [r[names.index(c)] if c in names else None for r in rows],
                                pa_schema.field(c).type,
                            )
                            for c in self.schema.field_names
                        }
                    )
                )
            table = pa.concat_tables(frames)
            dataset = ds.dataset(table)
        else:
            dataset = ds.dataset(paths, format=fmt, schema=pa_schema)
        filt = pred.to_arrow() if pred is not None else None
        return dataset.to_table(columns=list(cols), filter=filt)

    def to_arrow_batch_reader(
        self, splits: Optional[List[Split]] = None, batch_size: int = 1024
    ) -> pa.RecordBatchReader:
        # reference transfers 1024-row batches (ParallelBytesReader.java:52)
        table = self.to_arrow(splits)
        return pa.RecordBatchReader.from_batches(
            table.schema, table.to_batches(max_chunksize=batch_size)
        )

    def to_pandas(self, splits: Optional[List[Split]] = None):
        return self.to_arrow(splits).to_pandas()

    def to_duckdb(
        self,
        splits: Optional[List[Split]] = None,
        table_name: str = "table",
        connection=None,
    ):
        """Register the materialized read in DuckDB
        (java_implementation.py:244-253). For SQL at scale use
        ``to_df().createOrReplaceTempView`` + ``spark.sql`` instead."""
        import duckdb

        con = connection or duckdb.connect(database=":memory:")
        con.register(table_name, self.to_arrow(splits))
        return con

    def to_ray(self, splits: Optional[List[Split]] = None):
        import ray  # optional dependency, as in the reference

        return ray.data.from_arrow(self.to_arrow(splits))

    def to_record_generator(self, splits: Optional[List[Split]] = None):
        """Row-at-a-time generator (java_implementation.py:260-289)."""
        reader = self.to_arrow_batch_reader(splits)
        for batch in reader:
            for row in batch.to_pylist():
                yield row
