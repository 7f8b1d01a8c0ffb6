"""Spark Python Data Source for the table format:
``spark.read.format("paimon_spark")``,
``spark.readStream.format("paimon_spark")``, and
``df.write.format("paimon_spark")`` (append tables).

This is the idiomatic Spark-integration layer (Spark 4 Python Data
Source API) on top of the same planner the builder API uses:

- batch: one ``InputPartition`` per planned Split — PK merge runs
  per-partition (a Split is exactly one (partition, bucket), the
  merge unit, so the executor-local merge is correct with no shuffle
  at all);
- pushed filters (EqualTo/In/comparisons/IsNull) re-enter the engine's
  predicate tree, so partition pruning, stats file-skipping, and PK
  bucket pruning all fire before partitions are even created;
- streaming: a partition-planned ``DataSourceStreamReader`` whose
  offsets are snapshot ids — each micro-batch plans one InputPartition
  per delta file between two snapshots (exact replay on recovery, rows
  never pass through the driver), turning the commit log into a
  first-class Structured Streaming source. PK tables stream as
  CHANGELOG rows: ``.option("changelog", "true")`` appends a
  ``_row_kind`` column (+I/-U/+U/-D); without it a PK stream refuses,
  since a raw ``-D`` row would resurrect the delete downstream.

The DataFrame-composition path (``table.new_read_builder()...to_df()``)
remains the throughput path (vectorized parquet, codegen); this source
trades that for API integration (SQL ``USING``, readStream) and keeps
data movement Arrow-batched.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, List

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql import types as T


def _load_schema(table_path: str):
    from paimon_python_spark.schema import Schema

    schema_dir = os.path.join(table_path, "schema")
    versions = [
        int(n[len("schema-") : -len(".json")])
        for n in os.listdir(schema_dir)
        if n.startswith("schema-") and n.endswith(".json")
    ]
    with open(os.path.join(schema_dir, f"schema-{max(versions)}.json")) as f:
        return Schema.from_json(f.read())


def _filters_to_predicate(filters, field_names):
    """Translate Spark DS filters into the engine predicate tree; any
    filter we can't express is left to Spark (returned as unsupported)."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
    )

    from paimon_python_spark.predicate import PredicateBuilder

    pb = PredicateBuilder(field_names)
    supported, unsupported = [], []
    for f in filters:
        try:
            col = f.attribute[0] if len(f.attribute) == 1 else None
            if col is None or col not in field_names:
                unsupported.append(f)
                continue
            if isinstance(f, EqualTo):
                supported.append((f, pb.equal(col, f.value)))
            elif isinstance(f, In):
                supported.append((f, pb.is_in(col, list(f.values))))
            elif isinstance(f, GreaterThan):
                supported.append((f, pb.greater_than(col, f.value)))
            elif isinstance(f, GreaterThanOrEqual):
                supported.append((f, pb.greater_or_equal(col, f.value)))
            elif isinstance(f, LessThan):
                supported.append((f, pb.less_than(col, f.value)))
            elif isinstance(f, LessThanOrEqual):
                supported.append((f, pb.less_or_equal(col, f.value)))
            elif isinstance(f, IsNull):
                supported.append((f, pb.is_null(col)))
            elif isinstance(f, IsNotNull):
                supported.append((f, pb.is_not_null(col)))
            else:
                unsupported.append(f)
        except Exception:
            unsupported.append(f)
    return supported, unsupported


class _SplitPartition(InputPartition):
    def __init__(self, paths: List[str], fmt: str, predicate=None):
        self.paths = paths
        self.fmt = fmt
        # the residual row-level predicate travels WITH the partition
        # (not on the reader): partitions are created fresh per query,
        # so a reused reader instance can never apply a stale filter
        self.predicate = predicate


_ROWKIND_BY_STR = {"+I": 0, "-U": 1, "+U": 2, "-D": 3}


def _decode_rowkind(v):
    """Scalar twin of write.rowkind_field_expr for the front-door
    writers' task loops: +I/-U/+U/-D strings or 0-3 ints; null or any
    other value raises with the offending value (the JVM
    RowKindGenerator contract)."""
    if isinstance(v, str):
        code = _ROWKIND_BY_STR.get(v)
        if code is not None:
            return code
    elif isinstance(v, bool):
        pass  # booleans are ints in Python — refuse them explicitly
    elif isinstance(v, int) and 0 <= v <= 3:
        return v
    elif hasattr(v, "item"):  # numpy scalar
        iv = v.item()
        if isinstance(iv, int) and not isinstance(iv, bool) and 0 <= iv <= 3:
            return iv
    raise ValueError(
        f"rowkind.field: invalid RowKind value {v!r} "
        "(one of +I/-U/+U/-D or 0-3)"
    )


def _split_ds_path(options, fmt: str):
    """Shared path parsing for both sources: strip file: URIs, split a
    ``$<system table>`` suffix."""
    path = options.get("path")
    if not path:
        raise ValueError(f"{fmt} requires .option('path', <table dir>)")
    if path.startswith("file:"):
        from urllib.parse import urlparse

        path = urlparse(path).path
    if "$" in path:
        base, sys_name = path.rsplit("$", 1)
        return base, sys_name
    return path, None


def _parse_time_travel(options, fmt: str):
    """Shared batch time-travel options — ``snapshot-id`` / ``tag`` /
    ``timestamp-millis`` (Paimon's scan.snapshot-id / scan.tag-name /
    scan.timestamp-millis). At most one may be set."""
    sid = options.get("snapshot-id")
    tag = options.get("tag")
    ts = options.get("timestamp-millis")
    given = [
        n
        for n, v in (
            ("snapshot-id", sid),
            ("tag", tag),
            ("timestamp-millis", ts),
        )
        if v is not None
    ]
    if len(given) > 1:
        raise ValueError(
            f"{fmt}: at most one time-travel option of "
            f"snapshot-id / tag / timestamp-millis (got {given})"
        )
    return (
        int(sid) if sid is not None else None,
        tag,
        int(ts) if ts is not None else None,
    )


def _parse_scan_start(options):
    """Streaming start options shared by both sources (Paimon's
    scan.mode / scan.snapshot-id / scan.timestamp-millis). A bare
    snapshot-id or timestamp implies its from-* mode, as in Paimon;
    default (no options) replays from the earliest surviving history.
    Returns (mode, snapshot_id, timestamp_millis) with mode one of
    None / 'latest' / 'latest-full'."""
    mode = options.get("scan.mode")
    sid = options.get("scan.snapshot-id")
    ts = options.get("scan.timestamp-millis")
    if mode is not None and mode not in (
        "earliest",
        "latest",
        "latest-full",
        "from-snapshot",
        "from-timestamp",
    ):
        raise ValueError(
            f"scan.mode {mode!r}: one of earliest / latest / "
            "latest-full / from-snapshot / from-timestamp"
        )
    if mode == "from-snapshot" and sid is None:
        raise ValueError("scan.mode=from-snapshot needs scan.snapshot-id")
    if mode == "from-timestamp" and ts is None:
        raise ValueError("scan.mode=from-timestamp needs scan.timestamp-millis")
    if sid is not None and ts is not None:
        raise ValueError(
            "scan.snapshot-id and scan.timestamp-millis are exclusive"
        )
    if mode in ("latest", "latest-full", "earliest") and (
        sid is not None or ts is not None
    ):
        # real Paimon rejects conflicting scan options too — silently
        # preferring one would skip (or replay) commits the user named
        raise ValueError(
            f"scan.mode={mode} conflicts with scan.snapshot-id / "
            "scan.timestamp-millis"
        )
    if mode in ("earliest", "from-snapshot", "from-timestamp"):
        # earliest is the default; the from-* intents are carried by
        # the positional option itself (bare option implies mode)
        mode = None
    return (
        mode,
        int(sid) if sid is not None else None,
        int(ts) if ts is not None else None,
    )


def _check_ds_merge_supported(schema, fmt: str) -> None:
    """Driver-side guard of both data sources: the merge's option
    check (``agg_merge.check_merge_options``), then the one shape
    their in-task merge cannot fold — ``hll_sketch`` aggregation
    fields, whose union is the JVM's ``hll_union_agg`` — refused with a
    pointer to the builder, whose key-window merge folds it."""
    from paimon_python_spark.agg_merge import check_merge_options, hll_sketch_fields

    check_merge_options(schema)
    bad = hll_sketch_fields(schema)
    if bad:
        builder = (
            "Table.new_read_builder()"
            if fmt == "paimon_spark"
            else "PaimonLakeTable.new_read_builder()"
        )
        raise RuntimeError(
            f"{fmt}: merge-engine=aggregation with hll_sketch "
            f"fields {bad} is not supported through the data source "
            f"(the union is a JVM aggregate); use {builder}"
        )


class PaimonBatchReader(DataSourceReader):
    def __init__(
        self,
        table_path: str,
        schema,
        claim_filters: bool = True,
        snapshot_id=None,
        tag=None,
        timestamp_millis=None,
        audit: bool = False,
    ):
        self.table_path = table_path
        self.table_schema = schema
        self._predicate = None
        # time travel: resolved by the ReadBuilder at plan time
        # (with_snapshot / with_tag / with_timestamp, table.py)
        self._tt_snapshot = snapshot_id
        self._tt_tag = tag
        self._tt_timestamp = timestamp_millis
        # $audit_log: every STORED row, merge-free, leading rowkind
        # string. Filters are never claimed (the audit schema leads
        # with rowkind; Spark applies everything row-level).
        self._audit = audit
        if audit:
            claim_filters = False
        # Spark 4.1 reuses ONE reader instance for all queries over a
        # temp view (and for a .load() DataFrame reused across
        # actions) and only calls pushFilters when the query has
        # filters — pushdown state from query A could leak into
        # query B. Two defenses: (1) partitions() CONSUMES the pushed
        # predicate — it moves into the per-query partition objects
        # and self._predicate resets to None, so a later filterless
        # query can at worst lose pruning, never rows; (2) views
        # additionally register with claim_filters=False (every filter
        # yielded back; Spark applies it row-level) so even the pruning
        # in a concurrently-planned query cannot misfire.
        self._claim_filters = claim_filters

    def pushFilters(self, filters):
        self._predicate = None
        if not self._claim_filters:
            yield from filters
            return
        supported, unsupported = _filters_to_predicate(
            filters, self.table_schema.field_names
        )
        if supported:
            from paimon_python_spark.predicate import PredicateBuilder

            pb = PredicateBuilder(self.table_schema.field_names)
            self._predicate = pb.and_predicates([p for _, p in supported])
            if self.table_schema.is_primary_key_table():
                # merge-correctness: value-column predicates must run
                # AFTER the merge — keep them Spark-side; planner still
                # prunes with the key sub-predicate
                yield from (f for f, _ in supported)
        yield from unsupported

    def partitions(self):
        from paimon_python_spark.table import Table

        table = Table("ds", self.table_path, self.table_schema)
        if not self._audit:  # audit is merge-free: every engine reads
            _check_ds_merge_supported(self.table_schema, "paimon_spark")
        rb = table.new_read_builder()
        if self._tt_tag is not None:
            rb = rb.with_tag(self._tt_tag)
        if self._tt_snapshot is not None:
            rb = rb.with_snapshot(self._tt_snapshot)
        if self._tt_timestamp is not None:
            rb = rb.with_timestamp(self._tt_timestamp)
        predicate, self._predicate = self._predicate, None  # consume
        if predicate is not None:
            rb = rb.with_filter(predicate)
        splits = rb.new_scan().plan().splits()
        fmt = self.table_schema.file_format()
        return [
            _SplitPartition(s.file_paths(), fmt, predicate) for s in splits
        ] or [_SplitPartition([], fmt, predicate)]

    def read(self, partition: _SplitPartition) -> Iterator:
        import pyarrow as pa
        import pyarrow.dataset as ds

        from paimon_python_spark.types import spark_schema_to_pa
        from paimon_python_spark.write import KIND_COL, SEQ_COL

        schema = self.table_schema
        if not partition.paths:
            return
        logical_pa = spark_schema_to_pa(schema.spark_schema)
        is_pk = schema.is_primary_key_table()
        if is_pk:
            physical = pa.schema(
                list(logical_pa)
                + [pa.field(SEQ_COL, pa.int64()), pa.field(KIND_COL, pa.int32())]
            )
        else:
            physical = logical_pa

        # residual ROW-level filter: pushFilters claimed these filters
        # for append tables (Spark will not re-apply them), so stats
        # file-pruning alone is not enough — a file whose min/max span
        # the predicate still contains non-matching rows
        residual = (
            partition.predicate.to_arrow()
            if (partition.predicate is not None and not is_pk)
            else None
        )
        if partition.fmt == "avro":
            from paimon_python_spark.avro_codec import read_avro_table

            frames = []
            for p in partition.paths:
                with open(p, "rb") as f:
                    names, rows = read_avro_table(f.read())
                frames.append(
                    pa.table(
                        {
                            fld.name: pa.array(
                                [
                                    r[names.index(fld.name)]
                                    if fld.name in names
                                    else None
                                    for r in rows
                                ],
                                fld.type,
                            )
                            for fld in physical
                        }
                    )
                )
            tbl = pa.concat_tables(frames)
            if residual is not None:
                tbl = ds.dataset(tbl).to_table(filter=residual)
        else:
            tbl = ds.dataset(
                partition.paths, format=partition.fmt, schema=physical
            ).to_table(filter=residual)

        if self._audit:
            # $audit_log: every STORED row, merge-free, rowkind first
            # (+I for append tables; PK rows decode KIND_COL)
            pdf = tbl.to_pandas()
            if is_pk:
                pdf["rowkind"] = (
                    pdf[KIND_COL]
                    .map({0: "+I", 1: "-U", 2: "+U", 3: "-D"})
                    .fillna("+I")
                )
            else:
                pdf["rowkind"] = "+I"
            out_pa = pa.schema(
                [pa.field("rowkind", pa.string())] + list(logical_pa)
            )
            tbl = pa.Table.from_pandas(
                pdf[["rowkind"] + [f.name for f in schema.spark_schema.fields]],
                schema=out_pa,
                preserve_index=False,
            )
            yield from tbl.to_batches(max_chunksize=4096)
            return

        if is_pk:
            # executor-local merge: this partition IS one (partition,
            # bucket) — all runs for these keys are in hand — through
            # the one in-task merge kernel (engines it cannot express
            # were refused at plan time by _check_ds_merge_supported).
            # A declared sequence.field (possibly multi-field) orders
            # before the arrival sequence, via a composite rank.
            from paimon_python_spark.agg_merge import (
                merge_group,
                order_rank,
                sequence_fields,
            )

            keys = list(
                dict.fromkeys(schema.partition_keys + schema.primary_keys)
            )
            seq_fields = sequence_fields(schema.options)
            tbl = tbl.append_column(
                "__ord", order_rank(*[tbl[c] for c in seq_fields + [SEQ_COL]])
            )
            tbl = merge_group(tbl, schema, keys, "__ord", KIND_COL)
            tbl = tbl.select(logical_pa.names).cast(logical_pa)
        yield from tbl.to_batches(max_chunksize=4096)


class PaimonStreamReader(DataSourceStreamReader):
    """PARTITION-PLANNED streaming over an engine table (the
    scale-correct ``DataSourceStreamReader`` shape — micro-batch rows
    never pass through the driver): snapshot-id offsets;
    ``partitions(start, end)`` plans one ``InputPartition`` per file
    ADDed by the commits in ``(start, end]`` (APPEND/OVERWRITE deltas;
    COMPACT rewrites skipped, as in the engine's incremental reader)
    and executors read the files directly. Mirrors
    lake_datasource.PaimonLakeStreamReader, including the
    expired-history bootstrap."""

    def __init__(
        self,
        table_path: str,
        schema,
        changelog: bool = False,
        scan_mode=None,
        scan_snapshot=None,
        scan_timestamp=None,
    ):
        self.table_path = table_path
        self.table_schema = schema
        self.changelog = changelog
        if schema.is_primary_key_table() and not changelog:
            # raw delta rows of a PK table carry no RowKind — a -D would
            # stream as a plain row and resurrect the delete downstream
            raise ValueError(
                "paimon_spark streaming source: PK tables stream "
                "changelog rows — add .option('changelog', 'true') "
                "(adds a _row_kind column: +I/-U/+U/-D), or use "
                "read_incremental() for batch windows"
            )
        # start position (scan.mode / scan.snapshot-id /
        # scan.timestamp-millis): resolved EAGERLY at subscribe time;
        # restarts resume the checkpoint (see the lake twin)
        self.scan_mode = scan_mode
        self.scan_snapshot = scan_snapshot
        self.scan_timestamp = scan_timestamp
        if scan_mode == "latest-full" and schema.is_primary_key_table():
            raise ValueError(
                "paimon_spark streaming source: scan.mode=latest-full on "
                "a PK table needs a MERGED full-state first batch, which "
                "the per-file partition plan cannot express; use a batch "
                "read + scan.mode=latest"
            )

    def _earliest(self) -> int:
        """Earliest snapshot still on disk (snapshot expiry can trim
        history), or 0 for an empty table. Non-numeric snapshot-*.json
        strays parse per-file — one bad name must not silently disable
        the expired-history guard."""
        sdir = os.path.join(self.table_path, "snapshot")
        ids = []
        try:
            names = os.listdir(sdir)
        except FileNotFoundError:
            return 0
        for n in names:
            if n.startswith("snapshot-") and n.endswith(".json"):
                try:
                    ids.append(int(n[len("snapshot-") : -len(".json")]))
                except ValueError:
                    continue
        return min(ids) if ids else 0

    def _resolved_start(self):
        """Start-mode resolution (None = the default earliest replay)."""
        from paimon_python_spark.metadata import MetadataStore

        store = MetadataStore(self.table_path)
        latest = store.latest_snapshot_id() or 0
        if self.scan_mode == "latest":
            return {"snapshot": latest}
        if self.scan_mode == "latest-full":
            if latest:
                return {"snapshot": latest, "bootstrap": latest}
            return {"snapshot": 0}
        if self.scan_snapshot is not None:
            return {"snapshot": max(0, int(self.scan_snapshot) - 1)}
        if self.scan_timestamp is not None:
            # offset = newest commit at-or-before ts; the first commit
            # AFTER ts streams first
            best = 0
            for sid in range(1, latest + 1):
                p = os.path.join(store.snapshot_dir, f"snapshot-{sid}.json")
                if not os.path.exists(p):
                    continue
                if store.read_snapshot(sid).time_millis <= self.scan_timestamp:
                    best = sid
            if not best:
                # predates every surviving snapshot: the default
                # earliest replay (with its expired-history bootstrap)
                # IS the complete answer — fall through to it
                return None
            return {"snapshot": best}
        return None

    def initialOffset(self) -> dict:
        start = self._resolved_start()
        if start is not None:
            return start
        earliest = self._earliest()
        if earliest > 1:
            if self.table_schema.is_primary_key_table():
                # a changelog replay must see every commit's kinds in
                # order; the earliest surviving FULL state interleaves
                # superseded versions with no commit boundary — refuse
                # rather than emit an ambiguous bootstrap batch
                raise RuntimeError(
                    "paimon_spark streaming source: PK changelog stream "
                    f"cannot bootstrap from expired history (earliest "
                    f"surviving snapshot {earliest}); raise snapshot "
                    "retention or seed the consumer from a batch read"
                )
            # expired history: bootstrap with the earliest surviving
            # snapshot's FULL live state, then stream deltas — a
            # delta-only replay from 0 would lose the expired commits
            return {"snapshot": earliest, "bootstrap": earliest}
        return {"snapshot": 0}

    def latestOffset(self) -> dict:
        from paimon_python_spark.metadata import MetadataStore

        return {
            "snapshot": MetadataStore(self.table_path).latest_snapshot_id()
            or 0
        }

    def partitions(self, start: dict, end: dict):
        from paimon_python_spark.metadata import MetadataStore
        from paimon_python_spark.streaming.incremental import _delta_files

        store = MetadataStore(self.table_path)
        fmt = self.table_schema.file_format()
        files = []
        delta_from = start["snapshot"]
        bootstrap = start.get("bootstrap")
        if bootstrap is not None:
            files.extend(store.live_files(store.read_snapshot(int(bootstrap))))
            delta_from = int(bootstrap)
        elif start["snapshot"] + 1 < self._earliest():
            raise RuntimeError(
                "paimon_spark streaming source: offset "
                f"{start['snapshot']} predates the earliest surviving "
                f"snapshot {self._earliest()} (history expired). Restart "
                "the stream with a fresh checkpoint, or raise snapshot "
                "retention to hold expiry back."
            )
        files.extend(_delta_files(store, delta_from, end["snapshot"]))
        parts = [
            _SplitPartition([os.path.join(self.table_path, f.path)], fmt)
            for f in files
        ]
        # Spark requires ≥1 partition per batch even when every commit
        # in the range was a COMPACT rewrite (no new rows)
        return parts or [_SplitPartition([], fmt)]

    def read(self, partition: _SplitPartition):
        from paimon_python_spark.streaming.incremental import ROWKIND_NAMES
        from paimon_python_spark.write import KIND_COL

        schema = self.table_schema
        names = schema.field_names
        for p in partition.paths:
            if schema.file_format() == "avro":
                from paimon_python_spark.avro_codec import read_avro_table

                with open(p, "rb") as f:
                    fnames, rows = read_avro_table(f.read())
                idx = [fnames.index(n) for n in names]
                if self.changelog:
                    ki = fnames.index(KIND_COL) if KIND_COL in fnames else None
                    yield from (
                        tuple(r[i] for i in idx)
                        + (
                            ROWKIND_NAMES.get(
                                int(r[ki]) if ki is not None else 0, "+I"
                            ),
                        )
                        for r in rows
                    )
                else:
                    yield from (tuple(r[i] for i in idx) for r in rows)
            else:
                import pyarrow.dataset as ds

                dset = ds.dataset([p], format=schema.file_format())
                if self.changelog:
                    have_kind = KIND_COL in dset.schema.names
                    cols_in = names + ([KIND_COL] if have_kind else [])
                    tbl = dset.to_table(columns=cols_in)
                    kinds = (
                        [
                            ROWKIND_NAMES.get(int(k), "+I")
                            for k in tbl.column(KIND_COL).to_pylist()
                        ]
                        if have_kind
                        else ["+I"] * tbl.num_rows
                    )
                    cols = [tbl.column(c).to_pylist() for c in names]
                    yield from zip(*cols, kinds)
                else:
                    tbl = dset.to_table(columns=names)
                    cols = [tbl.column(c).to_pylist() for c in names]
                    yield from zip(*cols)

    def commit(self, end: dict) -> None:
        pass  # snapshot files are immutable; nothing to release


class _WrittenFiles(WriterCommitMessage):
    def __init__(self, paths: List[str]):
        self.paths = paths


class PaimonBatchWriter(DataSourceWriter):
    """``df.write.format("paimon_spark")`` for APPEND and PRIMARY-KEY
    tables.

    Executor side (``write``): each task buffers its rows and writes
    one parquet file per layout group directly into the table's data
    dir — APPEND tables group by partition values; PK tables
    additionally route each row to ``pmod(hash(trimmed key), buckets)``
    with the engine's verified Python replica of Spark's Murmur3
    ``F.hash`` (bucketing.bucket_of — property-tested against F.hash,
    so front-door files land in the SAME buckets the builder's shuffle
    assigns) and stamp ``_SEQUENCE_NUMBER``/``_VALUE_KIND`` columns, a
    fresh sequence range past the table's snapshots with the task's
    partition id in the high bits (same-key rows in different tasks
    never tie). The hive layout (``__pt_<k>=<v>/__bucket=<b>/``) is
    byte-identical to the builder writer's.

    Driver side (``commit``): only when EVERY task succeeded, the
    reported files are described (footer stats + configured blooms,
    via the same DataFileHarvester the builder uses) and committed
    through the engine's snapshot protocol — one atomic snapshot.
    ``abort`` removes the orphan files, so a failed job leaves no
    visible state (readers only ever see committed snapshots either
    way).

    Scale note: each task writes one file per layout group it SEES — a
    wide unpartitioned input can emit tasks×groups small files per
    commit. Pre-``df.repartition(partition cols)`` to bound file
    counts, or use ``write_dataframe``, whose bucket shuffle lands
    exactly one file per group.
    """

    def __init__(self, table_path: str, schema, overwrite: bool):
        self.table_path = table_path
        self.schema = schema
        self.overwrite = overwrite
        if schema.file_format() != "parquet":
            raise RuntimeError(
                f"paimon_spark writer: file.format={schema.file_format()!r} "
                "— use write_dataframe(), which routes avro through the "
                "engine codec"
            )
        self.is_pk = schema.is_primary_key_table()
        self.seq_base = 0
        if self.is_pk:
            from paimon_python_spark.metadata import MetadataStore
            from paimon_python_spark.write import _SEQ_COMMIT_SHIFT

            base_snapshot = (
                MetadataStore(table_path).latest_snapshot_id() or 0
            )
            self.seq_base = (base_snapshot + 1) << _SEQ_COMMIT_SHIFT

    def write(self, iterator) -> _WrittenFiles:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        from paimon_python_spark.types import spark_schema_to_pa
        from paimon_python_spark.write import (
            KIND_COL,
            PART_PREFIX,
            ROWKIND_INSERT,
            SEQ_COL,
        )

        schema = self.schema
        # partition values shape the directory layout but the columns
        # stay IN the file too (the engine's writer keeps them and uses
        # shadow __pt_ dirs purely for pruning)
        part_keys = list(schema.partition_keys)
        data_cols = [f.name for f in schema.spark_schema.fields]
        pa_schema = spark_schema_to_pa(schema.spark_schema)
        rk_idx = None
        if self.is_pk:
            from paimon_python_spark.bucketing import bucket_of

            trimmed = schema.trimmed_primary_keys
            key_types = [schema.spark_schema[k].dataType for k in trimmed]
            nb = schema.num_buckets()
            # rowkind.field: kinds come from the USER column (the
            # builder's write_dataframe contract) — ignoring it here
            # would silently write a CDC frame's -D rows as inserts
            rk_field = schema.options.get("rowkind.field")
            if rk_field:
                if rk_field not in data_cols:
                    raise ValueError(
                        f"rowkind.field {rk_field!r} is not a table column"
                    )
                rk_idx = data_cols.index(rk_field)
        groups: dict = {}
        for row in iterator:
            key = tuple(row[k] for k in part_keys)
            if self.is_pk:
                key = (
                    key,
                    bucket_of([row[k] for k in trimmed], key_types, nb),
                )
            groups.setdefault(key, []).append(tuple(row[c] for c in data_cols))

        # same-key rows in two tasks must not tie on sequence: the
        # task's partition id rides the high bits (mirrors the builder's
        # post-shuffle monotonic id, whose high bits are the partition).
        # The seq layout fits 12 pid bits (33..45, below the commit
        # shift) — beyond 4096 tasks ties would silently return, so
        # refuse loudly instead.
        pid = 0
        if self.is_pk:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            pid = ctx.partitionId() if ctx is not None else 0
            if pid >= 4096:
                raise ValueError(
                    "paimon_spark PK writer: input has >= 4096 "
                    "partitions — sequence high bits would collide and "
                    "same-key rows could tie; repartition the input "
                    "below 4096 tasks or use write_dataframe()"
                )

        data_dir = os.path.join(self.table_path, "data")
        written: List[str] = []
        seq = self.seq_base + (pid << 33)
        for key, rows in groups.items():
            pvals, bucket = (key, None) if not self.is_pk else key
            subdir = data_dir
            for k, v in zip(part_keys, pvals):
                sval = "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)
                subdir = os.path.join(subdir, f"{PART_PREFIX}{k}={sval}")
            if bucket is not None:
                subdir = os.path.join(subdir, f"__bucket={bucket}")
            os.makedirs(subdir, exist_ok=True)
            fname = f"part-{uuid.uuid4().hex}-py.parquet"
            path = os.path.join(subdir, fname)
            cols = list(zip(*rows)) if rows else [[] for _ in data_cols]
            arrays = [
                pa.array(c, type=f.type) for c, f in zip(cols, pa_schema)
            ]
            fields = list(pa_schema)
            if self.is_pk:
                n = len(rows)
                arrays.append(pa.array(range(seq, seq + n), pa.int64()))
                fields.append(pa.field(SEQ_COL, pa.int64(), False))
                kinds = (
                    [_decode_rowkind(r[rk_idx]) for r in rows]
                    if rk_idx is not None
                    else [ROWKIND_INSERT] * n
                )
                arrays.append(pa.array(kinds, pa.int32()))
                fields.append(pa.field(KIND_COL, pa.int32(), False))
                seq += n
            table = pa.Table.from_arrays(arrays, schema=pa.schema(fields))
            pq.write_table(table, path)
            written.append(os.path.relpath(path, self.table_path))
        return _WrittenFiles(written)

    def commit(self, messages) -> None:
        from paimon_python_spark.table import Table
        from paimon_python_spark.write import (
            BatchTableCommit,
            CommitMessage,
            DataFileHarvester,
        )

        table = Table("datasource.write", self.table_path, self.schema)
        harvester = DataFileHarvester(table)
        files = [
            harvester.file_meta(os.path.join(self.table_path, rel))
            for m in messages
            if m is not None
            for rel in m.paths
        ]
        commit = BatchTableCommit(
            table, overwrite=self.overwrite, static_partition=None
        )
        commit.commit([CommitMessage(files)])

    def abort(self, messages) -> None:
        for m in messages:
            if m is None:
                continue
            for rel in m.paths:
                p = os.path.join(self.table_path, rel)
                if os.path.exists(p):
                    os.remove(p)


class PaimonSystemReader(DataSourceReader):
    """Reader for ``.load("<table dir>$<system table>")`` — the engine
    twin of lake_datasource.PaimonLakeSystemReader (same pure metadata
    walk the Table methods wrap; metadata-sized, one partition)."""

    def __init__(self, table_path: str, name: str, snapshot_id=None):
        self.table_path = table_path
        self.sys_name = name
        self.snapshot_id = snapshot_id

    def partitions(self):
        return [InputPartition(0)]

    def read(self, partition) -> Iterator:
        from paimon_python_spark.table import engine_system_table_data

        _, rows = engine_system_table_data(
            self.table_path, self.sys_name, self.snapshot_id
        )
        yield from rows


class PaimonIncrementalReader(DataSourceReader):
    """Batch ``incremental-between`` reads over an engine table — the
    engine twin of lake_datasource.PaimonLakeIncrementalReader (same
    reuse of the streaming reader's planning)."""

    def __init__(self, table_path: str, schema, start_id, end_id, changelog):
        self._sr = PaimonStreamReader(table_path, schema, changelog=changelog)
        self.start_id = int(start_id)
        self.end_id = int(end_id)

    def partitions(self):
        return self._sr.partitions(
            {"snapshot": self.start_id}, {"snapshot": self.end_id}
        )

    def read(self, partition) -> Iterator:
        return self._sr.read(partition)


class PaimonSparkDataSource(DataSource):
    """``spark.dataSource.register(PaimonSparkDataSource)`` then
    ``spark.read.format("paimon_spark").option("path", table_path)``.
    A ``$<name>`` path suffix serves the system tables
    (``.load(f"{table_path}$snapshots")`` etc.)."""

    @classmethod
    def name(cls) -> str:
        return "paimon_spark"

    def _split_path(self):
        # SQL `CREATE TABLE ... USING paimon_spark OPTIONS(path ...)`
        # hands the catalog-qualified location through as a file: URI
        return _split_ds_path(self.options, "paimon_spark")

    def _table_path(self) -> str:
        return self._split_path()[0]

    def _changelog(self) -> bool:
        return self.options.get("changelog", "false").lower() == "true"

    def _time_travel(self):
        return _parse_time_travel(self.options, "paimon_spark")

    def schema(self):
        path, sys_name = self._split_path()
        if sys_name == "audit_log":
            return T.StructType(
                [T.StructField("rowkind", T.StringType(), False)]
                + list(_load_schema(path).spark_schema.fields)
            )
        if sys_name is not None:
            from paimon_python_spark.table import engine_system_table_schema

            # O(1): schema() must not walk manifests
            return engine_system_table_schema(sys_name)
        spark_schema = _load_schema(path).spark_schema
        if self._changelog():
            # streaming changelog mode: rows carry their RowKind
            return T.StructType(
                list(spark_schema.fields)
                + [T.StructField("_row_kind", T.StringType(), False)]
            )
        return spark_schema

    def reader(self, schema: T.StructType):
        path, sys_name = self._split_path()
        inc = self.options.get("incremental-between")
        if inc is not None:
            # batch incremental query: '3,7' or 'tagA,tagB' — rows of
            # the commits in (start, end]
            if sys_name is not None or any(
                v is not None for v in self._time_travel()
            ):
                raise ValueError(
                    "paimon_spark: incremental-between does not combine "
                    "with system tables or time-travel options"
                )
            lo, _, hi = inc.partition(",")
            if not hi:
                raise ValueError(
                    "incremental-between takes 'start,end' (snapshot ids "
                    "or tag names)"
                )

            def bound(token):
                token = token.strip()
                if token.lstrip("-").isdigit():
                    return int(token)
                from paimon_python_spark.table import Table
                from paimon_python_spark.tags import resolve_tag

                return resolve_tag(
                    Table("inc", path, _load_schema(path)), token
                )

            return PaimonIncrementalReader(
                path,
                _load_schema(path),
                bound(lo),
                bound(hi),
                changelog=self._changelog(),
            )
        if self._changelog():
            raise ValueError(
                "paimon_spark: option('changelog') applies to readStream "
                "and incremental-between batch reads"
            )
        sid, tag, ts = self._time_travel()
        if sys_name == "audit_log":
            # data-scale: planned like a normal read (one partition per
            # split), merge-free with a leading rowkind column
            return PaimonBatchReader(
                path,
                _load_schema(path),
                snapshot_id=sid,
                tag=tag,
                timestamp_millis=ts,
                audit=True,
            )
        if sys_name is not None:
            if tag is not None or ts is not None:
                raise ValueError(
                    "paimon_spark system tables time-travel with "
                    "snapshot-id only"
                )
            return PaimonSystemReader(path, sys_name, snapshot_id=sid)
        claim = self.options.get("claim-filters", "true").lower() != "false"
        return PaimonBatchReader(
            path,
            _load_schema(path),
            claim_filters=claim,
            snapshot_id=sid,
            tag=tag,
            timestamp_millis=ts,
        )

    def streamReader(self, schema) -> PaimonStreamReader:
        if self._split_path()[1] is not None:
            raise ValueError(
                "paimon_spark: system tables ($snapshots, $files, ...) "
                "are batch reads"
            )
        if any(v is not None for v in self._time_travel()):
            raise ValueError(
                "paimon_spark: snapshot-id / tag / timestamp-millis are "
                "batch read options; streaming start positions are "
                "scan.mode / scan.snapshot-id / scan.timestamp-millis"
            )
        mode, sid, ts = _parse_scan_start(self.options)
        path = self._table_path()
        return PaimonStreamReader(
            path,
            _load_schema(path),
            changelog=self._changelog(),
            scan_mode=mode,
            scan_snapshot=sid,
            scan_timestamp=ts,
        )

    def writer(self, schema: T.StructType, overwrite: bool) -> PaimonBatchWriter:
        if self._split_path()[1] is not None:
            raise ValueError(
                "paimon_spark: system tables ($snapshots, $files, ...) "
                "are read-only"
            )
        if any(v is not None for v in self._time_travel()):
            raise ValueError(
                "paimon_spark: snapshot-id / tag / timestamp-millis are "
                "read options — a write always commits past the latest "
                "snapshot (rewind with rollback_to)"
            )
        path = self._table_path()
        return PaimonBatchWriter(path, _load_schema(path), overwrite)


def register_sql_view(spark, table, name: str) -> None:
    """Expose an engine table to plain Spark SQL as a named view:
    ``register_sql_view(spark, t, "orders")`` then
    ``spark.sql("SELECT ... FROM orders")``.

    Reads route through the registered Python Data Source (pushed
    filters, executor-local PK merge). This is the supported SQL front
    door: ``CREATE TABLE ... USING paimon_spark OPTIONS(path ...)``
    parses, but Spark does not forward storage options to Python
    data-source readers for catalog tables (verified against PySpark
    4.1), so catalog-table reads cannot resolve the path."""
    register(spark)
    (
        spark.read.format("paimon_spark")
        .option("path", table.table_path)
        # a view shares one reader across queries; claiming filters
        # would leak one query's pushdown into the next (see
        # PaimonBatchReader) — Spark applies all filters itself here
        .option("claim-filters", "false")
        .load()
        .createOrReplaceTempView(name)
    )


def register(spark) -> None:
    # Required for pushFilters() sources on Spark 4 (see
    # lake_datasource.register_lake); runtime-settable.
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PaimonSparkDataSource)
