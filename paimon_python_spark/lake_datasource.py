"""Spark Python Data Source for REAL Paimon lakes:
``spark.read.format("paimon_lake").option("path", lake_dir)`` and
``spark.readStream.format("paimon_lake")`` — the idiomatic Spark-4
front door onto a Flink/Spark-JVM-written (or engine-written) lake,
on the same driver-side planner every lake read uses.

- batch: one ``InputPartition`` per merge group for PK lakes (a
  (partition, bucket), or a whole partition written under two bucket
  counts — ``paimon_import.bucket_groups``; the executor-local merge
  needs no shuffle) and one per file for append lakes, each carrying a
  spec of ``paimon_import.lake_read_specs``; executors run
  ``paimon_import.read_lake_task``, the lake read task the builder's
  ``mapInArrow`` merge runs too, and yield its Arrow batches. Every
  merge engine, cross-partition and dynamic-bucket lakes and
  ``sequence.field`` ordering merge there exactly as in the builder.
  Pushed filters re-enter the engine predicate tree so partition
  pruning, manifest-stats skipping, bloom probes, and PK bucket
  pruning all fire before partitions exist.
- streaming: snapshot-id offsets; each micro-batch plans one
  ``InputPartition`` per delta file of the commits in ``(start, end]``
  (COMPACT rewrites skipped — the engine incremental contract) and
  executors read the files directly through the same task
  (``DataSourceStreamReader`` — micro-batch rows never pass through
  the driver, so a high-rate source scales with the cluster, not the
  driver).
- write: ``df.write.format("paimon_lake")`` on append lakes AND
  PK lakes (fixed and dynamic bucket), ``mode("append")`` /
  ``mode("overwrite")`` — executors route rows (PK: the same murmur
  bucket hash the builder uses) and hand each (partition, bucket)
  group to the builder's lake write task
  (``paimon_lake.write_lake_task``); the driver commits one spec
  snapshot (an OVERWRITE commit DELETEs every previously-visible
  file, like overwrite_lake). See ``PaimonLakeBatchWriter`` for the
  refusals (cross-partition lakes, changelog-producing PK appends).

Deletion-vector lakes read transparently: each file's (index, offset,
length) triple rides its partition spec and the task decodes the
roaring bitmap and drops marked positions before the merge. Field-id
schema evolution reads transparently too: pre-evolution files read by
their own column names (precomputed per-schema column maps ride the
specs) and remap to the current schema, NULL-filling dropped ids.
Stored timestamps read back in the session zone of the reading job,
as Spark's own file readers take them.

Scope guards (clear refusals, not wrong answers): the two shapes the
builder sends to its key-window merge refuse here with a pointer to
``PaimonLakeTable`` reads, since the data source has no shuffle plan to
fall back to — a merge group over the in-task byte budget
(``paimon_import.merge_budget``) and ``hll_sketch``
aggregation fields (``datasource._check_ds_merge_supported``). Option
errors (``agg_merge.check_merge_options``) raise on the driver. PK-lake
streaming points at ``stream_lake_snapshots`` (changelog semantics
don't fit a plain row stream).

Reference parity: the reference exposes lakes only through its own
builder API (java_implementation.py); a native Spark ``format(...)``
entry is capability this bridge adds.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, List, Optional

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)


class _LakeGroupPartition(InputPartition):
    def __init__(self, spec: str, predicate=None):
        self.spec = spec
        self.predicate = predicate  # engine Predicate, pickled with the partition


class PaimonLakeBatchReader(DataSourceReader):
    def __init__(
        self,
        table_path: str,
        claim_filters: bool = True,
        snapshot_id: "Optional[int]" = None,
        tag: "Optional[str]" = None,
        timestamp_millis: "Optional[int]" = None,
        audit: bool = False,
    ):
        from paimon_python_spark.paimon_lake import read_paimon_schema

        self.table_path = table_path
        self.info = read_paimon_schema(table_path)
        self._predicate = None
        # $audit_log: every STORED row, merge-free, leading rowkind;
        # DV marks NOT applied; filters never claimed (audit schema
        # leads with rowkind — Spark applies everything row-level)
        self._audit = audit
        if audit:
            claim_filters = False
        self._claim_filters = claim_filters
        # time travel (Paimon's scan.snapshot-id / scan.tag-name /
        # scan.timestamp-millis): resolved by the read builder at plan
        # time; rows project to the CURRENT schema by field id, the
        # builder-path contract (with_snapshot / with_tag /
        # with_timestamp in paimon_lake.py)
        self._tt_snapshot = snapshot_id
        self._tt_tag = tag
        self._tt_timestamp = timestamp_millis

    def pushFilters(self, filters):
        from paimon_python_spark.datasource import _filters_to_predicate

        self._predicate = None
        if not self._claim_filters:
            yield from filters
            return
        names = [f.name for f in self.info.spark_schema.fields]
        supported, unsupported = _filters_to_predicate(filters, names)
        if supported:
            from paimon_python_spark.predicate import PredicateBuilder

            pb = PredicateBuilder(names)
            self._predicate = pb.and_predicates([p for _, p in supported])
            if self.info.primary_keys:
                # merge-correctness: value predicates re-apply AFTER the
                # merge — Spark keeps them; the planner still prunes on
                # the key/partition sub-predicate
                yield from (f for f, _ in supported)
        yield from unsupported

    def partitions(self):
        from paimon_python_spark import paimon_import as pi
        from paimon_python_spark.paimon_import import plan_paimon_dv
        from paimon_python_spark.paimon_lake import (
            PaimonLakeTable,
            _pruned_entries,
        )

        info = self.info
        from paimon_python_spark.datasource import _check_ds_merge_supported

        if not self._audit:  # audit is merge-free: every engine reads
            _check_ds_merge_supported(info, "paimon_lake")
        b = PaimonLakeTable(self.table_path).new_read_builder()
        if self._tt_tag is not None:
            b = b.with_tag(self._tt_tag)
        if self._tt_snapshot is not None:
            b = b.with_snapshot(self._tt_snapshot)
        if self._tt_timestamp is not None:
            b = b.with_timestamp(self._tt_timestamp)
        # DV lakes: per-file (index file, offset, length) triples ride
        # the partition specs; executors decode the roaring bitmaps and
        # drop marked positions BEFORE the merge, in the same read task
        # every builder read runs.
        # Planned under the SAME snapshot as the file set: a time-travel
        # read must see that snapshot's marks, not today's.
        dv_ranges = (
            []  # audit shows stored rows: DV marks are NOT applied
            if self._audit
            else plan_paimon_dv(
                self.table_path, b._snapshot_id, snapshot=b._snapshot_dict()
            )
        )
        predicate, self._predicate = self._predicate, None  # consume
        if predicate is not None:
            b = b.with_filter(predicate)
        entries = _pruned_entries(self.table_path, info, b)
        src = pi.lake_file_src(self.table_path, info)
        if info.primary_keys:
            budget = pi.merge_budget(info)
            if pi.max_group_bytes(entries) > budget:
                # one merge group would merge in a single task's memory
                # — same scale guard as the builder path, which falls
                # back to its exact key-window merge; the data source
                # has no window plan to fall back to, so it refuses
                # rather than OOM a task
                raise RuntimeError(
                    "paimon_lake data source: a merge group (a (partition, "
                    "bucket), or a whole partition with mixed bucket "
                    "counts) exceeds the max-group-bytes budget of the "
                    f"in-task merge ({budget} bytes on disk); read via "
                    "PaimonLakeTable(path).new_read_builder() (exact "
                    "key-window merge, spills instead of OOMing)"
                )
        # audit: every STORED row, merge-free, with its row kind
        audit = {"merge": False, "row_kind": "rowkind"} if self._audit else {}
        specs = pi.lake_read_specs(
            self.table_path, info, entries, src, dv_ranges, **audit
        )
        return [_LakeGroupPartition(json.dumps(s), predicate) for s in specs] or [
            _LakeGroupPartition(json.dumps({"files": []}))
        ]

    def read(self, partition: _LakeGroupPartition) -> Iterator:
        from paimon_python_spark.paimon_import import read_lake_task

        spec = json.loads(partition.spec)
        if not spec["files"]:
            return
        # engines the task cannot express were refused at plan time
        tbl = read_lake_task(spec, self.info)
        if self._audit:
            # $audit_log: the row kind leads
            tbl = tbl.select(["rowkind", *tbl.column_names[:-1]])
        if partition.predicate is not None and not spec["kv"]:
            # append lakes: we CLAIMED these filters, so apply row-level
            import pyarrow.dataset as ds

            tbl = ds.dataset(tbl).to_table(
                filter=partition.predicate.to_arrow()
            )
        yield from tbl.to_batches(max_chunksize=4096)


class PaimonLakeStreamReader(DataSourceStreamReader):
    """PARTITION-PLANNED streaming over a live lake (the scale-correct
    ``DataSourceStreamReader`` shape — micro-batch rows never pass
    through the driver): snapshot-id offsets; ``partitions(start, end)``
    plans one ``InputPartition`` per delta file of the commits in
    ``(start, end]`` (COMPACT rewrites skipped — the engine incremental
    contract) and executors read the files directly, field-id-remapping
    pre-evolution files exactly like the batch reader.

    PK lakes stream as CHANGELOG rows: ``.option("changelog", "true")``
    appends a ``_row_kind`` column (+I/-U/+U/-D from each file's
    ``_VALUE_KIND``) and plans each commit's CHANGELOG manifests when a
    changelog-producer wrote them (the -U/+U pairs deltas alone cannot
    reconstruct), falling back to the commit's delta kv files —
    exactly ``read_lake_incremental(use_changelog=True)`` semantics,
    micro-batched. Without the option a PK lake stream refuses (a raw
    -D would resurrect the delete downstream)."""

    def __init__(
        self,
        table_path: str,
        changelog: bool = False,
        scan_mode: "Optional[str]" = None,
        scan_snapshot: "Optional[int]" = None,
        scan_timestamp: "Optional[int]" = None,
        consumer_id: "Optional[str]" = None,
    ):
        from paimon_python_spark.paimon_lake import read_paimon_schema

        self.table_path = table_path
        self.changelog = changelog
        self.info = read_paimon_schema(table_path)
        if self.info.primary_keys and not changelog:
            raise RuntimeError(
                "paimon_lake streaming source: PK lakes stream changelogs "
                "— add .option('changelog', 'true') (emits a _row_kind "
                "column), or use stream_lake_snapshots(path, "
                "use_changelog=True)"
            )
        # start position (Paimon's scan.mode / scan.snapshot-id /
        # scan.timestamp-millis): resolved EAGERLY at subscribe time
        # (initialOffset); a restart resumes from the checkpoint and
        # never re-resolves, exactly like the builder's
        # stream_lake_snapshots start modes
        self.scan_mode = scan_mode
        self.scan_snapshot = scan_snapshot
        self.scan_timestamp = scan_timestamp
        # consumer-id (Paimon's in-lake durable progress, spec
        # consumer/consumer-<id>): the registered offset takes
        # PRECEDENCE over scan-start options — real Paimon's contract —
        # and every checkpointed batch writes progress back, so a JVM
        # streaming job can resume where this stream left off (and
        # snapshot expiration protects unconsumed snapshots)
        self.consumer_id = consumer_id
        if consumer_id is not None:
            import re as _re

            from paimon_python_spark.paimon_lake import _CONSUMER_ID_RE

            if not _re.match(_CONSUMER_ID_RE, consumer_id):
                raise ValueError(f"invalid consumer id {consumer_id!r}")
        # scan.mode=latest-full on a PK lake (r12): the first batch
        # plans as MERGED (partition, bucket) GROUP partitions running
        # the batch reader's in-task merge (DV marks applied, +I row
        # kinds), then deltas stream as changelog — the same eligibility
        # gate as the batch DS, so an oversized group refuses toward
        # stream_lake_snapshots(scan_mode='latest-full').

    def _earliest(self) -> int:
        """Earliest snapshot still on disk, or 0 when the lake has no
        commits yet. Inline expiration (snapshot.num-retained.max) can
        trim history, so a fresh stream must not assume snapshot 1
        exists."""
        sdir = os.path.join(self.table_path, "snapshot")
        ids = []
        try:
            names = os.listdir(sdir)
        except FileNotFoundError:
            return 0
        for n in names:
            if n.startswith("snapshot-"):
                try:
                    ids.append(int(n.split("-")[1]))
                except ValueError:
                    continue  # stray non-numeric name must not break
                    # (or silently disable) the expiry guard
        return min(ids) if ids else 0

    def _changelog_ids(self) -> list:
        from paimon_python_spark.paimon_lake import _list_changelog_ids

        return _list_changelog_ids(self.table_path)

    def _resolved_start(self) -> "Optional[dict]":
        """Start-mode resolution (None = the default earliest replay).
        Runs once at subscribe time; restarts resume the checkpoint."""
        import json as _json

        latest = self.latestOffset()["snapshot"]
        if self.scan_mode == "latest":
            # only commits AFTER subscribe stream
            return {"snapshot": latest}
        if self.scan_mode == "latest-full":
            # first batch = the full current state, then deltas (PK
            # lakes bootstrap as merged bucket groups, see partitions)
            if latest:
                return {"snapshot": latest, "bootstrap": latest}
            return {"snapshot": 0}
        if self.scan_snapshot is not None:
            # from-snapshot: streaming starts AT that commit
            return {"snapshot": max(0, int(self.scan_snapshot) - 1)}
        if self.scan_timestamp is not None:
            # from-timestamp: first commit with timeMillis > ts streams
            # first — the offset is the newest commit at-or-before ts
            sdir = os.path.join(self.table_path, "snapshot")
            best = 0
            try:
                names = os.listdir(sdir)
            except FileNotFoundError:
                names = []
            for n in names:
                if not n.startswith("snapshot-"):
                    continue
                try:
                    with open(os.path.join(sdir, n)) as f:
                        s = _json.load(f)
                except (ValueError, OSError):
                    continue
                if (
                    int(s.get("timeMillis") or 0) <= self.scan_timestamp
                    and int(s["id"]) > best
                ):
                    best = int(s["id"])
            if not best:
                # the timestamp predates every surviving snapshot: the
                # complete answer IS the default earliest replay (which
                # bootstraps past trimmed history) — falling through
                # instead of returning offset 0, which the expired-
                # history guard would reject
                return None
            return {"snapshot": best}
        return None

    def commit(self, end: dict) -> None:
        # a CHECKPOINTED batch publishes in-lake consumer progress
        # (JVM-interoperable; expiry protection) — Structured
        # Streaming's own checkpoint stays the source of truth for
        # replay, the consumer file mirrors it for the rest of the
        # ecosystem
        if self.consumer_id is not None and end.get("snapshot", 0) >= 0:
            from paimon_python_spark.paimon_lake import write_lake_consumer

            nxt = int(end["snapshot"]) + 1
            if nxt >= 1:
                write_lake_consumer(self.table_path, self.consumer_id, nxt)

    def initialOffset(self) -> dict:
        if self.consumer_id is not None:
            from paimon_python_spark.paimon_lake import read_lake_consumer

            nxt = read_lake_consumer(self.table_path, self.consumer_id)
            if nxt is not None:
                # registered progress wins over scan-start options
                return {"snapshot": max(0, int(nxt) - 1)}
        start = self._resolved_start()
        if start is not None:
            return start
        earliest = self._earliest()
        if earliest > 1:
            if self.info.primary_keys:
                # CHANGELOG LIFECYCLE DECOUPLING: expired snapshots may
                # survive as changelog/changelog-<id> entries — replay
                # starts at the earliest one (ids missing from the dir
                # carried no changelog, so the replay is complete)
                cl_ids = self._changelog_ids() if self.changelog else []
                if cl_ids and min(cl_ids) < earliest:
                    return {"snapshot": min(cl_ids) - 1}
                # a changelog replay must see every commit's kinds in
                # order; the earliest surviving FULL state interleaves
                # superseded versions with no commit boundary — refuse
                # rather than emit an ambiguous bootstrap batch
                raise RuntimeError(
                    "paimon_lake streaming source: PK changelog stream "
                    f"cannot bootstrap from expired history (earliest "
                    f"surviving snapshot {earliest}); raise snapshot "
                    "retention, set changelog.num-retained.* to decouple "
                    "changelog history, or seed the consumer from a "
                    "batch read"
                )
            # expired history: bootstrap with the earliest surviving
            # snapshot's FULL state (its base manifests still hold every
            # live file from the expired commits), then stream deltas —
            # a delta-only replay from 0 would silently lose those rows
            return {"snapshot": earliest, "bootstrap": earliest}
        return {"snapshot": 0}

    def latestOffset(self) -> dict:
        from paimon_python_spark.paimon_import import latest_paimon_snapshot_id

        try:
            return {"snapshot": latest_paimon_snapshot_id(self.table_path)}
        except FileNotFoundError:
            return {"snapshot": 0}

    def partitions(self, start: dict, end: dict):
        from paimon_python_spark.paimon_import import (
            lake_file_src,
            lake_read_specs,
            plan_paimon_changelog,
            plan_paimon_delta,
            plan_paimon_files,
        )

        info = self.info
        src = lake_file_src(self.table_path, info)
        parts: List[_LakeGroupPartition] = []
        bootstrap = start.get("bootstrap")
        delta_from = start["snapshot"]
        entries: list = []
        if bootstrap is not None and info.primary_keys:
            # merged full-state bootstrap (latest-full on a PK lake):
            # the BATCH reader's group planner pins the bootstrap
            # snapshot — (partition, bucket) groups, per-file colmaps,
            # DV triples, the bucket-local size guard — and the stream
            # read() delegates each group to its in-task merge, tagging
            # rows +I
            br = PaimonLakeBatchReader(
                self.table_path,
                claim_filters=False,
                snapshot_id=int(bootstrap),
            )
            for p in br.partitions():
                spec = json.loads(p.spec)
                if spec["files"]:
                    # merged rows are inserts in changelog terms
                    spec["row_kind"] = "_row_kind"
                    parts.append(_LakeGroupPartition(json.dumps(spec)))
            delta_from = int(bootstrap)
        elif bootstrap is not None:
            # first batch after expired history: the earliest surviving
            # snapshot's FULL live file set, then deltas after it
            entries.extend(
                (e, None)
                for e in plan_paimon_files(self.table_path, int(bootstrap))
            )
            delta_from = int(bootstrap)
        elif start["snapshot"] + 1 < self._earliest():
            # a restarted stream whose checkpoint fell behind the
            # retention window cannot replay the expired deltas — fail
            # loudly instead of silently dropping rows. Exception:
            # decoupled changelog entries still cover the gap.
            cl_ids = self._changelog_ids() if self.changelog else []
            if not cl_ids or start["snapshot"] + 1 < min(cl_ids):
                raise RuntimeError(
                    "paimon_lake streaming source: offset "
                    f"{start['snapshot']} predates the earliest surviving "
                    f"snapshot {self._earliest()} (history expired under "
                    "snapshot.num-retained.max). Restart the stream with "
                    "a fresh checkpoint, or register a consumer / raise "
                    "retention / set changelog.num-retained.* to hold "
                    "replayable history."
                )
        for sid in range(delta_from + 1, end["snapshot"] + 1):
            from paimon_python_spark.paimon_lake import (
                _read_snapshot_or_changelog,
            )

            try:
                snap, from_cl_dir = _read_snapshot_or_changelog(
                    self.table_path, sid
                )
            except FileNotFoundError:
                if self.changelog:
                    # an expired id with no decoupled entry inside a
                    # covered range carried no changelog — nothing to
                    # replay for it
                    continue
                raise
            cl = (
                plan_paimon_changelog(self.table_path, sid, snap=snap)
                if self.changelog
                else []
            )
            if from_cl_dir or str(
                snap.get("commitKind", "APPEND")
            ).upper() == "COMPACT":
                # decoupled entries replay their changelog only (delta
                # manifests died with the snapshot); a COMPACT rewrite
                # carries no new rows — EXCEPT its changelog manifests
                # under full-compaction producers, which are exactly
                # what a changelog consumer wants
                entries.extend((e, sid) for e in cl)
                continue
            entries.extend(
                (e, sid)
                for e in (cl if cl else plan_paimon_delta(self.table_path, sid))
            )
        specs = lake_read_specs(
            self.table_path,
            info,
            [e for e, _sid in entries],
            src,
            grouped=False,
            merge=False,
            row_kind="_row_kind" if self.changelog else None,
        )
        parts.extend(_LakeGroupPartition(json.dumps(s)) for s in specs)
        # Spark requires ≥1 partition per batch even when every commit
        # in the range was a COMPACT rewrite (no new rows)
        return parts or [_LakeGroupPartition(json.dumps({"files": []}))]

    def read(self, partition: _LakeGroupPartition):
        from paimon_python_spark.paimon_import import read_lake_task

        spec = json.loads(partition.spec)
        if spec["files"]:
            tbl = read_lake_task(spec, self.info)
            yield from tbl.to_batches(max_chunksize=4096)


class _LakeWrittenFiles(WriterCommitMessage):
    def __init__(self, files, new_hashes=None):
        #: the task's per-file meta rows (paimon_lake.write_lake_task)
        self.files = files
        #: dynamic-bucket only: {(part_json, bucket): [new key hashcodes]}
        #: — the commit unions them into the buckets' HASH index files
        self.new_hashes = new_hashes


#: largest HASH index (bytes of index files) a dynamic-bucket
#: front-door write routes against: the serialized copy rides to every
#: task, so beyond it the writer refuses toward write_lake_pk_append's
#: distributed-join routing
_DYN_INDEX_COPY_LIMIT_BYTES = 32 << 20


class PaimonLakeBatchWriter(DataSourceArrowWriter):
    """``df.write.format("paimon_lake")`` — the engine as a lake
    participant through the Spark-native front door: APPEND lakes and
    PRIMARY-KEY lakes (fixed and dynamic bucket), ``mode("append")``
    and ``mode("overwrite")`` (whole-table INSERT OVERWRITE, like
    overwrite_lake).

    Executor side (``write``): each task keeps only what is specific
    to this door — routing (PK lakes: ``abs(murmur(BinaryRow(bucket
    key))) % num_buckets``, the FixedBucketRowKeyExtractor routing
    write_lake_pk_append uses; dynamic lakes: the plan-time HASH index
    below), an ``__input_order`` column and ``__row_kind`` from
    ``rowkind.field``, all added to its Arrow table. Then it runs
    ``paimon_lake.write_lake_task``, the same lake write task the
    builder's ``mapInArrow`` tasks run: it groups the rows by
    (partition, bucket) and writes each group's exact Arrow values as
    data files directly in the lake's ``<k>=<v>/bucket-<b>/`` layout,
    with the builder's key columns, sequence numbers (plan-time base
    past every live file's max, or ``sequence.field``), value stats
    and file indexes. Driver side (``commit``): only when every task
    succeeded, one spec snapshot commits atomically, its entries built
    by the builder's ``lake_add_entry`` (OVERWRITE also commits
    ``lake_delete_entry`` for every previously-visible file and drops
    the DV index, exactly like overwrite_lake); ``abort`` removes the
    orphan files — readers only ever see committed snapshots either
    way.

    DYNAMIC-BUCKET lakes (``'bucket' = '-1'``): existing keys route
    against a size-capped plan-time copy of the spec HASH index, new
    keys assign deterministically by ``|hash| %
    dynamic-bucket.initial-buckets`` (unshuffled tasks agree without
    coordination), and the commit unions the new hashcodes into the
    touched buckets' index files (overwrite rebuilds the index from
    the new data).

    Refusals (with pointers, not half-support): cross-partition PK
    lakes (the retraction protocol is a driver-side DataFrame concern —
    write_lake_pk_append / overwrite_lake), changelog-producing PK
    appends (same pointer), bucket keys routing cannot hash, and
    dynamic lakes whose HASH index exceeds
    ``_DYN_INDEX_COPY_LIMIT_BYTES``.

    Scale note: each task writes one file per (partition, bucket) it
    SEES — a wide unpartitioned input can emit tasks×groups small
    level-0 files per commit. Pre-``df.repartition(partition cols)``
    to bound file counts, or use ``write_lake_pk_append``, whose
    routing shuffle lands exactly one file per group."""

    def __init__(self, table_path: str, overwrite: bool):
        from paimon_python_spark.paimon_import import plan_paimon_files
        from paimon_python_spark.paimon_lake import (
            _check_bucket_key,
            read_paimon_schema,
        )

        self.table_path = table_path
        self.info = read_paimon_schema(table_path)
        self.overwrite = overwrite
        info = self.info
        self.is_pk = bool(info.primary_keys)
        fmt = info.options.get("file.format", "parquet")
        if fmt not in ("parquet", "orc", "avro"):
            raise RuntimeError(
                f"paimon_lake writer: file.format={fmt!r} is not a "
                "spec data-file format (parquet/orc/avro)"
            )
        self.fmt = fmt
        self.num_buckets = 1
        self.bucket_cols = None
        self.dynamic = False
        self.seq_field = None
        self.rk_field = None
        if self.is_pk:
            self.num_buckets = int(info.options.get("bucket", "-1"))
            if self.num_buckets < 1:
                # DYNAMIC BUCKET ('bucket' = '-1'): tasks route existing
                # keys against a plan-time copy of the spec HASH index
                # (size-capped — beyond it the distributed-join routing
                # of write_lake_pk_append is the right tool); NEW keys
                # assign deterministically by |hash| % initial-buckets,
                # so unshuffled tasks seeing the same key agree without
                # coordination; commit unions the new hashcodes into the
                # touched buckets' index files. CROSS-PARTITION updates
                # (PK ⊉ partition keys) still refuse: their retraction
                # protocol is a driver-side DataFrame concern.
                if bool(info.partition_keys) and not (
                    set(info.partition_keys) <= set(info.primary_keys)
                ):
                    raise ValueError(
                        "paimon_lake writer: CROSS-PARTITION update lakes "
                        "need the retraction-emitting router — use "
                        "write_lake_pk_append() / overwrite_lake()"
                    )
                self.dynamic = True
                self._load_dyn_index()
            producer = info.options.get("changelog-producer", "none")
            if producer != "none" and not overwrite:
                raise ValueError(
                    f"paimon_lake writer: changelog-producer={producer!r} "
                    "PK appends derive changelog at commit time — use "
                    "write_lake_pk_append()"
                )
            self.bucket_cols = _check_bucket_key(info)
            self.seq_field = info.options.get("sequence.field") or None
            # rowkind.field: kinds come from the USER column (the
            # builder's contract) — all +I otherwise
            self.rk_field = info.options.get("rowkind.field") or None
        # plan-time (driver-side) state carried to tasks/commit — only
        # the modes that need it pay the manifest plan (a plain append
        # uses neither the sequence base nor the before-set)
        self.seq_base = 0
        self.before = None
        if self.is_pk or overwrite:
            before = plan_paimon_files(table_path)
            self.seq_base = (
                max((e.max_seq for e in before), default=-1) + 1
            )
            if overwrite:
                #: overwrite replaces the WHOLE visible table — DELETE
                #: entries for every file live at plan time (same race
                #: window as overwrite_lake, which plans at call time)
                self.before = before

    def _load_dyn_index(self) -> None:
        """Driver-side snapshot of the lake's HASH index for executor
        routing: per partition, hash-sorted (hashcodes, buckets) arrays
        packed as bytes (compact to serialize into tasks), plus the old
        index file name per (partition, bucket) for the commit-time
        union. Size-capped: a serialized copy rides to every task, so
        beyond ``_DYN_INDEX_COPY_LIMIT_BYTES`` the front door refuses
        toward the builder's distributed-join routing."""
        import numpy as np

        from paimon_python_spark.dynamic_bucket import (
            _part_json_of,
            read_hash_index_file,
        )
        from paimon_python_spark.paimon_import import (
            decode_binary_row,
            plan_paimon_hash_index,
        )

        info = self.info
        part_keys = list(info.partition_keys)
        part_types = [info.spark_schema[k].dataType for k in part_keys]
        entries = plan_paimon_hash_index(self.table_path)
        limit = _DYN_INDEX_COPY_LIMIT_BYTES
        total = sum(int(e.get("_FILE_SIZE") or 0) for e in entries)
        if total > limit:
            raise RuntimeError(
                f"paimon_lake writer: dynamic-bucket HASH index is "
                f"{total} bytes (limit {limit}) — front-door tasks route "
                f"against a serialized copy; use write_lake_pk_append() "
                f"(distributed-join routing)"
            )
        per: dict = {}
        self._dyn_old_files: dict = {}
        for e in entries:
            pvals_list = (
                decode_binary_row(bytes(e["_PARTITION"]), part_types)
                if part_keys
                else []
            )
            pj = _part_json_of(dict(zip(part_keys, pvals_list)), part_keys)
            b = int(e["_BUCKET"])
            h = read_hash_index_file(
                os.path.join(self.table_path, "index", e["_FILE_NAME"])
            )
            per.setdefault(pj, []).append((h, b))
            self._dyn_old_files[(pj, b)] = e["_FILE_NAME"]
        packed: dict = {}
        for pj, pairs in per.items():
            hs = np.concatenate([p[0] for p in pairs])
            bs = np.concatenate(
                [np.full(len(p[0]), p[1], dtype=np.int32) for p in pairs]
            )
            order = np.argsort(hs, kind="stable")
            hs, bs = hs[order], bs[order]
            keep = np.ones(len(hs), dtype=bool)
            keep[1:] = hs[1:] != hs[:-1]
            hs, bs = hs[keep], bs[keep]
            packed[pj] = (hs.tobytes(), bs.tobytes())
        self._dyn_index = packed
        # deterministic modulus for NEW keys: any consistent choice is
        # valid (the index records it); initial-buckets/assigner-
        # parallelism sizes the spread, the builder's capacity planner
        # grows buckets on its own writes
        init = (
            info.options.get("dynamic-bucket.initial-buckets")
            or info.options.get("dynamic-bucket.assigner-parallelism")
            or "1"
        )
        self._dyn_mod = max(1, int(init))

    def _route_dynamic(self, tbl, hashes):
        """Route a task's rows against the plan-time HASH index
        snapshot: existing hashcodes keep their bucket (binary search
        per partition); new ones assign |hash| % initial-buckets —
        deterministic, so unshuffled tasks seeing the same key always
        agree. Returns (buckets, {(part_json, bucket): hashcodes}):
        an append records the NEW hashcodes for the commit's index
        union; an overwrite records EVERY hashcode — the commit
        rebuilds the index from scratch (old keys are gone)."""
        import numpy as np

        from paimon_python_spark.paimon_import import logical_value

        info = self.info
        part_keys = list(info.partition_keys)
        part_types = [info.spark_schema[k].dataType for k in part_keys]
        part_cols = [tbl.column(k).to_pylist() for k in part_keys]
        pjs = np.array(
            [
                json.dumps(
                    {
                        k: logical_value(c[i], t)
                        for k, c, t in zip(part_keys, part_cols, part_types)
                    }
                )
                for i in range(tbl.num_rows)
            ],
            dtype=object,
        )
        buckets = np.empty(tbl.num_rows, dtype=np.int64)
        new_by_group: dict = {}
        for pj in set(pjs.tolist()):
            mask = pjs == pj
            hs = hashes[mask]
            hb, bb = self._dyn_index.get(pj, (b"", b""))
            sorted_h = np.frombuffer(hb, dtype=np.int32)
            bucket_of = np.frombuffer(bb, dtype=np.int32)
            if len(sorted_h):
                pos = np.searchsorted(sorted_h, hs).clip(
                    0, len(sorted_h) - 1
                )
                found = sorted_h[pos] == hs
                assigned = np.where(
                    found,
                    bucket_of[pos],
                    np.abs(hs.astype(np.int64)) % self._dyn_mod,
                )
            else:
                found = np.zeros(len(hs), dtype=bool)
                assigned = np.abs(hs.astype(np.int64)) % self._dyn_mod
            buckets[mask] = assigned
            rec = np.ones(len(hs), dtype=bool) if self.overwrite else ~found
            for b in np.unique(assigned[rec]):
                new_by_group[(pj, int(b))] = np.unique(
                    hs[rec][assigned[rec] == b]
                ).tolist()
        return buckets, new_by_group

    def write(self, iterator) -> _LakeWrittenFiles:
        """Executor-side task write: route the task's rows, then run
        ``paimon_lake.write_lake_task``, which writes one set of files
        per (partition, bucket) group. Parallel tasks share the
        plan-time sequence base — same-key collisions across tasks
        tie-break by file order at read, exactly like real Paimon's
        per-writer sequence generators."""
        import numpy as np
        import pyarrow as pa

        from paimon_python_spark.datasource import _decode_rowkind
        from paimon_python_spark.paimon_lake import (
            _vectorized_fixed_buckets,
            lake_task_table,
            write_lake_task,
        )

        info = self.info
        tbl = lake_task_table(iterator, info)
        new_hashes = None
        if tbl is not None and self.is_pk:
            keys = [
                tbl.column(c).to_pandas(
                    date_as_object=True, integer_object_nulls=True
                )
                for c in self.bucket_cols
            ]
            key_types = [
                info.spark_schema[c].dataType for c in self.bucket_cols
            ]
            if self.dynamic:
                buckets, new_hashes = self._route_dynamic(
                    tbl, _vectorized_fixed_buckets(keys, key_types, None)
                )
            else:
                buckets = _vectorized_fixed_buckets(
                    keys, key_types, self.num_buckets
                )
            tbl = tbl.append_column("__bucket", pa.array(buckets, pa.int32()))
            # same-key events sequence in arrival order, as the
            # builder's monotonic id orders them
            tbl = tbl.append_column(
                "__input_order", pa.array(np.arange(tbl.num_rows))
            )
            if self.rk_field:
                if self.rk_field not in tbl.column_names:
                    raise ValueError(
                        f"rowkind.field {self.rk_field!r} is not a table column"
                    )
                kinds = [
                    _decode_rowkind(v)
                    for v in tbl.column(self.rk_field).to_pylist()
                ]
                tbl = tbl.append_column("__row_kind", pa.array(kinds, pa.int32()))
        files = write_lake_task(
            tbl,
            self.table_path,
            info,
            self.fmt,
            self.is_pk,
            seq_base=self.seq_base,
            sequence_field=self.seq_field,
        )
        return _LakeWrittenFiles(files, new_hashes=new_hashes or None)

    def commit(self, messages) -> None:
        from paimon_python_spark.dynamic_bucket import union_hash_index
        from paimon_python_spark.paimon_lake import (
            _commit_lake_snapshot,
            lake_add_entry,
            lake_delete_entry,
        )

        info = self.info
        metas = [r for m in messages if m is not None for r in m.files]
        entries = [lake_add_entry(info, r, self.num_buckets) for r in metas]
        n_rows = sum(int(r["rows"]) for r in metas)
        dyn_new: dict = {}
        for m in messages:
            if m is not None and m.new_hashes:
                for k, hs in m.new_hashes.items():
                    dyn_new.setdefault(tuple(k), []).extend(hs)
        if not entries and not self.overwrite:
            return  # empty append is a successful no-op, like every
            # standard Spark sink (parquet/JDBC) — no snapshot commits
        # union each touched bucket's NEW key hashcodes into a fresh
        # index file; an overwrite's HASH index restarts from the new
        # data alone (the commit drops its partitions' old entries)
        hash_index = (
            union_hash_index(
                self.table_path,
                list(info.partition_keys),
                dyn_new,
                {} if self.overwrite else self._dyn_old_files,
            )
            if self.dynamic and dyn_new
            else None
        )
        # whole-table INSERT OVERWRITE (overwrite_lake semantics):
        # DELETE every file visible at plan time, explicit new total —
        # even an empty df commits (it replaces the table with nothing)
        _commit_lake_snapshot(
            self.table_path,
            info,
            [lake_delete_entry(info, e) for e in self.before or []] + entries,
            n_rows,
            commit_kind="OVERWRITE" if self.overwrite else "APPEND",
            hash_index=hash_index,
            total_record_count=n_rows if self.overwrite else None,
        )

    def abort(self, messages) -> None:
        from paimon_python_spark.paimon_lake import lake_group_dir

        for m in messages:
            if m is None:
                continue
            for r in m.files:
                pvals = json.loads(r["part_json"])
                ddir = lake_group_dir(
                    self.table_path, self.info, pvals, r["bucket"]
                )
                for name in (r["file_name"], r["extra_idx"]):
                    p = os.path.join(ddir, name) if name else None
                    if p and os.path.exists(p):
                        os.remove(p)


class PaimonLakeSystemReader(DataSourceReader):
    """Reader for ``.load("<lake dir>$<system table>")`` — Paimon's
    system-table suffix through the Spark-native front door. The rows
    are the SAME pure metadata walk the builder methods wrap
    (lake_system_table_data); metadata-sized, one partition."""

    def __init__(self, table_path: str, name: str, snapshot_id=None):
        self.table_path = table_path
        self.sys_name = name
        self.snapshot_id = snapshot_id

    def partitions(self):
        return [InputPartition(0)]

    def read(self, partition) -> Iterator:
        from paimon_python_spark.paimon_lake import lake_system_table_data

        _, rows = lake_system_table_data(
            self.table_path, self.sys_name, self.snapshot_id
        )
        yield from rows


class PaimonLakeIncrementalReader(DataSourceReader):
    """Batch ``incremental-between`` reads (Paimon's incremental query:
    rows of the commits in ``(start, end]``) — reuses the STREAMING
    reader's per-delta-file partition planning and executor read
    verbatim, so batch windows and micro-batches are the same code
    path. PK lakes need ``.option("changelog", "true")`` (rows carry
    ``_row_kind``), exactly like the stream."""

    def __init__(
        self, table_path: str, start_id: int, end_id: int, changelog: bool
    ):
        self._sr = PaimonLakeStreamReader(table_path, changelog=changelog)
        self.start_id = int(start_id)
        self.end_id = int(end_id)

    def partitions(self):
        return self._sr.partitions(
            {"snapshot": self.start_id}, {"snapshot": self.end_id}
        )

    def read(self, partition) -> Iterator:
        return self._sr.read(partition)


def _resolve_inc_bound(table_path: str, token: str) -> int:
    """A bound of ``incremental-between``: a snapshot id, or a TAG name
    (Paimon accepts both)."""
    token = token.strip()
    if token.lstrip("-").isdigit():
        return int(token)
    from paimon_python_spark.paimon_import import read_paimon_tag

    return int(read_paimon_tag(table_path, token)["id"])


class PaimonLakeDataSource(DataSource):
    """``spark.dataSource.register(PaimonLakeDataSource)`` then
    ``spark.read.format("paimon_lake").option("path", lake_dir)``.
    A ``$<name>`` path suffix serves the system tables
    (``.load(f"{lake_dir}$snapshots")`` etc.), like Paimon's own Spark
    connector."""

    @classmethod
    def name(cls) -> str:
        return "paimon_lake"

    def _split_path(self):
        from paimon_python_spark.datasource import _split_ds_path

        return _split_ds_path(self.options, "paimon_lake")

    def _table_path(self) -> str:
        return self._split_path()[0]

    def _changelog(self) -> bool:
        return self.options.get("changelog", "false").lower() == "true"

    def _time_travel(self):
        """snapshot-id / tag / timestamp-millis batch read options
        (at most one) — shared parser, see datasource._parse_time_travel."""
        from paimon_python_spark.datasource import _parse_time_travel

        return _parse_time_travel(self.options, "paimon_lake")

    def schema(self):
        from paimon_python_spark.paimon_lake import read_paimon_schema

        path, sys_name = self._split_path()
        if sys_name == "audit_log":
            return T.StructType(
                [T.StructField("rowkind", T.StringType(), False)]
                + list(read_paimon_schema(path).spark_schema.fields)
            )
        if sys_name is not None:
            from paimon_python_spark.paimon_lake import (
                lake_system_table_schema,
            )

            # O(1): schema() must not walk manifests (the rows walk
            # runs once, in the reader)
            return lake_system_table_schema(sys_name)
        spark_schema = read_paimon_schema(path).spark_schema
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
            # batch incremental query (Paimon's incremental-between):
            # '3,7' or 'tagA,tagB' — rows of the commits in (start, end]
            if sys_name is not None or any(
                v is not None for v in self._time_travel()
            ):
                raise ValueError(
                    "paimon_lake: incremental-between does not combine "
                    "with system tables or time-travel options"
                )
            lo, _, hi = inc.partition(",")
            if not hi:
                raise ValueError(
                    "incremental-between takes 'start,end' (snapshot ids "
                    "or tag names)"
                )
            return PaimonLakeIncrementalReader(
                path,
                _resolve_inc_bound(path, lo),
                _resolve_inc_bound(path, hi),
                changelog=self._changelog(),
            )
        if self._changelog():
            raise ValueError(
                "paimon_lake: option('changelog') applies to readStream "
                "and incremental-between batch reads"
            )
        sid, tag, ts = self._time_travel()
        if sys_name == "audit_log":
            # data-scale: planned like a normal read (one partition per
            # bucket group), merge-free with a leading rowkind column
            return PaimonLakeBatchReader(
                path,
                snapshot_id=sid,
                tag=tag,
                timestamp_millis=ts,
                audit=True,
            )
        if sys_name is not None:
            if tag is not None or ts is not None:
                raise ValueError(
                    "paimon_lake system tables time-travel with "
                    "snapshot-id only"
                )
            return PaimonLakeSystemReader(path, sys_name, snapshot_id=sid)
        claim = self.options.get("claim-filters", "true").lower() != "false"
        return PaimonLakeBatchReader(
            path,
            claim_filters=claim,
            snapshot_id=sid,
            tag=tag,
            timestamp_millis=ts,
        )

    def streamReader(self, schema) -> PaimonLakeStreamReader:
        if self._split_path()[1] is not None:
            raise ValueError(
                "paimon_lake: system tables ($snapshots, $files, ...) are "
                "batch reads"
            )
        if any(v is not None for v in self._time_travel()):
            raise ValueError(
                "paimon_lake: snapshot-id / tag / timestamp-millis are "
                "batch read options; streaming start positions are "
                "scan.mode / scan.snapshot-id / scan.timestamp-millis"
            )
        mode, sid, ts = self._scan_start()
        return PaimonLakeStreamReader(
            self._table_path(),
            changelog=self._changelog(),
            scan_mode=mode,
            scan_snapshot=sid,
            scan_timestamp=ts,
            consumer_id=self.options.get("consumer-id"),
        )

    def _scan_start(self):
        from paimon_python_spark.datasource import _parse_scan_start

        return _parse_scan_start(self.options)

    def writer(self, schema, overwrite: bool) -> PaimonLakeBatchWriter:
        if self._split_path()[1] is not None:
            raise ValueError(
                "paimon_lake: system tables ($snapshots, $files, ...) are "
                "read-only"
            )
        if any(v is not None for v in self._time_travel()):
            raise ValueError(
                "paimon_lake: snapshot-id / tag / timestamp-millis are "
                "read options — a write always commits past the latest "
                "snapshot (rewind with rollback_lake)"
            )
        return PaimonLakeBatchWriter(self._table_path(), overwrite)


def register_lake(spark) -> None:
    # Spark 4 hard-errors (DATA_SOURCE_PUSHDOWN_DISABLED) at plan time
    # when a Python data source implements pushFilters() but the session
    # conf is off; it is runtime-settable, so flip it here so the source
    # works in ANY session, not just ones built via session.get_spark().
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(PaimonLakeDataSource)
