"""Read a REAL Apache Paimon warehouse table IN PLACE — no copy.

``paimon_import.import_paimon_table`` materializes a one-shot copy
through this engine's commit protocol; this module is the other usage
model the reference serves (reference
pypaimon/py4j/java_implementation.py:154-205 — ``TableScan.plan`` runs
against LIVE Paimon metadata on every scan): a Flink/Spark job may
still be writing the lake, so every read re-plans from the current
snapshot and streams the Paimon data files where they stand.

Surface mirrors the engine's own builder chain so a user can swap a
catalog table for a lake path without touching query code::

    t = PaimonLakeTable("/lake/db.db/orders")
    pb = t.new_read_builder().new_predicate_builder()
    df = (t.new_read_builder()
            .with_filter(pb.equal("o_orderpriority", "1-URGENT"))
            .with_projection(["o_orderkey", "o_totalprice"])
            .new_read().to_df())

Scale shape: planning is a driver-side metadata walk (manifest avro,
KB-sized — same cost class as the reference's JVM plan call); the data
read is a plain distributed Spark scan over the planned files, with
partition pruning BEFORE the scan (predicate evaluated against each
entry's decoded BinaryRow partition) and the full residual filter after
it, so Catalyst still sees a declarative plan (parquet pushdown +
column pruning apply per file). PK tables run the same distributed
merge recipe as the importer (``merge_paimon_pk_entries`` — window
dedup on max sequence number with the deterministic level/entry-order
tie-break), which shuffles once on (partition, key).

Deletion-vector tables read transparently: the snapshot's index
manifest is planned driver-side (``plan_paimon_dv`` — KB-scale
metadata), the roaring bitmaps decode DISTRIBUTED (mapInPandas over
the range list), and marked (file, position) pairs anti-join out of
the scan — broadcast below ~2M decoded marks (cardinality from the
index manifest, never compressed bytes), so the data never shuffles
for the delete filter.
"""

from __future__ import annotations

import struct
from typing import List, Optional

from paimon_python_spark._localdf import local_df
from paimon_python_spark.paimon_import import (
    PaimonFileEntry,
    PaimonSchemaInfo,
    logical_partition_values as _logical_partition_values,
    merge_paimon_pk_entries,
    plan_paimon_dv,
    plan_paimon_files,
    read_paimon_append_entries,
    read_paimon_schema,
    write_hint_atomic,
)
from paimon_python_spark.predicate import Predicate, PredicateBuilder


class _CrossLookupDone(Exception):
    """Control-flow marker: the cross-partition branch of the lookup
    changelog computed ``old_sub`` and skips the bucket-scoped path."""


class PaimonLakeTable:
    """Read-only handle on a real Paimon table path. Stateless: schema
    and snapshot are re-read at plan time so concurrent commits by the
    lake's owner (a running Flink job) are visible to the next query."""

    def __init__(self, table_path: str):
        self.table_path = table_path

    def schema_info(self) -> PaimonSchemaInfo:
        return read_paimon_schema(self.table_path)

    def new_read_builder(self) -> "PaimonLakeReadBuilder":
        return PaimonLakeReadBuilder(self)

    def row_count(self) -> int:
        """Exact table row count — metadata-only on append lakes (see
        :meth:`PaimonLakeReadBuilder.row_count`)."""
        return self.new_read_builder().row_count()

    def branch(self, name: str) -> "PaimonLakeTable":
        """Handle on branch ``name`` (Paimon's ``table$branch_<name>``):
        a full lake table over the branch's own snapshot chain and the
        shared file pool."""
        import os

        bp = _lake_branch_path(self.table_path, name)
        if not os.path.isdir(bp):
            raise ValueError(f"Branch {name!r} does not exist.")
        return PaimonLakeTable(bp)

    def branches(self) -> "List[str]":
        return list_lake_branches(self.table_path)

    # -- system tables (Paimon's table$snapshots / $files / $schemas /
    # $partitions), driver-built from the same metadata a scan plans --

    def snapshots(self):
        return _lake_system_snapshots(self.table_path)

    def files(self, snapshot_id: "Optional[int]" = None):
        return _lake_system_files(self.table_path, snapshot_id)

    def schemas(self):
        return _lake_system_schemas(self.table_path)

    def partitions(self, snapshot_id: "Optional[int]" = None):
        return _lake_system_partitions(self.table_path, snapshot_id)

    def manifests(self, snapshot_id: "Optional[int]" = None):
        """Manifest inventory — Paimon's ``table$manifests``."""
        return _lake_system_manifests(self.table_path, snapshot_id)

    def buckets(self, snapshot_id: "Optional[int]" = None):
        """Per-(partition, bucket) totals — Paimon's ``table$buckets``
        (the skew / rescale diagnostic)."""
        return _lake_system_buckets(self.table_path, snapshot_id)

    def tags(self):
        """Tags system table: (tag_name, snapshot_id) from the lake's
        ``tag/`` directory."""
        return _lake_system_df(self.table_path, "tags")

    def indexes(self, snapshot_id: "Optional[int]" = None):
        """Indexes system table: the snapshot's LIVE table-index
        entries — deletion vectors and dynamic-bucket HASH key indexes
        — one row per (index_type, partition, bucket, file). The
        driver-side metadata walk mirrors real Paimon's index manifest
        fold (spec ``IndexManifestEntry``)."""
        return _lake_system_df(self.table_path, "indexes", snapshot_id)

    def consumers(self):
        """Consumers system table (Paimon's ``table$consumers``):
        (consumer_id, next_snapshot) from the lake's ``consumer/``
        directory."""
        return _lake_system_df(self.table_path, "consumers")

    def options(self):
        """Options system table: (key, value) from the current schema."""
        return _lake_system_df(self.table_path, "options")

    def analyze(self, columns=None, exact: bool = False) -> int:
        """ANALYZE this lake (engine twin: ``Table.analyze``) — one-pass
        stats aggregate over the merged read, spec statistic file,
        ANALYZE snapshot. Returns the new snapshot id."""
        from paimon_python_spark.lake_statistics import analyze_lake

        return analyze_lake(self.table_path, columns=columns, exact=exact)

    def statistics(self, snapshot_id: "Optional[int]" = None):
        """Statistics system table — Paimon's ``table$statistics``: the
        newest ANALYZE's table-level totals + per-column colstat JSON,
        resolved by walking the snapshot chain back from ``snapshot_id``
        (spec: ordinary commits carry a null ``statistics`` field).
        Empty if the table was never analyzed; see
        :func:`paimon_python_spark.lake_statistics.analyze_lake`."""
        return _lake_system_df(self.table_path, "statistics", snapshot_id)

    def audit_log(self, snapshot_id: "Optional[int]" = None):
        """Audit-log system table over a REAL lake — Paimon's
        ``table$audit_log``: every STORED row (no merge, no
        drop-delete; deletion-vector marks are NOT applied — audit
        shows what the files hold) with a leading ``rowkind`` string
        column. Append lakes are all ``+I``. Engine-table twin:
        Table.audit_log (read.audit_log_df)."""
        return _lake_audit_log(self.table_path, snapshot_id)


class PaimonLakeReadBuilder:
    """Accumulates pushdowns against a lake table (mirrors the engine's
    ReadBuilder surface: with_filter / with_projection / with_snapshot)."""

    def __init__(self, table: PaimonLakeTable):
        self.table = table
        self._predicate: Optional[Predicate] = None
        self._projection: Optional[List[str]] = None
        self._snapshot_id: Optional[int] = None
        self._tag: Optional[str] = None
        self._limit: Optional[int] = None
        self._read_optimized: bool = False
        self._bucket_groups: Optional[set] = None

    def with_bucket_groups(self, groups: set) -> "PaimonLakeReadBuilder":
        """Restrict planning to an explicit set of (partition-values
        tuple, bucket) groups — partition values as LOGICAL Python
        values in partition-key order. The merge unit of a fixed-bucket
        PK lake is the (partition, bucket) group, so a reader that only
        needs some groups' merged state (the lookup changelog producer,
        point-lookup services) plans 1/num_buckets of the lake instead
        of all of it. Internal surface: callers must compute buckets
        with the SAME fixed_bucket hash the writer used."""
        self._bucket_groups = set(groups)
        return self

    def new_predicate_builder(self) -> PredicateBuilder:
        return PredicateBuilder(
            [f.name for f in self.table.schema_info().spark_schema.fields]
        )

    def with_filter(self, predicate: Predicate) -> "PaimonLakeReadBuilder":
        self._predicate = predicate
        return self

    def with_projection(self, projection: List[str]) -> "PaimonLakeReadBuilder":
        names = [f.name for f in self.table.schema_info().spark_schema.fields]
        for p in projection:
            if p not in names:
                raise ValueError(f"Field {p} not in table schema")
        self._projection = list(projection)
        return self

    def with_snapshot(self, snapshot_id: int) -> "PaimonLakeReadBuilder":
        self._snapshot_id = snapshot_id
        return self

    def with_tag(self, name: str) -> "PaimonLakeReadBuilder":
        """Read the snapshot a real-lake TAG pins (``tag/tag-<name>``,
        a full snapshot copy — readable even after the snapshot itself
        expired from ``snapshot/``)."""
        self._tag = name
        return self

    def with_timestamp(self, millis: int) -> "PaimonLakeReadBuilder":
        """Timestamp time travel (Paimon's ``scan.timestamp-millis``):
        read the NEWEST snapshot whose commit ``timeMillis`` is at or
        before ``millis``. Driver-side walk of the KB-scale snapshot
        chain; raises if every snapshot is newer."""
        import json
        import os

        from paimon_python_spark.paimon_import import (
            latest_paimon_snapshot_id,
        )

        sdir = os.path.join(self.table.table_path, "snapshot")
        best = None
        for n in os.listdir(sdir):
            if not n.startswith("snapshot-"):
                continue
            with open(os.path.join(sdir, n)) as f:
                s = json.load(f)
            if int(s.get("timeMillis") or 0) <= millis and (
                best is None or s["id"] > best
            ):
                best = s["id"]
        if best is None:
            raise ValueError(
                f"with_timestamp: no snapshot at or before {millis} "
                f"(earliest available is newer)"
            )
        self._snapshot_id = best
        return self

    def _snapshot_dict(self):
        from paimon_python_spark.paimon_import import read_paimon_tag

        if self._tag is not None:
            return read_paimon_tag(self.table.table_path, self._tag)
        return None

    def with_limit(self, limit: int) -> "PaimonLakeReadBuilder":
        """Split-granular limit (engine/reference ReadBuilder parity,
        scan.py:120-127): planning stops adding splits once the
        accumulated manifest row count reaches ``limit``, so a limited
        read of a huge lake opens only the first few files; the row
        cutoff itself is applied to the read output."""
        self._limit = limit
        return self

    def read_optimized(self) -> "PaimonLakeReadBuilder":
        """Paimon's ``$ro`` (read-optimized) scan: PK lakes read ONLY
        max-level files — the latest full-compaction result — with no
        merge window at all (level-0 upserts committed since the last
        compaction are NOT visible; that staleness-for-speed trade is
        the feature's contract). Deletion vectors still anti-join.
        Append lakes are unaffected."""
        self._read_optimized = True
        return self

    def read_type(self):
        """Projected row type (reference ``read_builder.py:57``):
        behaves as the list of projected field names and answers
        ``as_arrow()`` — same contract as the engine builder's."""
        from paimon_python_spark.table import ReadType

        info = self.table.schema_info()
        names = (
            list(self._projection)
            if self._projection is not None
            else [f.name for f in info.spark_schema.fields]
        )
        return ReadType(names, info.spark_schema)

    def row_count(self) -> int:
        """Exact row count of this read. METADATA-ONLY (no data file is
        opened, no Spark job runs) when the table is append-only and
        the predicate — if any — touches only partition keys: manifest
        row counts of the partition-pruned live file set, minus decoded
        deletion-vector cardinalities (index files are KB-scale, read
        driver-side). At lake scale that's a driver manifest walk
        instead of a full-table scan — the count(*) pushdown the JVM
        planners do from the same stats.

        PK tables and residual (non-partition) predicates fall back to
        counting the merged read: their visible row set depends on
        merge semantics a manifest cannot express (L0 upserts may be
        unmarked even in DV mode), so a metadata count could disagree
        with ``to_df()``. The fallback is always row-exact."""
        info = read_paimon_schema(self.table.table_path)
        residual = self._predicate is not None and not (
            self._predicate.fields() <= set(info.partition_keys)
        )
        if info.primary_keys or residual:
            n = self.new_read().to_df().count()
            return n if self._limit is None else min(n, self._limit)
        from paimon_python_spark.paimon_import import read_dv_index_entry

        entries = _pruned_entries(self.table.table_path, info, self)
        total = sum(e.row_count for e in entries)
        live = {e.file_name for e in entries}
        for r in plan_paimon_dv(
            self.table.table_path, self._snapshot_id, snapshot=self._snapshot_dict()
        ):
            if r.data_file_name in live:
                total -= int(
                    read_dv_index_entry(r.index_path, r.offset, r.length).size
                )
        return total if self._limit is None else min(total, self._limit)

    def min_max(self, cols: List[str]) -> dict:
        """Per-column (min, max) of this read, SQL semantics (NULLs
        ignored; all-NULL → (None, None)). METADATA-ONLY when the
        table is append-only with NO deletion vectors (a DV could have
        removed the extremal row), no limit, the predicate touches
        only partition keys, and every live file carries decodable
        stats for the column — the same manifest min/max the planner
        prunes by, folded instead of scanned. Partition columns fold
        their decoded partition values (hive-layout files don't carry
        them in stats). Any gap — PK merge semantics, DVs, residual
        predicate, missing/undecodable stats — falls back to a
        distributed aggregate over the exact read."""
        info = read_paimon_schema(self.table.table_path)
        names = {f.name for f in info.spark_schema.fields}
        for c in cols:
            if c not in names:
                raise ValueError(f"Field {c} not in table schema")

        def _scan_agg() -> dict:
            from pyspark.sql import functions as F

            row = (
                self.new_read()
                .to_df()
                .agg(
                    *[F.min(c).alias(f"__mn_{i}") for i, c in enumerate(cols)],
                    *[F.max(c).alias(f"__mx_{i}") for i, c in enumerate(cols)],
                )
                .first()
            )
            return {c: (row[i], row[len(cols) + i]) for i, c in enumerate(cols)}

        residual = self._predicate is not None and not (
            self._predicate.fields() <= set(info.partition_keys)
        )
        dv = plan_paimon_dv(
            self.table.table_path, self._snapshot_id, snapshot=self._snapshot_dict()
        )
        # Manifest string/binary min/max are TRUNCATED BOUNDS, not
        # values: the engine writer truncates at 64 chars with an
        # incremented upper bound (write.py _truncate_max) and JVM
        # writers default to metadata.stats-mode=truncate(16) — sound
        # for pruning, but folding them as exact extrema could return a
        # "max" that does not exist in the table. Non-partition string
        # columns therefore always take the distributed aggregate;
        # partition values are decoded exactly from the layout.
        from pyspark.sql import types as T

        truncated_stats = any(
            c not in info.partition_keys
            and isinstance(
                info.spark_schema[c].dataType, (T.StringType, T.BinaryType)
            )
            for c in cols
        )
        if (
            info.primary_keys
            or residual
            or dv
            or truncated_stats
            or self._limit is not None
        ):
            return _scan_agg()
        from paimon_python_spark.paimon_import import decode_entry_stats

        entries = _pruned_entries(self.table.table_path, info, self)
        acc: dict = {c: (None, None) for c in cols}
        infos = {info.id: info}
        for e in entries:
            oinfo = infos.get(e.schema_id)
            if oinfo is None:
                oinfo = read_paimon_schema(self.table.table_path, e.schema_id)
                infos[e.schema_id] = oinfo
            stats = (
                decode_entry_stats(e, oinfo, info)
                if any(c not in info.partition_keys for c in cols)
                else {}
            )
            pvals = (
                _logical_partition_values(info, e.partition)
                if any(c in info.partition_keys for c in cols)
                else {}
            )
            for c in cols:
                if c in info.partition_keys:
                    v = pvals.get(c)
                    if v is None:
                        continue  # default/NULL partition value
                    mn = mx = v
                else:
                    st = (stats or {}).get(c)
                    if st is None:
                        return _scan_agg()  # stats missing: stay exact
                    nc = st["null_count"]
                    if st["min"] is None or st["max"] is None:
                        if nc is not None and int(nc) == e.row_count:
                            continue  # all-NULL file contributes nothing
                        return _scan_agg()  # undecodable extremum
                    mn, mx = st["min"], st["max"]
                cur = acc[c]
                acc[c] = (
                    mn if cur[0] is None or mn < cur[0] else cur[0],
                    mx if cur[1] is None or mx > cur[1] else cur[1],
                )
        return acc

    def new_scan(self) -> "PaimonLakeScan":
        return PaimonLakeScan(self)

    def new_read(self) -> "PaimonLakeRead":
        return PaimonLakeRead(self)


class PaimonLakeScan:
    """Planning-only view (reference TableScan parity): fold the live
    manifest chain into splits — one split per (partition, bucket),
    the grouping Paimon itself scans by — with partition pruning
    applied. Pure driver-side metadata; no data files are opened."""

    def __init__(self, builder: PaimonLakeReadBuilder):
        self.builder = builder

    def plan(self) -> "PaimonLakePlan":
        import os
        from collections import defaultdict

        b = self.builder
        info = read_paimon_schema(b.table.table_path)
        entries = _pruned_entries(b.table.table_path, info, b)
        part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
        default_name = info.options.get("partition.default-name", None)
        # DV marks ride on the splits they cover, so a raw-path consumer
        # (reference-style scan -> own read) can honor row deletes
        # instead of silently resurrecting them
        dv_by_file: dict = {}
        for r in plan_paimon_dv(
            b.table.table_path,
            snapshot_id=b._snapshot_id,
            snapshot=b._snapshot_dict(),
        ):
            dv_by_file.setdefault(r.data_file_name, []).append(r)
        groups = defaultdict(list)
        for e in entries:
            groups[(tuple(sorted(e.partition.items())), e.bucket)].append(e)
        splits = []
        total = 0
        for (_pkey, _bucket), es in sorted(groups.items(), key=lambda kv: str(kv[0])):
            if b._limit is not None and total >= b._limit:
                break
            kw = {"default_name": default_name} if default_name else {}
            splits.append(
                PaimonLakeSplit(
                    row_count=sum(e.row_count for e in es),
                    file_size=sum(e.file_size for e in es),
                    _paths=[
                        os.path.join(
                            b.table.table_path,
                            e.rel_path(info.partition_keys, part_types, **kw),
                        )
                        for e in es
                    ],
                    _dv_ranges=[
                        r for e in es for r in dv_by_file.get(e.file_name, [])
                    ],
                )
            )
            total += splits[-1].row_count()
        return PaimonLakePlan(splits)


class PaimonLakeSplit:
    def __init__(
        self,
        row_count: int,
        file_size: int,
        _paths: List[str],
        _dv_ranges: Optional[list] = None,
    ):
        self._row_count = row_count
        self._file_size = file_size
        self._paths = _paths
        self._dv_ranges = _dv_ranges or []

    def row_count(self) -> int:
        return self._row_count

    def file_size(self) -> int:
        return self._file_size

    def file_paths(self) -> List[str]:
        """Raw data-file paths. On a deletion-vector table these alone
        RESURRECT deleted rows — check :meth:`has_deletion_vectors` and
        apply :meth:`deletion_vectors` (or read via ``new_read()``,
        which anti-joins the marks for you)."""
        return list(self._paths)

    def has_deletion_vectors(self) -> bool:
        return bool(self._dv_ranges)

    def deletion_vectors(self) -> list:
        """The ``PaimonDvRange`` marks covering this split's files —
        decode via ``paimon_import.read_dv_index_entry`` for raw-path
        consumers that bypass ``new_read()``."""
        return list(self._dv_ranges)


class PaimonLakePlan:
    def __init__(self, splits: List[PaimonLakeSplit]):
        self._splits = splits

    def splits(self) -> List[PaimonLakeSplit]:
        return list(self._splits)


def _coerce_partition_literals(pred: Predicate, info: PaimonSchemaInfo) -> Predicate:
    """Coerce predicate literals on DATE partition fields so any common
    user representation (``datetime.date``/``datetime``, ISO string,
    epoch-day int) compares correctly against the normalized partition
    values. Non-DATE fields pass through untouched."""
    import datetime

    from pyspark.sql import types as T

    if pred.method in ("and", "or"):
        return Predicate(
            pred.method,
            children=[_coerce_partition_literals(c, info) for c in pred.children],
        )
    if pred.field is None or not pred.literals:
        return pred
    if not isinstance(info.spark_schema[pred.field].dataType, T.DateType):
        return pred

    def cv(x):
        if isinstance(x, datetime.datetime):
            return x.date()
        if isinstance(x, datetime.date):
            return x
        if isinstance(x, int):
            return datetime.date(1970, 1, 1) + datetime.timedelta(days=x)
        if isinstance(x, str):
            try:
                return datetime.date.fromisoformat(x)
            except ValueError:
                return x
        return x

    return Predicate(pred.method, field=pred.field, literals=[cv(x) for x in pred.literals])


def _limited_entries(entries, limit: "int | None"):
    """Trim (partition, bucket) groups once their manifest row counts
    reach ``limit`` — whole groups are kept, so a PK merge inside a
    retained bucket still sees every version of its keys (same
    guarantee as the engine's split-granular limit, scan.py:120-127)."""
    if limit is None:
        return entries
    from collections import defaultdict

    groups = defaultdict(list)
    for e in entries:
        groups[(tuple(sorted(e.partition.items())), e.bucket)].append(e)
    out, total = [], 0
    for key in sorted(groups, key=str):
        if total >= limit:
            break
        out.extend(groups[key])
        total += sum(e.row_count for e in groups[key])
    return out


def _lake_bucket_cols(options, primary_keys, partition_keys) -> List[str]:
    """A PK lake's bucket key: the ``bucket-key`` option, else the
    primary key minus the partition keys."""
    return [
        c.strip()
        for c in options.get("bucket-key", "").split(",")
        if c.strip()
    ] or [k for k in primary_keys if k not in partition_keys]


def _check_bucket_key(info: PaimonSchemaInfo) -> List[str]:
    """The bucket key of a PK lake, refused on the driver (a
    ``ValueError`` naming the column) when bucket routing cannot hash
    it — instead of failing inside the first write's tasks."""
    from paimon_python_spark.paimon_import import binary_row_hash_expr

    cols = _lake_bucket_cols(info.options, info.primary_keys, info.partition_keys)
    if cols:
        binary_row_hash_expr(cols, [info.spark_schema[c].dataType for c in cols])
    return cols


def _lake_candidate_buckets(predicate, info: PaimonSchemaInfo) -> Optional[set]:
    """Buckets an equality/IN predicate pinning the FULL bucket key can
    live in, or None when pruning can't fire: not a fixed-bucket PK
    lake, some bucket-key field unpinned, or the combination count
    explodes. Same rule as the engine planner (scan.py
    _candidate_buckets) and the JVM planner the reference inherits
    (java_implementation.py:159-184) — but with Paimon's spec
    fixed_bucket hash, the one the lake writer routes by: a point
    lookup on a 16-bucket lake opens 1/16 of the surviving files."""
    if predicate is None or not info.primary_keys:
        return None
    nb = int(info.options.get("bucket", "-1"))
    if nb < 1:
        return None
    bcols = _lake_bucket_cols(info.options, info.primary_keys, info.partition_keys)
    if not bcols:
        return None
    eq = predicate.equality_sets()
    if not all(k in eq and eq[k] for k in bcols):
        return None
    combos = 1
    for k in bcols:
        combos *= len(eq[k])
        if combos > 256:
            return None
    from itertools import product

    from paimon_python_spark.paimon_import import fixed_bucket, logical_value

    types = [info.spark_schema[k].dataType for k in bcols]
    try:
        return {
            fixed_bucket(
                [logical_value(v, t) for v, t in zip(vals, types)],
                types,
                nb,
            )
            for vals in product(*[sorted(eq[k], key=repr) for k in bcols])
        }
    except Exception:
        return None  # unhashable key shape: skip pruning, stay exact


#: engine payload carried in the spec's _EMBEDDED_FILE_INDEX slot:
#: utf-8 JSON {"format": <tag>, "columns": {col: bloom-hex}} using the
#: engine's bloom serialization (bloom.py). The SLOT is spec (Paimon
#: manifests embed small file indexes inline); the PAYLOAD is this
#: engine's — a JVM reader that asks for file-index on such a lake
#: would not parse it, so the tag makes the divergence explicit and
#: unknown payloads are ignored (never unsound: blooms only PRUNE).
_EMB_BLOOM_FORMAT = "sparkgraft-bloom-v1"

#: max distinct batch keys the lookup changelog producer collects to
#: build its point-lookup IN predicate (footer-stats + bloom file
#: pruning inside touched buckets). Above the cap a commit is bulk,
#: not CDC — whole-bucket merge is the right plan and the driver
#: never holds an unbounded key set.
_LOOKUP_POINT_KEY_CAP = 1024


def _decode_embedded_blooms(entry) -> Optional[dict]:
    """{column: probe} from an entry's embedded file index — the
    engine's JSON payload yields bloom-hex strings, a JVM spec-format
    container (fileindex_codec) yields ``SpecBloom`` probe objects
    (both duck-type into ``Predicate.test_by_stats`` via
    ``bloom.might_contain``). None for absent/unknown payloads."""
    if not getattr(entry, "embedded_index", None):
        return None
    import json

    from paimon_python_spark import fileindex_codec as fic

    raw = entry.embedded_index
    if fic.is_spec_file_index(raw):
        # JVM-written lake: its own file-index container in the
        # embedded slot — decode the bloom-filter payloads. The probe
        # must know FLOAT columns (32-bit floatToIntBits hash, not the
        # double form), so decode needs the table schema — callers with
        # one use _spec_blooms_typed; without it, skip (never prune on
        # a possibly-wrong hash).
        return None
    try:
        doc = json.loads(raw.decode("utf-8"))
    except (UnicodeDecodeError, ValueError):
        return None  # foreign index payload: ignore
    if doc.get("format") != _EMB_BLOOM_FORMAT:
        return None
    cols = doc.get("columns")
    return cols if isinstance(cols, dict) and cols else None


def _bloom_dtype(info, col: str) -> "str | None":
    """Column type kind for the spec bloom probe (``"float"`` flips
    the value hash to the 32-bit floatToIntBits form)."""
    from pyspark.sql import types as T

    try:
        dt = info.spark_schema[col].dataType
    except Exception:
        return None
    return "float" if isinstance(dt, T.FloatType) else None


def _bitmap_kind(info, col: str) -> "str | None":
    """Column type kind for the spec BITMAP value dictionary (the
    per-type DataOutput serializer). None = unprobeable type (the
    planner then never prunes on that column's bitmap)."""
    from pyspark.sql import types as T

    try:
        dt = info.spark_schema[col].dataType
    except Exception:
        return None
    return {
        T.BooleanType: "boolean",
        T.ByteType: "tinyint",
        T.ShortType: "smallint",
        T.IntegerType: "int",
        T.LongType: "bigint",
        T.FloatType: "float",
        T.DoubleType: "double",
        T.StringType: "string",
        T.BinaryType: "binary",
        T.DateType: "date",
        T.TimestampType: "timestamp",
    }.get(type(dt))


def _bsi_kind(info, col: str) -> "str | None":
    """Column type kind for the spec BSI value mapper — BSI is a
    NUMERIC index, so only integral-representable kinds qualify. None
    = unindexable (option declaring such a column is ignored, and the
    planner never prunes on it)."""
    k = _bitmap_kind(info, col)
    return k if k in ("tinyint", "smallint", "int", "bigint", "date", "timestamp") else None


def _spec_blooms_typed(info, raw: bytes, fields=None) -> Optional[dict]:
    """{column: probe} from a spec file-index container, probes typed
    from the CURRENT table schema. A column carrying BOTH indexes
    probes through the BITMAP (exact membership beats a probabilistic
    filter); a bitmap that fails to decode (V2+, torn bytes) falls back
    to bsi/bloom — pruning-only either way. None for non-spec
    payloads. ``fields`` restricts decoding to the columns the
    predicate can actually probe (equal/IN leaves) — payload decode is
    per-column work the planner shouldn't pay for unprobed columns."""
    from paimon_python_spark import fileindex_codec as fic

    if not fic.is_spec_file_index(raw):
        return None
    try:
        doc = fic.read_file_index(raw)
    except ValueError:
        return None  # future version: ignore, indexes only prune
    cols: dict = {}
    for col, per in doc.items():
        if fields is not None and col not in fields:
            continue
        if fic.BITMAP_INDEX_TYPE in per:
            kind = _bitmap_kind(info, col)
            if kind is not None:
                try:
                    cols[col] = fic.SpecBitmap.decode(
                        per[fic.BITMAP_INDEX_TYPE], kind
                    )
                    continue
                except (ValueError, IndexError, struct.error):
                    pass  # fall through to bsi/bloom, if any
        if fic.BSI_INDEX_TYPE in per:
            # exact like the bitmap (O'Neil EQ walk), second in
            # preference only because its probe decodes roaring slices
            # where the bitmap probe is a head dictionary lookup
            kind = _bsi_kind(info, col)
            if kind is not None:
                try:
                    cols[col] = fic.SpecBSI.decode(
                        per[fic.BSI_INDEX_TYPE], kind
                    )
                    continue
                except (ValueError, IndexError, struct.error):
                    pass  # fall through to the bloom, if any
        if fic.BLOOM_INDEX_TYPE in per:
            cols[col] = fic.SpecBloom.decode(
                per[fic.BLOOM_INDEX_TYPE], _bloom_dtype(info, col)
            )
    return cols or None


def _standalone_index_blooms(
    table_path: str, info, entry, fields=None
) -> Optional[dict]:
    """{column: SpecBloom} from an entry's standalone ``*.index``
    extra files (JVM Paimon writes indexes above the in-manifest
    threshold as separate files next to the data file). None when the
    entry lists none or they don't parse. IO is one small file per
    planned entry, driver-side at prune time — the same metadata walk
    the JVM planner does."""
    import os

    from paimon_python_spark import fileindex_codec as fic

    names = [
        n for n in (entry.extra_files or []) if str(n).endswith(".index")
    ]
    if not names:
        return None
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    default_name = info.options.get("partition.default-name", None)
    kw = {"default_name": default_name} if default_name else {}
    data_rel = entry.rel_path(info.partition_keys, part_types, **kw)
    base = os.path.dirname(os.path.join(table_path, data_rel))
    cols: dict = {}
    for name in names:
        path = os.path.join(base, name)
        if not os.path.exists(path):
            continue
        with open(path, "rb") as f:
            raw = f.read()
        typed = _spec_blooms_typed(info, raw, fields=fields)
        if typed:
            cols.update(typed)
    return cols or None


def _pruned_entries(table_path: str, info: PaimonSchemaInfo, b: "PaimonLakeReadBuilder"):
    """Plan the live file set, apply explicit bucket-group scoping
    (with_bucket_groups), drop partitions the predicate rules out
    (decoded BinaryRow values normalized to logical types — DATE
    partitions are epoch-day ints on disk), skip files whose manifest
    min/max stats cannot satisfy it, then prune buckets a full-key
    equality predicate pins — the JVM planner's pruning stack,
    driver-side, metadata only."""
    from paimon_python_spark.paimon_import import decode_entry_stats

    # the partition sub-predicate computes FIRST so the planner can
    # skip whole manifests on their _PARTITION_STATS before opening
    # them (the later per-entry partition filter applies the same
    # predicate, which is what makes manifest skipping sound)
    part_pred = None
    if b._predicate is not None and info.partition_keys:
        part_pred = b._predicate.keep_only_fields(set(info.partition_keys))
        if part_pred is not None:
            part_pred = _coerce_partition_literals(part_pred, info)
    entries = plan_paimon_files(
        table_path,
        b._snapshot_id,
        snapshot=b._snapshot_dict(),
        partition_predicate=part_pred,
    )
    if b._bucket_groups is not None:
        pk = list(info.partition_keys)
        entries = [
            e
            for e in entries
            if (
                tuple(
                    _logical_partition_values(info, e.partition).get(k) for k in pk
                ),
                e.bucket,
            )
            in b._bucket_groups
        ]
    if b._predicate is None:
        return entries
    if part_pred is not None:
        entries = [
            e
            for e in entries
            if part_pred.test_by_value(_logical_partition_values(info, e.partition))
        ]
    if any(e.stats_raw or e.embedded_index or e.extra_files for e in entries):
        # stats rows decode under the schema each file was written with.
        # PK tables may prune only on KEY fields (the engine's
        # filter-placement rule, scan.py:80-116): a value predicate
        # could drop the file holding a key's LATEST version and let an
        # older version resurrect through the merge.
        pred = _coerce_partition_literals(b._predicate, info)  # date literals
        # partition fields are handled by partition pruning above, and
        # hive-style files don't physically carry them (their stats
        # would read as all-NULL and mis-prune) — keep them out here
        allowed = {
            f.name for f in info.spark_schema.fields
        } - set(info.partition_keys)
        if info.primary_keys and (
            info.options.get("deletion-vectors.enabled", "false").lower()
            != "true"
        ):
            # PK filter-placement rule: only key fields prune below the
            # merge. EXCEPT in declared DV mode (same exception as the
            # engine planner, scan.py:95): the merge was resolved at
            # commit time, every visible row comes verbatim from one
            # file, so value predicates prune like append tables. Gated
            # on the OPTION, not mere index presence — a partially
            # marked fixture lake must stay on the conservative rule.
            allowed &= set(info.primary_keys) | set(info.partition_keys)
        pred = pred.keep_only_fields(allowed)
        if pred is None:
            return entries
        # file indexes only serve equal/IN leaves: for range-only
        # predicates skip ALL index IO/decode — at 100k planned files a
        # standalone .index read per entry would be pure driver waste
        eq_fields = pred.equality_fields()
        infos = {info.id: info}
        kept = []
        for e in entries:
            oinfo = infos.get(e.schema_id)
            if oinfo is None:
                oinfo = read_paimon_schema(table_path, e.schema_id)
                infos[e.schema_id] = oinfo
            stats = decode_entry_stats(e, oinfo, info)
            blooms = None
            if eq_fields:
                # index payloads are keyed and TYPED by the WRITING
                # schema: decode under the entry's own schema and re-key
                # to current names by field id. Probing with current
                # names/kinds would silently disable pruning after an
                # int→bigint widening (dictionary bytes have the old
                # width) and could prune WRONGLY after a rename swap.
                probe_fields, rekey = eq_fields, None
                if e.schema_id != info.id and oinfo.field_ids and info.field_ids:
                    cur_id = {
                        f.name: fid
                        for fid, f in zip(
                            info.field_ids, info.spark_schema.fields
                        )
                    }
                    old_name = {
                        fid: f.name
                        for fid, f in zip(
                            oinfo.field_ids, oinfo.spark_schema.fields
                        )
                    }
                    rekey, probe_fields = {}, set()
                    for cur in eq_fields:
                        old = old_name.get(cur_id.get(cur))
                        if old is not None:
                            probe_fields.add(old)
                            rekey[old] = cur
                if probe_fields:
                    blooms = (
                        _decode_embedded_blooms(e)
                        or (
                            _spec_blooms_typed(
                                oinfo, e.embedded_index, fields=probe_fields
                            )
                            if e.embedded_index
                            else None
                        )
                        or _standalone_index_blooms(
                            table_path, oinfo, e, fields=probe_fields
                        )
                    )
                    if blooms and rekey is not None:
                        blooms = {
                            rekey[c]: p
                            for c, p in blooms.items()
                            if c in rekey
                        }
            if blooms:
                # merge per-file blooms into the stats dict so
                # test_by_stats' equal/in branches consult them — the
                # min/max-can't-prune point-lookup case. Bloom-only
                # entries (no decodable value stats) still prune:
                # test_by_stats probes blooms before its bounds check.
                stats = dict(stats or {})
                for c, hx in blooms.items():
                    ent = dict(
                        stats.get(c)
                        or {
                            "min": None,
                            "max": None,
                            "null_count": None,
                            "row_count": e.row_count,
                        }
                    )
                    ent["bloom"] = hx
                    stats[c] = ent
            if stats is None or pred.test_by_stats(stats):
                kept.append(e)
        entries = kept
    buckets = _lake_candidate_buckets(b._predicate, info)
    if buckets is not None:
        nb = int(info.options.get("bucket", "-1"))
        # geometry guard: pre-rescale snapshots' entries were routed
        # under a DIFFERENT bucket count (entry-level _TOTAL_BUCKETS);
        # pruning with the latest modulus would drop matching files on
        # time-travel reads — only same-geometry entries prune
        entries = [
            e
            for e in entries
            if (e.total_buckets is not None and e.total_buckets != nb)
            or e.bucket in buckets
        ]
    return entries


class PaimonLakeRead:
    def __init__(self, builder: PaimonLakeReadBuilder):
        self.builder = builder

    def to_df(self):
        """Fresh plan + distributed in-place read. Partition pruning
        happens here on the decoded manifest partition values (files of
        pruned partitions are never opened); the predicate is then
        applied IN FULL as a residual on the scan/merge output, so the
        result is row-exact regardless of how much pruning helped."""
        import os

        from paimon_python_spark.session import get_spark

        spark = get_spark()
        b = self.builder
        table_path = b.table.table_path
        info = read_paimon_schema(table_path)
        entries = _limited_entries(_pruned_entries(table_path, info, b), b._limit)
        fmt = info.options.get("file.format", "parquet")
        part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
        default_name = info.options.get("partition.default-name", None)

        def src(e: PaimonFileEntry) -> str:
            kw = {"default_name": default_name} if default_name else {}
            p = os.path.join(
                table_path, e.rel_path(info.partition_keys, part_types, **kw)
            )
            if not os.path.exists(p):
                raise FileNotFoundError(
                    f"paimon_lake: planned data file not found at {p!r} — "
                    "partition directory naming may not match this table's "
                    "layout (partition.default-name / date formatting)"
                )
            return p

        dv = plan_paimon_dv(table_path, b._snapshot_id, snapshot=b._snapshot_dict())
        if info.primary_keys and b._read_optimized:
            # $ro scan: only max-level files (the last full compaction's
            # output — non-overlapping by construction), no merge window;
            # DV marks still anti-join out
            from paimon_python_spark.paimon_import import (
                _load_lake_entries,
                _relevant_dv,
                apply_lake_dv,
            )

            max_level = int(info.options.get("num-levels", "6")) - 1
            ro_entries = [e for e in entries if e.level == max_level]
            if not ro_entries:
                df = local_df(spark, [], info.spark_schema)
            else:
                rodv = _relevant_dv(dv, ro_entries)
                df = _load_lake_entries(
                    spark,
                    info,
                    ro_entries,
                    src,
                    fmt,
                    kv=True,
                    table_path=table_path,
                    file_name_col="__file_name" if rodv else None,
                    row_pos_col="__row_pos" if rodv else None,
                )
                if rodv:
                    df = apply_lake_dv(spark, df, rodv, "__file_name", "__row_pos")
                df = df.select(*[f.name for f in info.spark_schema.fields])
        elif info.primary_keys:
            needed = None
            if b._projection is not None:
                # projection ∪ residual-predicate columns: the bucket-
                # local merge prunes its pyarrow reads to these (the
                # window path lets Catalyst prune the same set)
                needed = list(
                    dict.fromkeys(
                        list(b._projection)
                        + (sorted(b._predicate.fields()) if b._predicate else [])
                    )
                )
            # KEY sub-predicate pushed below the merge (sound: all
            # versions of a key share its key values) — renamed to the
            # kv files' _KEY_* system columns so the bucket-local reads
            # skip row groups on point lookups
            key_pred = None
            if b._predicate is not None:
                trimmed_pk = {
                    k for k in info.primary_keys if k not in info.partition_keys
                }
                kp = b._predicate.keep_only_fields(trimmed_pk)
                if kp is not None:
                    key_pred = kp.map_fields(lambda f: f"_KEY_{f}")
            df = merge_paimon_pk_entries(
                spark,
                info,
                entries,
                src,
                fmt,
                dv_ranges=dv,
                table_path=table_path,
                needed_cols=needed,
                key_predicate=key_pred,
            )
        else:
            df = read_paimon_append_entries(
                spark, info, entries, src, fmt, dv_ranges=dv, table_path=table_path
            )
        if b._predicate is not None:
            df = df.filter(b._predicate.to_column())
        if b._projection is not None:
            df = df.select(*b._projection)
        if b._limit is not None:
            df = df.limit(b._limit)
        return df

    def to_pandas(self):
        return self.to_df().toPandas()

    def to_arrow(self):
        import pyarrow as pa

        return pa.Table.from_pandas(self.to_pandas(), preserve_index=False)

    def to_arrow_batch_reader(self, batch_size: int = 1024):
        import pyarrow as pa

        table = self.to_arrow()
        return pa.RecordBatchReader.from_batches(
            table.schema, table.to_batches(max_chunksize=batch_size)
        )

    def to_duckdb(self, table_name: str = "table", connection=None):
        """Register the materialized lake read in DuckDB (engine/
        reference adapter parity). For SQL at scale use
        ``to_df().createOrReplaceTempView`` + ``spark.sql`` instead."""
        import duckdb

        con = connection or duckdb.connect(database=":memory:")
        con.register(table_name, self.to_arrow())
        return con

    def to_ray(self):
        """Ray dataset adapter (reference ``java_implementation.py:
        255-258`` parity; optional dependency, as there)."""
        import ray  # optional dependency, as in the reference

        return ray.data.from_arrow(self.to_arrow())

    def to_record_generator(self):
        """Row-at-a-time generator over the lake read (reference
        ``to_record_generator`` parity) — driver-sized extracts only."""
        for batch in self.to_arrow_batch_reader():
            for row in batch.to_pylist():
                yield row


def read_lake_incremental_between_tags(
    table_path: str,
    from_tag: str,
    to_tag: str,
    use_changelog: bool = False,
):
    """Paimon's ``incremental-between`` with TAG names: rows written
    between the snapshots two tags pin — the shape scheduled batch
    pipelines use ("everything since yesterday's tag"), robust to the
    underlying snapshots having EXPIRED (a tag is a full snapshot copy,
    so the window resolves from the tag files alone). Delegates to
    :func:`read_lake_incremental` while the window's snapshots are
    retained; once they expire, append lakes fall back to the exact
    file-set DIFF of the two tags (Paimon's diff scan mode) and PK
    lakes refuse with a clear error."""
    import os

    from paimon_python_spark.paimon_import import read_paimon_tag

    ta = read_paimon_tag(table_path, from_tag)
    tb = read_paimon_tag(table_path, to_tag)
    a, b = int(ta["id"]), int(tb["id"])
    if a > b:
        raise ValueError(
            f"incremental-between tags: {from_tag!r} (snapshot {a}) is "
            f"newer than {to_tag!r} (snapshot {b})"
        )
    window_live = all(
        os.path.exists(os.path.join(table_path, "snapshot", f"snapshot-{s}"))
        for s in range(a + 1, b + 1)
    )
    if window_live:
        return read_lake_incremental(
            table_path, a, b, use_changelog=use_changelog
        )
    # window snapshots EXPIRED: the tags are full snapshot copies, so
    # diff their CONTENTS (Paimon's diff scan mode) — an exact
    # multiset EXCEPT ALL of the two tag reads. A raw file-set diff
    # would be wrong here: a COMPACT inside the window rewrites old
    # rows into new files and the whole table would re-surface as
    # "incremental". The except-all costs one shuffle of both tag
    # states — the fallback price of having let the window expire.
    # PK lakes refuse: the visible-state diff cannot reconstruct
    # per-key -U/-D changelog rows once the deltas are gone.
    info = read_paimon_schema(table_path)
    if info.primary_keys:
        raise ValueError(
            "incremental-between tags: window snapshots have expired and "
            "the table has primary keys — per-key increments are no "
            "longer reconstructible (tag earlier, or retain snapshots)"
        )
    t = PaimonLakeTable(table_path)
    new_df = t.new_read_builder().with_tag(to_tag).new_read().to_df()
    old_df = t.new_read_builder().with_tag(from_tag).new_read().to_df()
    return new_df.exceptAll(old_df)


def read_lake_incremental(
    table_path: str,
    from_snapshot: int,
    to_snapshot: "Optional[int]" = None,
    use_changelog: bool = False,
):
    """Rows written to a REAL Paimon lake between two snapshots
    (exclusive, inclusive] — the lake analogue of the engine's
    ``streaming.incremental.read_incremental`` (same semantics: each
    snapshot's delta manifest lists exactly the files that commit
    added, so the incremental read is a plain multi-file scan of those
    deltas; COMPACT commits rewrite existing rows and are skipped).

    PK tables expose the raw changelog rows — value columns plus
    ``_row_kind`` ('+I', '-U', '+U', '-D') and ``_SEQUENCE_NUMBER`` —
    the consumer applies its own merge, exactly like a Flink streaming
    read of the format. Append tables return the appended rows.
    Field-id schema evolution applies per delta file group.

    ``use_changelog=True`` reads each snapshot's CHANGELOG manifests
    instead of its deltas when present (a lake written with a
    changelog-producer stores the -U/+U pairs of updates there, which
    deltas alone cannot reconstruct); snapshots without a changelog
    fall back to their delta files."""
    import os

    from pyspark.sql import functions as F

    from paimon_python_spark.paimon_import import (
        _load_lake_entries,
        latest_paimon_snapshot_id,
        plan_paimon_changelog,
        plan_paimon_delta,
        read_paimon_append_entries,
        read_paimon_snapshot,
    )
    from paimon_python_spark.session import get_spark
    from paimon_python_spark.write import KIND_COL, SEQ_COL

    spark = get_spark()
    info = read_paimon_schema(table_path)
    if to_snapshot is None:
        to_snapshot = latest_paimon_snapshot_id(table_path)
    entries = []
    for sid in range(from_snapshot + 1, to_snapshot + 1):
        snap, from_cl_dir = _read_snapshot_or_changelog(table_path, sid)
        cl = (
            plan_paimon_changelog(table_path, sid, snap=snap)
            if use_changelog
            else []
        )
        if from_cl_dir:
            # the snapshot expired; only its decoupled changelog
            # survives (changelog lifecycle) — delta files are gone
            if not use_changelog:
                raise ValueError(
                    f"snapshot {sid} has expired; its history survives "
                    f"as a decoupled changelog entry — read with "
                    f"use_changelog=True"
                )
            entries.extend(cl)
            continue
        if str(snap.get("commitKind", "APPEND")).upper() == "COMPACT":
            # a COMPACT rewrite carries no new rows — EXCEPT its
            # changelog manifests under changelog-producer=
            # full-compaction, which are exactly what a changelog
            # consumer is here for
            entries.extend(cl)
            continue
        entries.extend(cl if cl else plan_paimon_delta(table_path, sid))
    fmt = info.options.get("file.format", "parquet")
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    default_name = info.options.get("partition.default-name", None)

    def src(e: PaimonFileEntry) -> str:
        kw = {"default_name": default_name} if default_name else {}
        return os.path.join(
            table_path, e.rel_path(info.partition_keys, part_types, **kw)
        )

    if not info.primary_keys:
        return read_paimon_append_entries(
            spark, info, entries, src, fmt, table_path=table_path
        )
    raw = (
        _load_lake_entries(
            spark, info, entries, src, fmt, kv=True, table_path=table_path
        )
        if entries
        else None
    )
    value_cols = [f.name for f in info.spark_schema.fields]
    if raw is None:
        from pyspark.sql import types as T

        empty = T.StructType(
            [*info.spark_schema.fields,
             T.StructField("_row_kind", T.StringType()),
             T.StructField(SEQ_COL, T.LongType())]
        )
        return local_df(spark, [], empty)
    kind_name = (
        F.when(F.col(KIND_COL) == 0, "+I")
        .when(F.col(KIND_COL) == 1, "-U")
        .when(F.col(KIND_COL) == 2, "+U")
        .otherwise("-D")
    )
    return raw.select(
        *[F.col(c).cast(info.spark_schema[c].dataType).alias(c) for c in value_cols],
        kind_name.alias("_row_kind"),
        F.col(SEQ_COL),
    )


def stream_lake_snapshots(
    table_path: str,
    poll_interval_s: float = 1.0,
    from_snapshot: int = 0,
    max_batches: "Optional[int]" = None,
    consumer_id: "Optional[str]" = None,
    consumer_dir: "Optional[str]" = None,
    use_changelog: bool = False,
    starting_timestamp: "Optional[int]" = None,
    scan_mode: "Optional[str]" = None,
):
    """Driver-side poll loop over a REAL lake: yield (snapshot_id,
    delta DataFrame) as the lake's owner commits — the micro-batch
    source a scheduler or ``foreachBatch`` consumes (lake analogue of
    the engine's ``stream_snapshots``; each batch is
    :func:`read_lake_incremental` of one snapshot, so PK tables stream
    changelog rows with ``_row_kind``).

    ``consumer_id`` gives durable at-least-once progress. By default
    (``consumer_dir=None``) progress lives IN the lake as a spec
    consumer file (``consumer/consumer-<id>``, the shape real Paimon
    writes) — interoperable with JVM consumers, and visible to
    :func:`expire_lake_snapshots`, which then refuses to expire the
    consumer's next batch. Pass ``consumer_dir`` for a lake this
    process may not write to: the offset file goes there instead and
    the lake stays untouched (no expiry protection, by construction).

    START MODES (Paimon's ``scan.mode`` family, reference: JVM scan
    options inherited through java_implementation.py):
    ``from_snapshot=N`` (scan.snapshot-id, from-snapshot: first batch
    is snapshot N+1's delta); ``starting_timestamp=millis``
    (scan.timestamp-millis, from-timestamp: stream changes committed
    AFTER that wall-clock instant — the backfill-job start);
    ``scan_mode='latest'`` (only commits after subscription);
    ``scan_mode='latest-full'`` (first batch = the CURRENT full table
    state at the latest snapshot, then per-commit deltas — Flink's
    default lake bootstrap). A persisted consumer offset still wins
    over any start mode, exactly like real Paimon (consumer-id takes
    precedence over scan.mode)."""
    import json
    import os
    import re as _re
    import time

    from paimon_python_spark.paimon_import import latest_paimon_snapshot_id

    offset_path = None
    in_lake = False
    if consumer_id is not None:
        if not _re.match(_CONSUMER_ID_RE, consumer_id):
            raise ValueError(f"invalid consumer id {consumer_id!r}")
        if consumer_dir is None:
            in_lake = True
        else:
            offset_path = os.path.join(
                consumer_dir, f"consumer-{consumer_id}.json"
            )

    if scan_mode not in (None, "latest", "latest-full"):
        raise ValueError(
            f"stream_lake_snapshots: unknown scan_mode {scan_mode!r} "
            "(use from_snapshot=/starting_timestamp= for the "
            "from-snapshot/from-timestamp modes)"
        )
    # a PERSISTED consumer offset takes precedence over every start
    # mode (real Paimon: consumer-id wins over scan.mode) — a lagging
    # consumer must resume where it stopped, never jump to 'latest'
    # (which would silently skip its unconsumed snapshots), and a
    # resumed 'latest-full' subscription must not re-emit the bootstrap
    consumer_pos = None
    if in_lake:
        persisted = read_lake_consumer(table_path, consumer_id)
        if persisted is not None:
            # nextSnapshot N = "N is the next to READ": the incremental
            # window below starts AFTER `current`, so resume at N-1
            consumer_pos = persisted - 1
    elif offset_path and os.path.exists(offset_path):
        try:
            with open(offset_path) as f:
                consumer_pos = int(json.load(f)["next_snapshot"])
        except (KeyError, ValueError):
            pass

    current = from_snapshot
    if consumer_pos is not None:
        current = max(current, consumer_pos)
    else:
        if starting_timestamp is not None:
            # from-timestamp: newest snapshot committed at or before the
            # instant is the baseline; batches start with the next commit
            sdir = os.path.join(table_path, "snapshot")
            baseline = 0
            if os.path.isdir(sdir):
                for n in os.listdir(sdir):
                    if not n.startswith("snapshot-"):
                        continue
                    with open(os.path.join(sdir, n)) as f:
                        s = json.load(f)
                    tm = s.get("timeMillis")
                    if not tm:
                        continue  # undated snapshot (missing or fixture
                        # 0): can't place it before the instant, so
                        # never advance the baseline past it
                    if int(tm) <= starting_timestamp and s["id"] > baseline:
                        baseline = s["id"]
            current = max(current, baseline)
        if scan_mode in ("latest", "latest-full"):
            try:
                current = max(current, latest_paimon_snapshot_id(table_path))
            except FileNotFoundError:
                pass

    # the start position above resolves EAGERLY at CALL time — a
    # 'latest' subscription pins the head as of the subscribe call, not
    # as of the consumer's first pull (a slow consumer must not skip
    # commits that landed between subscribe and first read)
    def _iter(current):
        emitted = 0
        if (
            scan_mode == "latest-full"
            and consumer_pos is None  # resumed consumers skip bootstrap
            and current >= 1
            and (max_batches is None or max_batches > 0)
        ):
            # bootstrap batch: the full current state, tagged with the
            # snapshot it reflects; per-commit deltas follow
            full = (
                PaimonLakeTable(table_path)
                .new_read_builder()
                .with_snapshot(current)
                .new_read()
                .to_df()
            )
            if use_changelog:
                from pyspark.sql import functions as F

                # schema parity with the delta batches that follow:
                # PK-lake changelog deltas carry _row_kind AND
                # _SEQUENCE_NUMBER; append-lake deltas carry neither
                info = read_paimon_schema(table_path)
                if info.primary_keys:
                    full = full.withColumn(
                        "_row_kind", F.lit("+I")
                    ).withColumn(
                        "_SEQUENCE_NUMBER", F.lit(0).cast("long")
                    )
            yield current, full
            emitted += 1
            if in_lake:
                write_lake_consumer(table_path, consumer_id, current + 1)
        while max_batches is None or emitted < max_batches:
            latest = latest_paimon_snapshot_id(table_path)
            while current < latest:
                nxt = current + 1
                yield nxt, read_lake_incremental(
                    table_path, current, nxt, use_changelog=use_changelog
                )
                if in_lake:
                    write_lake_consumer(table_path, consumer_id, nxt + 1)
                elif offset_path:
                    os.makedirs(os.path.dirname(offset_path), exist_ok=True)
                    tmp = f"{offset_path}.tmp"
                    with open(tmp, "w") as f:
                        json.dump({"next_snapshot": nxt}, f)
                    os.replace(tmp, offset_path)
                current = nxt
                emitted += 1
                if max_batches is not None and emitted >= max_batches:
                    return
            time.sleep(poll_interval_s)

    return _iter(current)


def lake_system_table_schema(name: str):
    """StructType of ``table$<name>`` — static per name, O(1): the
    data source's schema() call must not walk manifests just to learn
    column types (the rows walk runs once, in the reader)."""
    from pyspark.sql import types as T

    defs = {
        "snapshots": [
            ("snapshot_id", T.LongType()),
            ("schema_id", T.LongType()),
            ("commit_kind", T.StringType()),
            ("commit_user", T.StringType()),
            ("commit_time", T.LongType()),
            ("total_record_count", T.LongType()),
            ("delta_record_count", T.LongType()),
        ],
        "files": [
            ("file_path", T.StringType()),
            ("partition", T.StringType()),
            ("bucket", T.IntegerType()),
            ("file_name", T.StringType()),
            ("file_size_in_bytes", T.LongType()),
            ("record_count", T.LongType()),
            ("level", T.IntegerType()),
            ("schema_id", T.LongType()),
            # real Paimon's $files stats maps (stringified values,
            # decoded from each entry's _VALUE_STATS under its own
            # writing schema; empty map when the file carries none)
            ("null_value_counts", T.MapType(T.StringType(), T.StringType())),
            ("min_value_stats", T.MapType(T.StringType(), T.StringType())),
            ("max_value_stats", T.MapType(T.StringType(), T.StringType())),
        ],
        "schemas": [
            ("schema_id", T.LongType()),
            ("fields", T.StringType()),
            ("partition_keys", T.StringType()),
            ("primary_keys", T.StringType()),
            ("options", T.StringType()),
        ],
        "partitions": [
            ("partition", T.StringType()),
            ("record_count", T.LongType()),
            ("file_size_in_bytes", T.LongType()),
            ("file_count", T.LongType()),
        ],
        "manifests": [
            ("file_name", T.StringType()),
            ("file_size", T.LongType()),
            ("num_added_files", T.LongType()),
            ("num_deleted_files", T.LongType()),
            ("schema_id", T.LongType()),
            ("source", T.StringType()),
        ],
        "buckets": [
            ("partition", T.StringType()),
            ("bucket", T.IntegerType()),
            ("record_count", T.LongType()),
            ("file_size_in_bytes", T.LongType()),
            ("file_count", T.LongType()),
        ],
        "tags": [
            ("tag_name", T.StringType()),
            ("snapshot_id", T.LongType()),
        ],
        "options": [("key", T.StringType()), ("value", T.StringType())],
        "consumers": [
            ("consumer_id", T.StringType()),
            ("next_snapshot", T.LongType()),
        ],
        "indexes": [
            ("index_type", T.StringType()),
            ("partition", T.MapType(T.StringType(), T.StringType())),
            ("bucket", T.IntegerType()),
            ("file_name", T.StringType()),
            ("file_size", T.LongType()),
            ("row_count", T.LongType()),
        ],
        # Paimon's table$statistics shape: table-level totals + the
        # per-column stats as one canonical-JSON string column
        "statistics": [
            ("snapshot_id", T.LongType()),
            ("schema_id", T.LongType()),
            ("mergedRecordCount", T.LongType()),
            ("mergedRecordSize", T.LongType()),
            ("colstat", T.StringType()),
        ],
    }
    if name not in defs:
        raise ValueError(
            f"unknown system table {name!r}: one of {sorted(defs)}"
        )
    from pyspark.sql import types as _T

    return _T.StructType(
        [_T.StructField(n, t, False) for n, t in defs[name]]
    )


def lake_system_table_data(
    table_path: str, name: str, snapshot_id: "Optional[int]" = None
):
    """(StructType, rows) for a lake SYSTEM table — the pure metadata
    walk behind Paimon's ``table$<name>`` views, with NO SparkSession
    dependency so the format("paimon_lake") front door can serve
    ``.load("<path>$<name>")`` from its plan-time worker (Python data
    source workers have no session). The DataFrame builders and the
    PaimonLakeTable methods wrap this with one createDataFrame."""
    import os

    from pyspark.sql import types as T

    from paimon_python_spark.paimon_import import (
        latest_paimon_snapshot_id,
        read_paimon_snapshot,
    )

    if name == "snapshots":
        rows = []
        latest = latest_paimon_snapshot_id(table_path)
        for sid in range(1, latest + 1):
            if not os.path.exists(
                os.path.join(table_path, "snapshot", f"snapshot-{sid}")
            ):
                continue  # expired
            s = read_paimon_snapshot(table_path, sid)
            rows.append(
                (
                    int(s["id"]),
                    int(s.get("schemaId", 0)),
                    str(s.get("commitKind", "APPEND")),
                    str(s.get("commitUser", "")),
                    int(s.get("timeMillis", 0)),
                    int(s.get("totalRecordCount") or 0),
                    int(s.get("deltaRecordCount") or 0),
                )
            )
        schema = lake_system_table_schema(name)
        return schema, rows

    if name == "files":
        from paimon_python_spark.paimon_import import decode_entry_stats

        info = read_paimon_schema(table_path)
        part_types = [
            info.spark_schema[k].dataType for k in info.partition_keys
        ]
        default_name = info.options.get(
            "partition.default-name", "__DEFAULT_PARTITION__"
        )
        schemas = {info.id: info}
        rows = []
        for e in plan_paimon_files(table_path, snapshot_id):
            if e.schema_id not in schemas:
                schemas[e.schema_id] = read_paimon_schema(
                    table_path, e.schema_id
                )
            st = decode_entry_stats(e, schemas[e.schema_id], info) or {}
            rows.append(
                (
                    e.rel_path(info.partition_keys, part_types, default_name),
                    str(dict(_logical_partition_values(info, e.partition))),
                    e.bucket,
                    e.file_name,
                    e.file_size,
                    e.row_count,
                    e.level,
                    e.schema_id,
                    {
                        c: str(v["null_count"])
                        for c, v in st.items()
                        if v.get("null_count") is not None
                    },
                    {
                        c: str(v["min"])
                        for c, v in st.items()
                        if v.get("min") is not None
                    },
                    {
                        c: str(v["max"])
                        for c, v in st.items()
                        if v.get("max") is not None
                    },
                )
            )
        schema = lake_system_table_schema(name)
        return schema, rows

    if name == "schemas":
        rows = []
        sdir = os.path.join(table_path, "schema")
        for fn in sorted(os.listdir(sdir)):
            if not fn.startswith("schema-"):
                continue
            sid = int(fn.split("-")[1])
            info = read_paimon_schema(table_path, sid)
            rows.append(
                (
                    sid,
                    ", ".join(
                        f"{fid}:{f.name}:{f.dataType.simpleString()}"
                        for fid, f in zip(
                            info.field_ids, info.spark_schema.fields
                        )
                    ),
                    ",".join(info.partition_keys),
                    ",".join(info.primary_keys),
                    str(dict(sorted(info.options.items()))),
                )
            )
        schema = lake_system_table_schema(name)
        return schema, rows

    if name == "partitions":
        info = read_paimon_schema(table_path)
        agg: dict = {}
        for e in plan_paimon_files(table_path, snapshot_id):
            key = str(dict(_logical_partition_values(info, e.partition)))
            rec = agg.setdefault(key, [0, 0, 0])
            rec[0] += e.row_count
            rec[1] += e.file_size
            rec[2] += 1
        rows = [(k, v[0], v[1], v[2]) for k, v in sorted(agg.items())]
        schema = lake_system_table_schema(name)
        return schema, rows

    if name == "manifests":
        from paimon_python_spark.paimon_import import (
            read_manifest_list_entries,
        )

        sid = snapshot_id or latest_paimon_snapshot_id(table_path)
        snap = read_paimon_snapshot(table_path, sid)
        rows = []
        for source, key in (
            ("base", "baseManifestList"),
            ("delta", "deltaManifestList"),
            ("changelog", "changelogManifestList"),
        ):
            lst = snap.get(key)
            if not lst:
                continue
            for r in read_manifest_list_entries(table_path, lst):
                mname = r["_FILE_NAME"]
                full = os.path.join(table_path, "manifest", mname)
                rows.append(
                    (
                        mname,
                        int(
                            r.get("_FILE_SIZE")
                            or (
                                os.path.getsize(full)
                                if os.path.exists(full)
                                else 0
                            )
                        ),
                        int(r.get("_NUM_ADDED_FILES") or 0),
                        int(r.get("_NUM_DELETED_FILES") or 0),
                        int(r.get("_SCHEMA_ID") or 0),
                        source,
                    )
                )
        schema = lake_system_table_schema(name)
        return schema, rows

    if name == "buckets":
        info = read_paimon_schema(table_path)
        agg = {}
        for e in plan_paimon_files(table_path, snapshot_id):
            key = (
                str(dict(_logical_partition_values(info, e.partition))),
                e.bucket,
            )
            rec = agg.setdefault(key, [0, 0, 0])
            rec[0] += e.row_count
            rec[1] += e.file_size
            rec[2] += 1
        rows = [
            (k[0], k[1], v[0], v[1], v[2]) for k, v in sorted(agg.items())
        ]
        schema = lake_system_table_schema(name)
        return schema, rows

    if name == "tags":
        import json as _json

        rows = []
        tdir = os.path.join(table_path, "tag")
        if os.path.isdir(tdir):
            for n in sorted(os.listdir(tdir)):
                if n.startswith("tag-"):
                    with open(os.path.join(tdir, n)) as f:
                        rows.append(
                            (n[len("tag-") :], int(_json.load(f)["id"]))
                        )
        schema = lake_system_table_schema(name)
        return schema, rows

    if name == "options":
        info = read_paimon_schema(table_path)
        schema = lake_system_table_schema(name)
        return schema, sorted((k, str(v)) for k, v in info.options.items())

    if name == "consumers":
        schema = lake_system_table_schema(name)
        return schema, sorted(list_lake_consumers(table_path).items())

    if name == "indexes":
        from paimon_python_spark.paimon_import import (
            decode_binary_row,
            live_index_entries,
        )

        info = read_paimon_schema(table_path)
        part_types = [
            info.spark_schema[k].dataType for k in info.partition_keys
        ]
        try:
            entries = live_index_entries(table_path, snapshot_id=snapshot_id)
        except FileNotFoundError:
            entries = []
        rows = []
        for r in entries:
            pvals = decode_binary_row(
                bytes(r.get("_PARTITION") or b""), part_types
            )
            rows.append(
                (
                    r.get("_INDEX_TYPE"),
                    {
                        k: str(v)
                        for k, v in zip(info.partition_keys, pvals)
                    },
                    int(r.get("_BUCKET") or 0),
                    r["_FILE_NAME"],
                    int(r.get("_FILE_SIZE") or 0),
                    int(r.get("_ROW_COUNT") or 0),
                )
            )
        schema = lake_system_table_schema(name)
        return schema, rows

    if name == "statistics":
        import json as _json

        from paimon_python_spark.lake_statistics import read_lake_statistics

        stats = read_lake_statistics(table_path, snapshot_id)
        rows = []
        if stats is not None:
            rows.append(
                (
                    int(stats["snapshotId"]),
                    int(stats["schemaId"]),
                    int(stats["mergedRecordCount"]),
                    int(stats["mergedRecordSize"]),
                    _json.dumps(stats["colStats"], sort_keys=True),
                )
            )
        schema = lake_system_table_schema(name)
        return schema, rows

    raise ValueError(
        f"unknown system table {name!r}: one of snapshots / files / "
        "schemas / partitions / manifests / buckets / tags / options / "
        "consumers / indexes / statistics"
    )


def _lake_system_df(table_path, name, snapshot_id=None):
    from paimon_python_spark.session import get_spark

    schema, rows = lake_system_table_data(table_path, name, snapshot_id)
    return local_df(get_spark(), rows, schema)


def _lake_audit_log(table_path: str, snapshot_id: "Optional[int]" = None):
    """Every STORED row of a lake with a leading ``rowkind`` string —
    the merge-free scan behind ``table$audit_log`` (engine twin:
    read.audit_log_df). PK lakes decode ``_VALUE_KIND`` (kv values
    carry the FULL row, partition columns included, so no injection is
    needed); append lakes are all ``+I``. Deletion-vector marks are NOT
    applied: audit shows what the files hold."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from paimon_python_spark.paimon_import import _load_lake_entries
    from paimon_python_spark.session import get_spark

    spark = get_spark()
    info = read_paimon_schema(table_path)
    entries = plan_paimon_files(table_path, snapshot_id)
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    default_name = info.options.get("partition.default-name", None)
    fmt = info.options.get("file.format", "parquet")

    def src(e):
        kw = {"default_name": default_name} if default_name else {}
        return os.path.join(
            table_path, e.rel_path(info.partition_keys, part_types, **kw)
        )

    out_fields = [T.StructField("rowkind", T.StringType(), False)] + list(
        info.spark_schema.fields
    )
    if not entries:
        return local_df(spark, [], T.StructType(out_fields))
    if not info.primary_keys:
        from paimon_python_spark.paimon_import import (
            read_paimon_append_entries,
        )

        df = read_paimon_append_entries(
            spark, info, entries, src, fmt, table_path=table_path
        )
        cols = [f.name for f in info.spark_schema.fields]
        return df.select(F.lit("+I").alias("rowkind"), *cols)
    raw = _load_lake_entries(
        spark, info, entries, src, fmt, kv=True, table_path=table_path
    )
    kind = F.col("_VALUE_KIND")
    # RowKind int → short string (row_kind.py:22-57); +I is the 0/default
    expr = (
        F.when(kind == 1, "-U")
        .when(kind == 2, "+U")
        .when(kind == 3, "-D")
        .otherwise("+I")
    )
    return raw.select(
        expr.alias("rowkind"),
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in info.spark_schema.fields
        ],
    )


def _lake_system_snapshots(table_path: str):
    """Snapshot history — Paimon's ``table$snapshots``."""
    return _lake_system_df(table_path, "snapshots")


def _lake_system_files(table_path: str, snapshot_id: "Optional[int]" = None):
    """Live data files — Paimon's ``table$files``."""
    return _lake_system_df(table_path, "files", snapshot_id)


def _lake_system_schemas(table_path: str):
    """Schema history — Paimon's ``table$schemas``."""
    return _lake_system_df(table_path, "schemas")


def _lake_system_partitions(table_path: str, snapshot_id: "Optional[int]" = None):
    """Per-partition file/row totals — Paimon's ``table$partitions``."""
    return _lake_system_df(table_path, "partitions", snapshot_id)


def _lake_system_manifests(table_path: str, snapshot_id: "Optional[int]" = None):
    """Manifest inventory of one snapshot — Paimon's ``table$manifests``."""
    return _lake_system_df(table_path, "manifests", snapshot_id)


def _lake_system_buckets(table_path: str, snapshot_id: "Optional[int]" = None):
    """Per-(partition, bucket) totals — Paimon's ``table$buckets``."""
    return _lake_system_df(table_path, "buckets", snapshot_id)


def _derive_lake_watermark(info, df, watermark) -> Optional[int]:
    """Normalize an explicit commit watermark, else derive one from a
    declared ``tag.watermark-column`` as a single-column max over the
    INPUT batch (map-side-combined aggregate over data that is about to
    be written anyway — bounded by batch size, not table size). None if
    neither is available."""
    from paimon_python_spark.tags import watermark_millis

    if watermark is not None:
        return watermark_millis(watermark)
    wcol = info.options.get("tag.watermark-column")
    if not wcol or wcol not in df.columns:
        return None
    from pyspark.sql import functions as F

    return watermark_millis(df.agg(F.max(wcol)).first()[0])


def write_lake_append(table_path: str, df, watermark=None) -> int:
    """Commit an APPEND to a REAL Paimon lake — this engine as a lake
    PARTICIPANT, not just a reader. Each input task writes its rows as
    spec data files straight into the lake's ``<k>=<v>/bucket-0/``
    layout, one set of files per partition it sees, through
    :func:`_distributed_lake_write` (no shuffle: the lake file writer
    runs once per (partition, input task) group, on Arrow values).
    Each file carries its value stats and any declared file indexes.
    The spec-format metadata commit (manifest avro + manifest lists +
    snapshot N+1, BinaryRow partition values) is a driver-side
    metadata write, the same cost class as any Paimon committer.
    Returns the new snapshot id.

    PK lakes dispatch to :func:`write_lake_pk_append` (fixed-bucket
    hash + level-0 key-value files). Concurrency: the snapshot file is
    created with O_EXCL, so a concurrent committer loses exactly one of
    the two — retry on ``FileExistsError`` (real Paimon's rename-based
    commit has the same winner-takes-the-id semantics)."""
    info = read_paimon_schema(table_path)
    if info.primary_keys:
        # PK lakes route through Paimon's fixed-bucket hash + level-0
        # key-value files — same public API, dedicated write path
        return write_lake_pk_append(table_path, df, watermark=watermark)
    watermark = _derive_lake_watermark(info, df, watermark)
    fmt = info.options.get("file.format", "parquet")
    if fmt not in ("parquet", "orc", "avro"):
        raise NotImplementedError(
            f"write_lake_append: file.format={fmt!r} not supported"
        )
    man_entries, n_rows = _distributed_lake_write(
        table_path, info, df, fmt, kv=False
    )
    if not man_entries:
        raise ValueError("write_lake_append: empty input — nothing to commit")
    return _commit_lake_snapshot(
        table_path, info, man_entries, n_rows, watermark=watermark
    )


#: sentinel: carry the previous snapshot's indexManifest forward
_INHERIT_INDEX = object()

#: target live entries per consolidated manifest (proxy for Paimon's
#: manifest.target-file-size — entry records are ~KB-scale, so 4096
#: entries ≈ a few MB of avro, the size real manifests converge to)
_MANIFEST_MERGE_CHUNK = 4096


def _merge_manifests(table_path: str, info, prior: list, tag: str) -> list:
    """Fold the prior manifests' raw records into the live ADD set and
    rewrite it as few partition-clustered manifests. Returns the new
    manifest-list records (with real partition stats per output).
    Raw records pass through untouched — each record rewrites under
    its SOURCE file's avro schema, so footer stats, embedded file
    indexes, geometry fields, and any JVM-only fields all survive the
    rewrite byte-faithfully. The old manifest FILES stay on disk for
    the older snapshots that reference them (orphan cleanup removes
    them when those expire)."""
    import json as _json
    import os

    from paimon_python_spark.avro_codec import read_avro_records, write_avro_records
    from paimon_python_spark.paimon_import import partition_stats_for_entries

    # the ADD/DELETE fold runs over ALL prior manifests in list order
    # (a DELETE may cancel an ADD from a different writer's manifest),
    # but each surviving record remembers its SOURCE avro schema —
    # rewriting a JVM record through the engine's narrower schema would
    # silently drop fields the engine doesn't model (e.g. per-column
    # stats scoping) and corrupt the shared lake for JVM readers.
    live: dict = {}
    schemas: dict = {}  # schema key → parsed avro schema
    for rec_l in prior:
        with open(
            os.path.join(table_path, "manifest", rec_l["_FILE_NAME"]), "rb"
        ) as f:
            schema, recs = read_avro_records(f.read())
        skey = _json.dumps(schema, sort_keys=True)
        schemas[skey] = schema
        for r in recs:
            key = (
                bytes(r["_PARTITION"] or b""),
                int(r["_BUCKET"]),
                r["_FILE"]["_FILE_NAME"],
            )
            if int(r["_KIND"]) == 0:
                live[key] = (skey, r)
            else:
                live.pop(key, None)
    # partition-clustered chunks per SOURCE SCHEMA → records round-trip
    # byte-faithfully and per-manifest partition stats stay tight
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    by_schema: dict = {}
    for key in sorted(live, key=lambda k: (k[0], k[1], k[2])):
        skey, r = live[key]
        by_schema.setdefault(skey, []).append(r)
    out: list = []
    n_out = 0
    for skey, ordered in by_schema.items():
        for i in range(0, len(ordered), _MANIFEST_MERGE_CHUNK):
            chunk = ordered[i : i + _MANIFEST_MERGE_CHUNK]
            mname = f"manifest-{tag}-merged-{n_out}.avro"
            n_out += 1
            mpath = os.path.join(table_path, "manifest", mname)
            write_avro_records(mpath, schemas[skey], chunk)
            out.append(
                {
                    "_VERSION": 2,
                    "_FILE_NAME": mname,
                    "_FILE_SIZE": os.path.getsize(mpath),
                    "_NUM_ADDED_FILES": len(chunk),
                    "_NUM_DELETED_FILES": 0,
                    "_PARTITION_STATS": partition_stats_for_entries(
                        chunk, part_types
                    ),
                    "_SCHEMA_ID": info.id,
                }
            )
    return out


def _commit_lake_snapshot(
    table_path: str,
    info,
    entries: list,
    n_rows: int,
    commit_kind: str = "APPEND",
    index_manifest=_INHERIT_INDEX,
    total_record_count: Optional[int] = None,
    changelog_entries: Optional[list] = None,
    statistics: Optional[str] = None,
    watermark: Optional[int] = None,
) -> int:
    """Driver-side spec-format metadata commit of ``entries`` (new
    manifest records — ADD ``_KIND=0`` and, for COMPACT commits,
    DELETE ``_KIND=1`` for the rewritten-away inputs; data files
    already in place under uuid names) as snapshot N+1 with CAS-style
    retry: the snapshot file is created O_EXCL, so a concurrent
    committer loses exactly one of the two and the loser re-plans only
    the KB-scale manifest metadata against the new head — the same
    winner-takes-the-id semantics as real Paimon's rename-based
    commit. Shared by the append, PK-write, and compaction paths.
    ``index_manifest``: default inherits the previous snapshot's DV
    index; pass ``None`` to drop it (compaction physically applied the
    marks). ``total_record_count``: explicit new total (compaction
    rewrites the world); default adds ``n_rows`` to the previous
    total. ``changelog_entries``: ADD records for this commit's
    changelog files (changelog-producer=input) — written as their own
    manifest + manifest list and referenced from the snapshot's
    ``changelogManifestList``, the shape streaming readers scan.
    Returns the new snapshot id."""
    import json
    import os
    import uuid

    from paimon_python_spark.avro_codec import write_avro_records
    from paimon_python_spark.metadata import SnapshotConflictError, _exclusive_write
    from paimon_python_spark.paimon_import import (
        MANIFEST_LIST_SCHEMA,
        MANIFEST_SCHEMA,
        _EMPTY_STATS,
        latest_paimon_snapshot_id,
        partition_stats_for_entries,
        read_manifest_list_entries,
        read_paimon_snapshot,
    )

    part_types_c = [info.spark_schema[k].dataType for k in info.partition_keys]
    if True:
        for attempt in range(20):
            if attempt:
                # jittered backoff: N committers retrying in lockstep
                # re-collide; the re-plan itself is KB-scale metadata,
                # so waiting beats burning attempts (20 losses deep the
                # lake has 20 NEW snapshots — we're making progress
                # system-wide either way)
                import random as _random
                import time as _time

                _time.sleep(_random.uniform(0, 0.02 * attempt))
            # the LATEST hint can lag a concurrent committer (it is
            # written after the snapshot file) — trust the directory
            sdir = os.path.join(table_path, "snapshot")
            os.makedirs(sdir, exist_ok=True)
            ids = [
                int(n.split("-")[1])
                for n in os.listdir(sdir)
                if n.startswith("snapshot-")
            ]
            if ids:
                prev_id = max(latest_paimon_snapshot_id(table_path), max(ids))
                prev = read_paimon_snapshot(table_path, prev_id)
            else:
                # bootstrapping a freshly-created lake: this commit
                # writes snapshot-1 against an empty prior state
                prev_id, prev = 0, {}
            # prior manifests carry forward with their ORIGINAL list
            # records — partition stats written by any committer (this
            # engine or a JVM) survive re-listing, so manifest-level
            # skipping keeps working as history accretes
            prior: list = []
            for lst in (prev.get("baseManifestList"), prev.get("deltaManifestList")):
                if lst:
                    prior.extend(read_manifest_list_entries(table_path, lst))
            tag = uuid.uuid4().hex[:12]
            # MANIFEST MERGE (Paimon manifest.merge-min-count, default
            # 30): without it the base list grows one manifest per
            # commit FOREVER and every plan opens thousands of tiny
            # manifests at 100 TB. Above the threshold, fold the prior
            # manifests' raw records into their live ADD set and
            # rewrite it as few partition-clustered manifests (tight
            # _PARTITION_STATS), leaving the new commit's entries in
            # the delta as usual. Old snapshots keep their old lists —
            # time travel and incremental reads are untouched.
            merge_min = int(info.options.get("manifest.merge-min-count", "30"))
            if len(prior) >= merge_min:
                prior = _merge_manifests(table_path, info, prior, tag)
            mname = f"manifest-{tag}-0.avro"
            write_avro_records(
                os.path.join(table_path, "manifest", mname), MANIFEST_SCHEMA, entries
            )

            def list_entry(name: str, stats=None) -> dict:
                return {
                    "_VERSION": 2,
                    "_FILE_NAME": name,
                    "_FILE_SIZE": os.path.getsize(
                        os.path.join(table_path, "manifest", name)
                    ),
                    "_NUM_ADDED_FILES": 0,
                    "_NUM_DELETED_FILES": 0,
                    "_PARTITION_STATS": stats or _EMPTY_STATS,
                    "_SCHEMA_ID": info.id,
                }

            blname = f"manifest-list-{tag}-base.avro"
            dlname = f"manifest-list-{tag}-delta.avro"
            write_avro_records(
                os.path.join(table_path, "manifest", blname),
                MANIFEST_LIST_SCHEMA,
                prior,
            )
            write_avro_records(
                os.path.join(table_path, "manifest", dlname),
                MANIFEST_LIST_SCHEMA,
                [
                    list_entry(
                        mname, partition_stats_for_entries(entries, part_types_c)
                    )
                ],
            )
            clname = None
            cl_rows = 0
            if changelog_entries:
                cmname = f"manifest-{tag}-cl.avro"
                write_avro_records(
                    os.path.join(table_path, "manifest", cmname),
                    MANIFEST_SCHEMA,
                    changelog_entries,
                )
                clname = f"manifest-list-{tag}-changelog.avro"
                write_avro_records(
                    os.path.join(table_path, "manifest", clname),
                    MANIFEST_LIST_SCHEMA,
                    [list_entry(cmname)],
                )
                cl_rows = sum(
                    int(e["_FILE"]["_ROW_COUNT"]) for e in changelog_entries
                )
            new_id = prev_id + 1
            snap = {
                "version": 3,
                "id": new_id,
                "schemaId": info.id,
                "baseManifestList": blname,
                "deltaManifestList": dlname,
                "changelogManifestList": clname,
                # CARRY THE DV INDEX FORWARD by default: an append does
                # not touch the deletion vectors, but a snapshot without
                # indexManifest would silently resurrect every
                # DV-deleted row. Compaction passes None — the marks
                # were physically applied to the rewritten files.
                "indexManifest": (
                    prev.get("indexManifest")
                    if index_manifest is _INHERIT_INDEX
                    else index_manifest
                ),
                "commitUser": "paimon_python_spark",
                "commitIdentifier": new_id,
                "commitKind": commit_kind,
                # real wall-clock commit time: JVM readers time-travel
                # by timeMillis (scan.timestamp-millis); writing 0
                # would break that interop
                "timeMillis": int(__import__("time").time() * 1000),
                "logOffsets": {},
                # spec: only an ANALYZE commit carries a statistics
                # file name; ordinary commits leave it null and readers
                # walk back (lake_statistics.read_lake_statistics)
                "statistics": statistics,
                "totalRecordCount": (
                    total_record_count
                    if total_record_count is not None
                    else int(prev.get("totalRecordCount") or 0) + n_rows
                ),
                "deltaRecordCount": n_rows,
                "changelogRecordCount": cl_rows,
                # monotone event-time watermark: max(previous, this
                # commit's); Long.MIN_VALUE = never progressed (the
                # spec sentinel). Drives tag.automatic-creation=watermark
                "watermark": max(
                    int(prev.get("watermark") or -9223372036854775808)
                    if prev
                    else -9223372036854775808,
                    watermark if watermark is not None else -9223372036854775808,
                ),
            }
            spath = os.path.join(table_path, "snapshot", f"snapshot-{new_id}")
            try:
                # create-if-absent with its full content (hardlink CAS):
                # a concurrent committer racing for the same id loses
                # exactly one of the two — loser re-plans above — and
                # no reader ever sees an empty snapshot file
                _exclusive_write(spath, json.dumps(snap))
            except SnapshotConflictError:
                continue
            write_hint_atomic(
                os.path.join(table_path, "snapshot", "LATEST"), new_id
            )
            # INLINE EXPIRATION (Paimon expires on commit when
            # snapshot.num-retained.max is set): without it a
            # continuously-written lake accretes snapshots + manifests
            # forever. Option-gated — absent means keep everything, as
            # every test/time-travel fixture expects. Tags and
            # consumers still pin files (expire_lake_snapshots rules).
            retain = info.options.get("snapshot.num-retained.max")
            if retain is not None and new_id > int(retain):
                try:
                    expire_lake_snapshots(table_path, int(retain))
                except Exception:
                    pass  # expiry is maintenance: never fail the commit
            # AUTOMATIC TAG CREATION (Paimon tag.automatic-creation):
            # the first commit of each period pins itself as a tag named
            # for the period, and tag.num-retained-max reaps the oldest
            # auto tags — the cheap "daily snapshot" retention pattern
            if info.options.get("tag.automatic-creation"):
                _auto_create_lake_tag(table_path, info, snap)
            return new_id
        raise RuntimeError(
            "lake commit: lost the snapshot race 20 times — "
            "another committer is writing faster than we can re-plan"
        )


def _bloom_option_cols(info) -> tuple:
    """(bloom_cols, bloom_spec, bloom_dtypes, bitmap_cols,
    bitmap_kinds, bsi_cols, bsi_kinds) from a lake's file-index
    options — shared by every writer that builds per-file embedded
    index payloads. ``file-index.bitmap.columns`` columns get an EXACT
    value-dictionary bitmap index; ``file-index.bsi.columns`` (numeric
    columns only) get an exact bit-sliced range index. Declaring
    either forces the spec container, since those types exist only
    there."""
    names = {f.name for f in info.spark_schema.fields}
    bloom_cols = [
        c.strip()
        for c in info.options.get("file-index.bloom-filter.columns", "").split(",")
        if c.strip() and c.strip() in names
    ]
    bitmap_cols = [
        c.strip()
        for c in info.options.get("file-index.bitmap.columns", "").split(",")
        if c.strip() and c.strip() in names and _bitmap_kind(info, c.strip())
    ]
    bsi_cols = [
        c.strip()
        for c in info.options.get("file-index.bsi.columns", "").split(",")
        if c.strip() and c.strip() in names and _bsi_kind(info, c.strip())
    ]
    bloom_spec = (
        info.options.get("file-index.format", "").lower() == "spec"
        or bool(bitmap_cols)
        or bool(bsi_cols)
    )
    def _bloom_params(c: str) -> dict:
        # per-column sizing, real Paimon's option names: fpp bounds the
        # false-positive rate, items overrides the distinct estimate
        # (use it when batches undercount a column's true cardinality)
        fpp, items = 0.1, None
        try:
            v = float(info.options.get(f"file-index.bloom-filter.{c}.fpp", 0.1))
            if 0.0 < v < 1.0:
                fpp = v
        except (TypeError, ValueError):
            pass
        raw = info.options.get(f"file-index.bloom-filter.{c}.items")
        if raw is not None:
            try:
                items = int(raw)
            except (TypeError, ValueError):
                items = None
            if items is not None and items <= 0:
                items = None  # nonsense estimate: fall back to batch count
        return {"dtype": _bloom_dtype(info, c), "fpp": fpp, "items": items}

    return (
        bloom_cols,
        bloom_spec,
        {c: _bloom_params(c) for c in bloom_cols},
        bitmap_cols,
        {c: _bitmap_kind(info, c) for c in bitmap_cols},
        bsi_cols,
        {c: _bsi_kind(info, c) for c in bsi_cols},
    )


def _parse_memory_size(raw, default: int) -> int:
    """JVM MemorySize forms ("500 B", "2 KB", "128 mb", bare bytes) to
    bytes; ``default`` on absence or garbage."""
    import re

    if raw is None:
        return default
    m = re.fullmatch(r"(\d+)\s*([a-z]*)", str(raw).strip().lower())
    if not m:
        return default
    mult = {
        "": 1,
        "b": 1,
        "bytes": 1,
        "k": 1024,
        "kb": 1024,
        "kibibytes": 1024,
        "m": 1024**2,
        "mb": 1024**2,
        "mebibytes": 1024**2,
        "g": 1024**3,
        "gb": 1024**3,
        "gibibytes": 1024**3,
    }.get(m.group(2))
    if mult is None:
        return default
    return int(m.group(1)) * mult


def _index_in_manifest_threshold(info) -> int:
    """``file-index.in-manifest-threshold`` in bytes (default 500 B,
    real Paimon's default): spec index payloads at or under it embed
    in the manifest entry; larger ones write a standalone ``*.index``
    file next to the data file, listed in ``_EXTRA_FILES`` — at scale
    a multi-KB bitmap/BSI payload per file would otherwise bloat every
    manifest the planner must read."""
    return _parse_memory_size(
        info.options.get("file-index.in-manifest-threshold", "500 B"), 500
    )


def _target_file_size(info) -> int:
    """``target-file-size`` in bytes (real Paimon's rolling threshold,
    default 128 MB): a write-task group whose in-memory batch exceeds
    it rolls into multiple data files — one partition's compaction at
    100 TB must not produce one multi-GB file. Size is estimated from
    the Arrow batch (uncompressed), so on-disk files come out smaller
    than the target — rolling errs toward more, smaller files, never
    toward a giant one."""
    return _parse_memory_size(
        info.options.get("target-file-size"), 128 * 1024 * 1024
    )


def _split_standalone_index(emb, info, ddir, data_name):
    """Apply ``file-index.in-manifest-threshold`` to a just-built index
    payload: returns ``(embedded, extra_name)``. Spec payloads above
    the threshold are written as ``<data-stem>.index`` beside the data
    file (the JVM shape — manifest lists the name in ``_EXTRA_FILES``);
    engine JSON payloads always embed (no standalone reader contract).
    Runs INSIDE the write task, so the index file lands in the same
    executor-local pass as the data file."""
    import os

    if emb is None or len(emb) <= _index_in_manifest_threshold(info):
        return emb, None
    from paimon_python_spark import fileindex_codec as fic

    if not fic.is_spec_file_index(emb):
        return emb, None
    extra = data_name.rsplit(".", 1)[0] + ".index"
    with open(os.path.join(ddir, extra), "wb") as xf:
        xf.write(emb)
    return None, extra


def _embedded_index_payload(
    tbl,
    bloom_cols,
    bloom_spec,
    bloom_dtypes,
    bitmap_cols=(),
    bitmap_kinds=None,
    bsi_cols=(),
    bsi_kinds=None,
):
    """Per-file embedded file-index payload (bloom/bitmap/bsi) over
    the Arrow table of one written file; returns bytes or None.

    file-index.format=spec (or any bitmap column) opts into the
    spec-format container (JVM readers parse it and probe with their
    own FastHash — byte-interop rests on fileindex_codec's hash
    constants, validated against public vectors; JVM-byte validation
    pending a real lake). Default stays the engine-tagged JSON, which
    foreign readers safely ignore."""
    import json as _json

    if not bloom_cols and not bitmap_cols and not bsi_cols:
        return None
    if bloom_spec:
        from paimon_python_spark import fileindex_codec as fic

        idx = {}
        for c in bloom_cols:
            if c in tbl.column_names:
                vals = [v for v in tbl.column(c).to_pylist() if v is not None]
                if vals:
                    params = bloom_dtypes.get(c) or {}
                    if not isinstance(params, dict):
                        params = {"dtype": params}  # legacy dtype-only form
                    idx.setdefault(c, {})[fic.BLOOM_INDEX_TYPE] = (
                        fic.build_spec_bloom(
                            vals,
                            items=params.get("items")
                            or max(64, len(set(map(repr, vals)))),
                            fpp=params.get("fpp", 0.1),
                            dtype=params.get("dtype"),
                        ).encode()
                    )
        for c in bitmap_cols:
            if c in tbl.column_names:
                try:
                    idx.setdefault(c, {})[fic.BITMAP_INDEX_TYPE] = (
                        fic.build_spec_bitmap(
                            tbl.column(c).to_pylist(),
                            (bitmap_kinds or {}).get(c),
                        )
                    )
                except ValueError:
                    pass  # unencodable shape: no index, never wrong
        for c in bsi_cols:
            if c in tbl.column_names:
                try:
                    idx.setdefault(c, {})[fic.BSI_INDEX_TYPE] = (
                        fic.build_spec_bsi(
                            tbl.column(c).to_pylist(),
                            (bsi_kinds or {}).get(c),
                        )
                    )
                except ValueError:
                    pass  # unmappable shape: no index, never wrong
        return fic.write_file_index(idx) if idx else None
    from paimon_python_spark.bloom import build_hex

    blooms = {}
    for c in bloom_cols:
        if c in tbl.column_names:
            hx = build_hex(tbl.column(c).to_pylist())
            if hx:
                blooms[c] = hx
    if not blooms:
        return None
    return _json.dumps({"format": _EMB_BLOOM_FORMAT, "columns": blooms}).encode(
        "utf-8"
    )


def _murmur_words_batch(words, num_buckets: int):
    """Paimon's hashBytesByWords (murmur3-32, seed 42, no tail) over an
    (N, W) uint32 word matrix — W vector passes over all N rows — then
    ``abs(h) % num_buckets`` with Python abs semantics (parity with the
    scalar fixed_bucket oracle)."""
    import numpy as np

    signed = _murmur_words_hash(words).astype(np.int64)
    return (np.abs(signed) % num_buckets).astype(np.int32)


def _murmur_words_hash(words):
    """The signed int32 key hashcode itself (``bucketKeyHashCode``) —
    what the fixed router mods by N and what the DYNAMIC-bucket hash
    index records verbatim (spec tableindex: Hash Index)."""
    import numpy as np

    n, w = words.shape
    h1 = np.full(n, 42, np.uint32)
    for j in range(w):
        k1 = words[:, j] * np.uint32(0xCC9E2D51)
        k1 = (k1 << np.uint32(15)) | (k1 >> np.uint32(17))
        k1 = k1 * np.uint32(0x1B873593)
        h1 = h1 ^ k1
        h1 = (h1 << np.uint32(13)) | (h1 >> np.uint32(19))
        h1 = h1 * np.uint32(5) + np.uint32(0xE6546B64)
    h1 = h1 ^ np.uint32(4 * w)
    h1 = h1 ^ (h1 >> np.uint32(16))
    h1 = h1 * np.uint32(0x85EBCA6B)
    h1 = h1 ^ (h1 >> np.uint32(13))
    h1 = h1 * np.uint32(0xC2B2AE35)
    h1 = h1 ^ (h1 >> np.uint32(16))
    return h1.astype(np.int32)


def _vectorized_fixed_buckets(cols, key_types, num_buckets: Optional[int] = None):
    """Column-wise BinaryRow encode + batched murmur for a pandas
    batch. Returns an int32 numpy array of bucket ids — or, with
    ``num_buckets=None``, the RAW signed int32 key hashcodes (the
    dynamic-bucket assigner's currency). Covers every type
    encode_binary_row accepts and raises on any other. Byte-exact
    with encode_binary_row: same bitset header, little-endian slots,
    ≤7-byte inline strings, word-aligned var region."""
    import numpy as np
    from pyspark.sql import types as T

    from paimon_python_spark.paimon_import import (
        _INLINE_MARK,
        _bitset_bytes,
    )

    n = len(cols[0])
    arity = len(key_types)
    nb = _bitset_bytes(arity)
    fixed_w = nb + arity * 8
    fixed = np.zeros((n, fixed_w), np.uint8)

    # per-string-field encoded payloads (None for fixed-width fields)
    enc: list = [None] * arity
    var_pad = np.zeros(n, np.int64)  # per-row var-region bytes so far

    for i, (col, dt) in enumerate(zip(cols, key_types)):
        slot = nb + i * 8
        null = col.isna().to_numpy()
        if null.any():
            bit = 8 + i
            fixed[null, bit >> 3] |= np.uint8(1 << (bit & 7))
        if isinstance(dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)):
            w, code = {
                T.IntegerType: (4, "<i4"),
                T.LongType: (8, "<i8"),
                T.ShortType: (2, "<i2"),
                T.ByteType: (1, "i1"),
            }[type(dt)]
            # exact int path: object ints never detour through float64
            # (which would corrupt longs past 2^53)
            vals = col.to_numpy(dtype="int64", na_value=0).astype(code)
            fixed[:, slot : slot + w] = vals.view(np.uint8).reshape(n, w)
        elif isinstance(dt, T.DateType):
            # day precision straight away: dates outside the datetime64[ns]
            # range (years < 1677 or > 2262) stay exact; ints are epoch days
            days = np.asarray(col.to_numpy(), dtype="datetime64[D]")
            days = np.where(null, 0, days.astype(np.int64)).astype("<i4")
            fixed[:, slot : slot + 4] = days.view(np.uint8).reshape(n, 4)
        elif isinstance(dt, T.BooleanType):
            fixed[:, slot] = col.to_numpy(dtype=bool, na_value=False)
        elif isinstance(dt, T.FloatType):
            vals = col.to_numpy(dtype="float64", na_value=0.0).astype("<f4")
            fixed[:, slot : slot + 4] = vals.view(np.uint8).reshape(n, 4)
        elif isinstance(dt, T.DoubleType):
            vals = col.to_numpy(dtype="<f8", na_value=0.0)
            fixed[:, slot : slot + 8] = vals.view(np.uint8).reshape(n, 8)
        elif isinstance(dt, (T.StringType, T.BinaryType)):
            if isinstance(dt, T.StringType):
                b = col.fillna("").str.encode("utf-8")
            else:
                b = col.fillna(b"")
            lens = b.str.len().to_numpy().astype(np.int64)
            lens[null] = 0
            inline = lens <= 7
            # inline marker byte now; payload bytes scatter below
            marker = np.where(
                inline & ~null, _INLINE_MARK | lens.astype(np.int64), 0
            ).astype(np.uint8)
            fixed[:, slot + 7] = np.where(
                null, fixed[:, slot + 7], marker
            )
            # long strings: (offset << 32) | len in the slot; offset is
            # relative to the row start (bitset), past fixed + prior var
            long = ~inline & ~null
            if long.any():
                off = fixed_w + var_pad
                packed = np.where(long, (off << 32) | lens, 0).astype("<i8")
                slot_bytes = packed.view(np.uint8).reshape(n, 8)
                fixed[long, slot : slot + 8] = slot_bytes[long]
                var_pad = var_pad + np.where(long, ((lens + 7) // 8) * 8, 0)
            enc[i] = (b, lens, inline, null)
        else:
            raise ValueError(f"vector bucket: unsupported key type {dt}")

    total = fixed_w + var_pad  # per-row encoded length (multiple of 8)
    out = np.zeros(n, np.int32)
    for L in np.unique(total):
        rows = np.flatnonzero(total == L)
        m = np.zeros((len(rows), int(L)), np.uint8)
        m[:, :fixed_w] = fixed[rows]
        if enc and any(e is not None for e in enc):
            var_cursor = np.full(len(rows), fixed_w, np.int64)
            for i, e in enumerate(enc):
                if e is None:
                    continue
                b, lens, inline, null = e
                slot = nb + i * 8
                gl = lens[rows]
                ginline = inline[rows] & ~null[rows]
                glong = ~inline[rows] & ~null[rows]
                payload = b"".join(b.iloc[rows])
                flat = np.frombuffer(payload, np.uint8)
                if flat.size:
                    starts = np.concatenate(([0], np.cumsum(gl)[:-1]))
                    # fuse row base + in-row destination into ONE flat
                    # scatter: two repeats + one arange total
                    dest_start = np.where(ginline, slot, var_cursor)
                    base = np.repeat(
                        np.arange(len(rows), dtype=np.int64) * int(L)
                        + dest_start
                        - starts,
                        gl,
                    )
                    m.ravel()[base + np.arange(flat.size)] = flat
                var_cursor = var_cursor + np.where(
                    glong, ((gl + 7) // 8) * 8, 0
                )
        words = m.view("<u4").reshape(len(rows), int(L) // 4)
        out[rows] = (
            _murmur_words_hash(words)
            if num_buckets is None
            else _murmur_words_batch(words, num_buckets)
        )
    return out


def _lake_meta_schema():
    """Per-file meta row of :func:`write_lake_group` — the KB-scale
    record a write task returns to the driver instead of data."""
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("file_name", T.StringType()),
            T.StructField("part_json", T.StringType()),
            T.StructField("bucket", T.IntegerType()),
            T.StructField("rows", T.LongType()),
            T.StructField("size", T.LongType()),
            T.StructField("min_seq", T.LongType()),
            T.StructField("max_seq", T.LongType()),
            T.StructField("min_key", T.BinaryType()),
            T.StructField("max_key", T.BinaryType()),
            T.StructField("stats_min", T.BinaryType()),
            T.StructField("stats_max", T.BinaryType()),
            T.StructField("null_counts", T.ArrayType(T.LongType())),
            T.StructField("cl_name", T.StringType()),
            T.StructField("cl_size", T.LongType()),
            T.StructField("emb_idx", T.BinaryType()),
            # spec index payload above file-index.in-manifest-threshold:
            # written as a standalone <data-stem>.index beside the data
            # file (JVM shape), manifest lists it in _EXTRA_FILES
            T.StructField("extra_idx", T.StringType()),
            # dynamic-bucket lakes: JSON of the group's rewritten HASH
            # index meta (None on fixed-bucket/append writes and on
            # groups with no new keys)
            T.StructField("index_meta", T.StringType()),
        ]
    )


def lake_group_dir(table_path: str, info, pvals: dict, bucket: int) -> str:
    """``<table>/<k>=<v>/…/bucket-<b>`` — the directory of one
    (partition, bucket) group; ``pvals`` holds logical values."""
    import os

    from paimon_python_spark.paimon_import import (
        DEFAULT_PARTITION_NAME,
        format_partition_segment,
    )

    default_name = info.options.get("partition.default-name", DEFAULT_PARTITION_NAME)
    rel = [
        f"{k}="
        + format_partition_segment(
            pvals[k], info.spark_schema[k].dataType, default_name
        )
        for k in info.partition_keys
    ]
    return os.path.join(table_path, *rel, f"bucket-{bucket}")


def lake_task_table(batches, info) -> "Optional[pa.Table]":
    """A write task's Arrow batches as one table, in the form
    :func:`write_lake_task` takes: the table's columns cast to their
    declared types, zoned timestamps as the naive session-local wall
    clock (``pc.local_timestamp``, the form stored values and
    ``sequence.field`` numbers are taken from), every other column
    (routing, order and sort columns) as it arrives. The session time
    zone rides in the schema metadata (``_SESSION_TZ``) for the ORC
    file writer. None when the task has no rows."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from paimon_python_spark.types import spark_type_to_pa

    batches = [b for b in batches if b.num_rows]
    if not batches:
        return None
    tbl = pa.Table.from_batches(batches)
    declared = {f.name: f.dataType for f in info.spark_schema.fields}
    cols = []
    tz = None
    for name in tbl.column_names:
        col = tbl.column(name)
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            tz = col.type.tz
            col = pc.local_timestamp(col)
        if name in declared:
            col = col.cast(spark_type_to_pa(declared[name]))
        cols.append(col)
    out = pa.table(cols, names=tbl.column_names)
    return out.replace_schema_metadata({_SESSION_TZ: tz}) if tz else out


#: schema-metadata key of a :func:`lake_task_table`'s session time zone
_SESSION_TZ = b"session_time_zone"


def _orc_instants(table, info, tz: "Optional[bytes]"):
    """``table`` with its TIMESTAMP WITH LOCAL TIME ZONE columns turned
    from the session-local wall clock back into the UTC instant, the
    form Spark's ORC writer stores and its ORC reader expects. Parquet
    and avro files keep the wall clock (a parquet reader takes it in
    the session zone)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    if not tz:
        return table
    for f in info.spark_schema.fields:
        if not isinstance(f.dataType, T.TimestampType):
            continue
        for name in (f.name, f"_KEY_{f.name}"):
            i = table.schema.get_field_index(name)
            if i < 0:
                continue
            utc = pc.assume_timezone(
                table.column(i),
                tz.decode(),
                ambiguous="earliest",
                nonexistent="earliest",
            ).cast(pa.timestamp("us"))
            table = table.set_column(i, name, utc)
    return table


def write_lake_task(tbl, table_path: str, info, fmt: str, kv: bool, **group_kw):
    """The one lake write task: split a task's rows (a
    :func:`lake_task_table`) into groups by partition values, and by
    ``__bucket`` on key-value tables, and run :func:`write_lake_group`
    once per group. Returns every written file's meta row. Both front
    doors run it: the builder's ``mapInArrow`` tasks
    (:func:`_distributed_lake_write`) and ``df.write.format
    ("paimon_lake")`` tasks (``PaimonLakeBatchWriter.write``)."""
    import numpy as np
    import pyarrow as pa

    if tbl is None:
        return []
    n = tbl.num_rows
    gcols = list(info.partition_keys) + (["__bucket"] if kv else [])
    if gcols:
        keyed = tbl.select(gcols).append_column(
            "__i", pa.array(np.arange(n, dtype=np.int64))
        )
        lists = (
            keyed.group_by(gcols, use_threads=False)
            .aggregate([("__i", "list")])
            .column("__i_list")
            .combine_chunks()
        )
        offs = lists.offsets.to_numpy()
        flat = lists.values.to_numpy()
        groups = [np.sort(flat[offs[i] : offs[i + 1]]) for i in range(len(lists))]
    else:
        groups = [None]
    rows = []
    for idx in groups:
        sub = tbl if idx is None or len(idx) == n else tbl.take(idx)
        rows.extend(write_lake_group(sub, table_path, info, fmt, kv, **group_kw))
    return rows


def write_lake_group(
    tbl: "pa.Table",
    table_path: str,
    info,
    fmt: str,
    kv: bool,
    seq_base: int = 0,
    sort_cols: Optional[List[str]] = None,
    changelog: bool = False,
    file_prefix: str = "data",
    sequence_field: Optional[str] = None,
    dyn_old_files: Optional[dict] = None,
) -> List[dict]:
    """The lake file writer: write ONE (partition, bucket) group as
    spec data files in the lake's final layout and return their
    per-file meta rows (:func:`_lake_meta_schema`). Every lake data
    file goes through here, called by :func:`write_lake_task`.

    ``tbl`` is a :func:`lake_task_table`: the table's columns in their
    declared Arrow types and naive session-local timestamps, written
    exactly as they are (a BIGINT beside a NULL stays an int, a NaN
    stays apart from NULL), plus ``__bucket`` (``kv``), an optional
    ``__row_kind`` (0=+I, 1=-U, 2=+U, 3=-D) and an optional
    ``__input_order`` (arrival order). ``kv=True`` writes Paimon
    key-value files: ``_KEY_*`` system columns, per-row
    ``_SEQUENCE_NUMBER`` from ``seq_base`` (or ``sequence_field``),
    sorted by trimmed key — the level-0 LSM shape. ``kv=False`` writes
    plain value files into ``bucket-0``. Files roll at the table's
    target file size. ``dyn_old_files`` ({(part_json, bucket): index
    file}) fuses dynamic-bucket index upkeep into the write: the
    group's new key hashcodes (``__kn`` = 1 rows' ``__h``) extend its
    bucket's HASH index file."""
    import json as _json
    import os
    import uuid

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from paimon_python_spark.paimon_import import (
        _value_stats_for,
        _write_fixture_data_file,
        encode_binary_row,
        logical_value,
    )

    part_keys = list(info.partition_keys)
    trimmed = [k for k in info.primary_keys if k not in part_keys] if kv else []
    trimmed_types = [info.spark_schema[k].dataType for k in trimmed]
    # file-index.bloom-filter.columns: per-file bloom bitmaps for
    # equality file skipping, built over each group's batch and carried
    # in the manifest entry's _EMBEDDED_FILE_INDEX slot (engine payload
    # format — see _decode_embedded_blooms)
    (
        bloom_cols,
        bloom_spec,
        bloom_dtypes,
        bitmap_cols,
        bitmap_kinds,
        bsi_cols,
        bsi_kinds,
    ) = _bloom_option_cols(info)
    target_bytes = _target_file_size(info)

    names = tbl.column_names
    session_tz = (tbl.schema.metadata or {}).get(_SESSION_TZ)
    bucket = tbl.column("__bucket")[0].as_py() if kv else 0
    pvals = {
        k: logical_value(tbl.column(k)[0].as_py(), info.spark_schema[k].dataType)
        for k in part_keys
    }
    order = None
    if trimmed:
        if "__input_order" in names:
            # same-key events sequence in ARRIVAL order (see the
            # __input_order comment in _distributed_lake_write)
            order = trimmed + ["__input_order"]
        else:
            # changelog-diff writers: one logical event per key; a
            # full-compaction changelog carries (-U, +U) pairs and
            # the -U (kind 1) must precede the +U (kind 2) in
            # sequence order for streaming consumers
            order = trimmed + (["__row_kind"] if "__row_kind" in names else [])
    elif sort_cols:
        # intra-file clustering order (sort compaction): file-level
        # min/max don't care, but parquet page stats do
        order = sort_cols
    if order:
        tbl = tbl.take(
            pc.sort_indices(tbl, sort_keys=[(c, "ascending") for c in order])
        )
    n = tbl.num_rows

    arrays = {}
    if kv:
        for k in trimmed:
            arrays[f"_KEY_{k}"] = tbl.column(k)
        if sequence_field is not None:
            # Paimon's sequence.field: a USER column drives the
            # sequence, so out-of-order CDC events merge by event
            # time instead of arrival order (a stale update loses
            # to the newer row already in the lake); a TIMESTAMP
            # counts its session-local wall clock in epoch millis
            sv = tbl.column(sequence_field)
            if pa.types.is_timestamp(sv.type):
                seqs = np.floor_divide(sv.cast(pa.int64()).to_numpy(), 1000)
            else:
                seqs = pc.cast(sv, pa.int64(), safe=False).to_numpy()
        else:
            seqs = np.arange(seq_base, seq_base + n, dtype=np.int64)
        arrays["_SEQUENCE_NUMBER"] = pa.array(seqs, pa.int64())
        arrays["_VALUE_KIND"] = (
            tbl.column("__row_kind").cast(pa.int32())
            if "__row_kind" in names
            else pa.array(np.zeros(n, np.int32))
        )
    for f in info.spark_schema.fields:
        arrays[f.name] = tbl.column(f.name)
    table = pa.table(arrays)
    ddir = lake_group_dir(table_path, info, pvals, bucket)
    os.makedirs(ddir, exist_ok=True)
    part_json = _json.dumps(pvals)
    index_meta = None
    if dyn_old_files is not None and "__kn" in names:
        # dynamic-bucket index upkeep, fused into the write task:
        # this group's NEW key hashcodes extend its bucket's index
        # file (a hash already present stays — a collision with an
        # existing key routes here by design, same as real Paimon)
        newh = pc.filter(tbl.column("__h"), pc.equal(tbl.column("__kn"), 1))
        if len(newh):
            from paimon_python_spark.dynamic_bucket import union_hash_index

            (meta,) = union_hash_index(
                table_path,
                part_keys,
                {(part_json, bucket): newh.to_numpy()},
                dyn_old_files,
            )
            index_meta = _json.dumps(meta)

    if n == 0:
        return []
    # target-file-size ROLLING (real Paimon's rolling writer): a
    # group whose Arrow batch exceeds the target splits into
    # consecutive row chunks, one data file each — a partition's
    # compaction at scale must not fold into one multi-GB file.
    # Chunks preserve the sort above, so per-file key ranges stay
    # disjoint and per-file min/max stats stay tight.
    n_files = 1
    if n > 1 and target_bytes and table.nbytes > target_bytes:
        n_files = min(n, -(-table.nbytes // target_bytes))
    rows_per = -(-n // n_files)
    out_rows = []
    for ci in range(n_files):
        lo = ci * rows_per
        hi = min(n, lo + rows_per)
        if lo >= hi:
            continue
        sub_tbl = table.slice(lo, hi - lo)
        name = f"{file_prefix}-{uuid.uuid4()}-{ci}.{fmt}"
        fpath = os.path.join(ddir, name)
        _write_fixture_data_file(
            _orc_instants(sub_tbl, info, session_tz) if fmt == "orc" else sub_tbl,
            fpath,
            fmt,
        )
        cl_name, cl_size = None, 0
        if changelog:
            # changelog-producer=input: the commit's input rows
            # double as the changelog; a SEPARATE physical file
            # (real Paimon's shape) so compaction can fold the data
            # file while the changelog stays for streaming readers.
            # Executor-local byte copy — same task, no extra pass.
            import shutil as _shutil

            cl_name = f"changelog-{uuid.uuid4()}-{ci}.{fmt}"
            _shutil.copyfile(fpath, os.path.join(ddir, cl_name))
            cl_size = os.path.getsize(os.path.join(ddir, cl_name))
        if trimmed:
            kmin = encode_binary_row(
                [
                    logical_value(sub_tbl.column(f"_KEY_{k}")[0].as_py(), t)
                    for k, t in zip(trimmed, trimmed_types)
                ],
                trimmed_types,
            )
            kmax = encode_binary_row(
                [
                    logical_value(sub_tbl.column(f"_KEY_{k}")[-1].as_py(), t)
                    for k, t in zip(trimmed, trimmed_types)
                ],
                trimmed_types,
            )
        else:
            kmin = kmax = b""
        stats = _value_stats_for(sub_tbl, info)
        emb = _embedded_index_payload(
            sub_tbl,
            bloom_cols,
            bloom_spec,
            bloom_dtypes,
            bitmap_cols,
            bitmap_kinds,
            bsi_cols,
            bsi_kinds,
        )
        emb, extra_idx = _split_standalone_index(emb, info, ddir, name)
        sub_seqs = seqs[lo:hi] if kv else None
        out_rows.append(
            {
                "file_name": name,
                "part_json": part_json,
                "bucket": bucket,
                "rows": hi - lo,
                "size": os.path.getsize(fpath),
                "min_seq": int(sub_seqs.min()) if kv else 0,
                "max_seq": int(sub_seqs.max()) if kv else hi - lo,
                "min_key": kmin,
                "max_key": kmax,
                "stats_min": stats["_MIN_VALUES"],
                "stats_max": stats["_MAX_VALUES"],
                "null_counts": stats["_NULL_COUNTS"],
                "cl_name": cl_name,
                "cl_size": cl_size,
                "emb_idx": emb,
                "extra_idx": extra_idx,
                # the group's rewritten HASH index rides the first
                # chunk's row (one index file per group, not per file)
                "index_meta": index_meta if ci == 0 else None,
            }
        )
    return out_rows


def lake_add_entry(
    info, r, num_buckets: int, level: int = 0, changelog: bool = False
) -> dict:
    """Manifest ADD entry for one :func:`write_lake_group` meta row
    (a dict; ``changelog=True`` adds the row's changelog file instead
    of its data file). Optional fields (keys, stats, file indexes) may
    be absent. With :func:`lake_delete_entry`, the one way a lake
    commit here builds a data-file manifest entry."""
    import json as _json

    from paimon_python_spark.paimon_import import (
        _spec_file_meta,
        encode_binary_row,
    )

    part_keys = list(info.partition_keys)
    pj = _json.loads(r["part_json"])
    name, size = (
        (r["cl_name"], r["cl_size"]) if changelog else (r["file_name"], r["size"])
    )
    extra = None if changelog else r.get("extra_idx")
    return {
        "_VERSION": 2,
        "_KIND": 0,
        "_PARTITION": encode_binary_row(
            [pj[k] for k in part_keys],
            [info.spark_schema[k].dataType for k in part_keys],
        ),
        "_BUCKET": int(r["bucket"]),
        "_TOTAL_BUCKETS": num_buckets,
        "_FILE": _spec_file_meta(
            name,
            int(size),
            int(r["rows"]),
            schema_id=info.id,
            value_stats={
                "_MIN_VALUES": bytes(r.get("stats_min") or b""),
                "_MAX_VALUES": bytes(r.get("stats_max") or b""),
                "_NULL_COUNTS": (
                    list(r["null_counts"])
                    if r.get("null_counts") is not None
                    else None
                ),
            },
            min_key=bytes(r.get("min_key") or b""),
            max_key=bytes(r.get("max_key") or b""),
            min_seq=int(r["min_seq"]),
            max_seq=int(r["max_seq"]),
            level=level,
            embedded_index=(
                bytes(r["emb_idx"]) if r.get("emb_idx") is not None else None
            ),
            extra_files=[extra] if extra is not None else None,
        ),
    }


def lake_delete_entry(info, e: PaimonFileEntry) -> dict:
    """Manifest DELETE entry removing the live file ``e``."""
    from paimon_python_spark.paimon_import import (
        _spec_file_meta,
        encode_binary_row,
    )

    part_keys = list(info.partition_keys)
    return {
        "_VERSION": 2,
        "_KIND": 1,
        "_PARTITION": encode_binary_row(
            [e.partition[k] for k in part_keys],
            [info.spark_schema[k].dataType for k in part_keys],
        ),
        "_BUCKET": e.bucket,
        "_TOTAL_BUCKETS": int(info.options.get("bucket", "1")),
        "_FILE": _spec_file_meta(
            e.file_name,
            e.file_size,
            e.row_count,
            schema_id=e.schema_id,
            max_seq=e.max_seq,
            level=e.level,
        ),
    }


def _surviving_dv_marks(table_path: str, removed: set) -> dict:
    """{data file: deleted positions} of the DV marks on files NOT in
    ``removed`` — marks on removed files drop with their rows, marks on
    kept files must re-commit in the new index manifest."""
    import numpy as np

    from paimon_python_spark.paimon_import import read_dv_index_entry

    surviving: dict = {}
    for r in plan_paimon_dv(table_path):
        if r.data_file_name not in removed:
            pos = read_dv_index_entry(r.index_path, r.offset, r.length)
            cur = surviving.get(r.data_file_name)
            surviving[r.data_file_name] = (
                np.union1d(cur, pos) if cur is not None else pos
            )
    return surviving


def _distributed_lake_write(
    table_path: str,
    info,
    df,
    fmt: str,
    kv: bool,
    num_buckets: int = 1,
    bucket_cols: Optional[List[str]] = None,
    seq_base: int = 0,
    row_kind_col: Optional[str] = None,
    level: int = 0,
    single_file_per_group: bool = False,
    sort_cols: Optional[List[str]] = None,
    changelog: bool = False,
    file_prefix: str = "data",
    sequence_field: Optional[str] = None,
    arrival_order: bool = True,
    dyn_index_out: Optional[list] = None,
    dyn_fresh: bool = False,
):
    """EXECUTOR-SIDE data-file write into a real lake's final layout,
    the builder's front end to :func:`write_lake_task`: casts ``df``
    to the table schema, routes rows (``kv``: a bucket per key) and
    runs the one lake write task over each Spark task's Arrow batches
    through ``mapInArrow`` — no driver materialization, no staging
    dir. Key-value writes and append compaction first repartition on
    their group keys, so each (partition, bucket) group, or each
    partition, reaches exactly one task and becomes one set of files.
    Plain appends do not shuffle: their groups are (partition, input
    task). Only KB-scale per-file metadata returns to the driver,
    which turns it into manifest ADD entries with
    :func:`lake_add_entry`. Returns (manifest ADD entries, total
    rows), plus the changelog entries when ``changelog``."""
    import json as _json

    from pyspark.sql import functions as F

    part_keys = list(info.partition_keys)
    trimmed = [k for k in info.primary_keys if k not in part_keys] if kv else []

    from paimon_python_spark._localdf import (
        cast_select_sql,
        pinned_width,
        quote_ident,
    )
    from paimon_python_spark.types import spark_schema_to_pa

    schema_names = {f.name for f in info.spark_schema.fields}
    extra_sort = [c for c in (sort_cols or []) if c not in schema_names]
    # a pre-routed input (CrossPartitionRouter) already carries
    # __h/__bucket/__kn — keep them through the cast so the dynamic
    # branch below takes the no-reroute path
    pre_routed = [
        c for c in ("__h", "__bucket", "__kn") if c in df.columns
    ]
    # single parsed select (one py4j round trip) instead of 3 calls per
    # column — this runs on EVERY commit (guide §5.3 driver latency)
    sdf = df.selectExpr(
        *cast_select_sql(info.spark_schema.fields),
        *(
            [f"CAST({quote_ident(row_kind_col)} AS int) AS __row_kind"]
            if row_kind_col
            else []
        ),
        *[quote_ident(c) for c in extra_sort],
        *[quote_ident(c) for c in pre_routed],
    )
    if kv and arrival_order:
        # Arrival-order sequencing (real Paimon's SequenceGenerator):
        # same-key events in one commit must get sequence numbers in the
        # order they ARRIVED, not by RowKind value — a delete-then-
        # reinsert batch nets to the re-insert. The monotonic id is
        # captured BEFORE the (partition, bucket) shuffle, so each
        # group can be restored to input order even though its task
        # receives rows in shuffle order.
        # Changelog-diff writers pass arrival_order=False: their input
        # has at most one logical event per key and the (-U, +U) pair
        # order is the kind order.
        sdf = sdf.withColumn("__input_order", F.monotonically_increasing_id())
    dyn_assigner = None
    dyn_old_files = None  # non-None = fuse index rewrite into the write task
    if kv:
        bcols = list(bucket_cols or trimmed)
        key_types = [info.spark_schema[c].dataType for c in bcols]
        if num_buckets < 1:
            # DYNAMIC bucket mode ('bucket' = '-1'): routing is decided
            # by the lake's HASH index, not a modulus — existing keys
            # join their recorded bucket, new keys capacity-fill, and
            # the touched buckets' index files rewrite executor-side.
            # Callers stage the new index metas via dyn_index_out and
            # commit them in the merged index manifest; a caller that
            # doesn't pass it keeps the reference's refusal.
            if dyn_index_out is None:
                raise TypeError(
                    "Doesn't support writing dynamic bucket or cross partition table."
                )
            from paimon_python_spark.dynamic_bucket import DynamicBucketAssigner

            if {"__h", "__bucket", "__kn"} <= set(sdf.columns):
                # pre-routed (CrossPartitionRouter): __h/__bucket/__kn
                # are already attached — only the old-index file map is
                # needed for the fused index rewrite below. The helper
                # assigner is metadata-only (no attach, nothing to
                # release).
                _map_helper = DynamicBucketAssigner(
                    table_path, info, bcols, dyn_index_out, fresh=dyn_fresh
                )
                dyn_old_files = {
                    (pj, b): m["file"]
                    for pj, bs in _map_helper.state.items()
                    for b, m in bs.items()
                    if m["file"]
                }
            else:
                dyn_assigner = DynamicBucketAssigner(
                    table_path, info, bcols, dyn_index_out, fresh=dyn_fresh
                )
                sdf = dyn_assigner.attach(sdf)
                # index maintenance FUSES into the data-write task
                # below: each (partition, bucket) group rewrites its
                # own index file (old hashes ++ its rows' new hashes)
                # alongside its data file — one action instead of a
                # second pass over the routed batch. The group only
                # needs the OLD file map.
                dyn_old_files = {
                    (pj, b): m["file"]
                    for pj, bs in dyn_assigner.state.items()
                    for b, m in bs.items()
                    if m["file"]
                }
        else:
            # JVM-native routing: the BinaryRow murmur as a single
            # parsed expression keeps the pre-shuffle map stage
            # whole-stage-codegen — a pandas UDF cost a Python-worker
            # round trip (~100-140 ms profiled) in EVERY commit's map
            # stage just to route rows (guide §4.1)
            from paimon_python_spark.paimon_import import (
                binary_row_bucket_expr,
            )

            _bexpr = binary_row_bucket_expr(bcols, key_types, num_buckets)
            sdf = sdf.withColumn("__bucket", F.expr(_bexpr))
        gcols = part_keys + ["__bucket"]
    else:
        # no bucket routing on append tables: keep the input task
        # parallelism, one output file per (partition, task) — except
        # compaction, whose whole point is folding a partition's files
        # into one
        gcols = part_keys if single_file_per_group else None

    if gcols is not None:
        # every group must reach exactly ONE task, and the group
        # write's width stays pinned: the routed rows shuffle only KBs
        # at gate scale, so AQE's byte-coalescing would fold every
        # (partition, bucket) group's file write onto ONE core
        # (profiled: 1-task jobs of 150-250 ms per commit while 31
        # cores idled). An explicit repartition is never coalesced.
        # Known group-count bound: an UNPARTITIONED fixed-bucket PK
        # table has at most num_buckets groups — cap the pinned width
        # so a tiny commit into a session with a huge configured
        # shuffle width does not fan into hundreds of empty Python
        # tasks
        _bound = (
            num_buckets if (kv and num_buckets >= 1 and not part_keys) else None
        )
        _w = pinned_width(sdf.sparkSession, max_groups=_bound)
        sdf = sdf.repartition(_w, *gcols) if gcols else sdf.repartition(1)

    meta_schema = _lake_meta_schema()
    meta_arrow = spark_schema_to_pa(meta_schema)

    def _write_task(batches):
        import pyarrow as pa

        rows = write_lake_task(
            lake_task_table(batches, info),
            table_path,
            info,
            fmt,
            kv,
            seq_base=seq_base,
            sort_cols=sort_cols,
            changelog=changelog,
            file_prefix=file_prefix,
            sequence_field=sequence_field,
            dyn_old_files=dyn_old_files,
        )
        if rows:
            yield pa.RecordBatch.from_pylist(rows, schema=meta_arrow)

    meta = [r.asDict() for r in sdf.mapInArrow(_write_task, meta_schema).collect()]
    if dyn_assigner is not None:
        dyn_assigner.release()
    if dyn_old_files is not None:
        dyn_index_out.extend(
            _json.loads(r["index_meta"]) for r in meta if r["index_meta"]
        )
    man_entries = [lake_add_entry(info, r, num_buckets, level) for r in meta]
    n_rows = sum(int(r["rows"]) for r in meta)
    if changelog:
        cl_entries = [
            lake_add_entry(info, r, num_buckets, level, changelog=True)
            for r in meta
            if r["cl_name"] is not None
        ]
        return man_entries, n_rows, cl_entries
    return man_entries, n_rows


def write_lake_pk_append(
    table_path: str,
    df,
    row_kind_col: Optional[str] = None,
    xp_location_cache=None,
    watermark=None,
) -> int:
    """Commit an upsert into a REAL fixed-bucket PRIMARY-KEY Paimon
    lake — the engine as a CDC participant: each row routes to
    ``abs(murmur(BinaryRow(bucket key))) % num_buckets`` (Paimon's
    public ``FixedBucketRowKeyExtractor``), each (partition, bucket)
    group writes one sorted level-0 key-value file (``_KEY_*`` columns,
    fresh ``_SEQUENCE_NUMBER`` range past every live file's max, per-row
    ``_VALUE_KIND``), and the snapshot commit is the same CAS-retry
    metadata write as the append path. The lake's own readers resolve
    the merge: max sequence per key wins, ``-D`` drops.

    ``row_kind_col``: optional int column (0=+I, 1=-U, 2=+U, 3=-D) for
    changelog-style writes; omitted means all +I. Dynamic-bucket lakes
    are refused exactly like the reference
    (py4j/util/java_utils.py:56-61, ``check_batch_write``).

    Changelog producers honored per the table's ``changelog-producer``
    option: ``input`` re-emits the commit's input as changelog files;
    ``lookup`` derives the full-image changelog ((-U old, +U new)
    pairs, -D with old values) by semi-joining the merged state on the
    batch's keys at commit time; ``full-compaction`` defers to
    :func:`compact_lake`.

    A declared ``sequence.field`` option makes that USER column drive
    ``_SEQUENCE_NUMBER`` (timestamps as epoch-millis), so out-of-order
    CDC events merge by event time: a stale update arriving late loses
    to the newer row already in the lake, exactly like real Paimon.

    ``xp_location_cache``: a :class:`~paimon_python_spark.
    dynamic_bucket.CrossLocationCache` shared across consecutive
    commits (a streaming sink's micro-batches) replaces the per-commit
    CROSS_PARTITION merged-state read with a delta-maintained
    (pk → partition) projection — bootstrap once, then O(batch) upkeep.
    Returns the new snapshot id."""
    from paimon_python_spark.paimon_import import plan_paimon_files

    info = read_paimon_schema(table_path)
    watermark = _derive_lake_watermark(info, df, watermark)
    if not info.primary_keys:
        raise ValueError(
            "write_lake_pk_append: table has no primary keys — "
            "use write_lake_append"
        )
    num_buckets = int(info.options.get("bucket", "-1"))
    dynamic = num_buckets < 1
    # CROSS_PARTITION ('bucket' = '-1' with PK ⊉ partition keys): an
    # update can move a key across partitions — routed below via
    # CrossPartitionRouter (retraction into the old partition +
    # partition-local hash-index assignment). The reference refuses
    # both this and plain dynamic mode (py4j/util/java_utils.py:56-61).
    cross = dynamic and bool(info.partition_keys) and not (
        set(info.partition_keys) <= set(info.primary_keys)
    )
    dyn_out: Optional[list] = [] if dynamic else None
    fmt = info.options.get("file.format", "parquet")
    if fmt not in ("parquet", "orc", "avro"):
        raise NotImplementedError(
            f"write_lake_pk_append: file.format={fmt!r} not supported"
        )
    if dynamic:
        # SOUNDNESS GUARD: a dynamic lake with data but no HASH index
        # (hand-built fixture, torn import) can't route existing keys
        # to their buckets — a blind write could put a key's new
        # version in a different bucket and break the merge. A real
        # Paimon writer always leaves the index; compact_lake() rebuilds
        # it here (the rewrite re-routes and re-indexes every key).
        from paimon_python_spark.paimon_import import plan_paimon_hash_index

        if not plan_paimon_hash_index(table_path) and plan_paimon_files(
            table_path
        ):
            raise ValueError(
                "write_lake_pk_append: dynamic-bucket lake has data files "
                "but no HASH index — key routing would be unsound; run "
                "compact_lake() to rebuild the index from the merged state"
            )
    bucket_cols = _check_bucket_key(info)
    rk_field = info.options.get("rowkind.field")
    if row_kind_col is None and rk_field:
        # rowkind.field table option (Paimon's RowKindGenerator): the
        # declared USER column carries the row kind (+I/-U/+U/-D
        # strings or 0-3 bytes); it stays in the data like any column
        from paimon_python_spark.write import rowkind_field_expr

        df = df.withColumn("__rk_kind", rowkind_field_expr(df, rk_field))
        row_kind_col = "__rk_kind"
    seq_base = max((e.max_seq for e in plan_paimon_files(table_path)), default=-1) + 1
    # changelog-producer=input: the commit's input doubles as its
    # changelog (real Paimon's cheapest producer — no lookup, no
    # full-compaction diff), written as SEPARATE changelog-* files so
    # compaction can fold level-0 data files while streaming readers
    # still see every intermediate record.
    producer = info.options.get("changelog-producer", "none")
    produce_cl = producer == "input"
    xp_router = None
    if cross:
        if info.options.get("sequence.field"):
            # a retraction row carries NULL values — it cannot take its
            # sequence from a user column; arrival order is the only
            # sound sequencing for cross-partition moves
            raise NotImplementedError(
                "write_lake_pk_append: sequence.field is not supported "
                "on CROSS_PARTITION lakes (retraction rows have no user "
                "sequence value)"
            )
        from paimon_python_spark.dynamic_bucket import CrossPartitionRouter

        xp_router = CrossPartitionRouter(
            table_path, info, dyn_out, location_cache=xp_location_cache
        )
        df = xp_router.attach(df, row_kind_col=row_kind_col)
        row_kind_col = "__kind"
    # changelog-producer=lookup: derive the FULL-IMAGE changelog at
    # commit time by looking up each incoming key's previous merged
    # value — existing keys emit (-U old, +U new), fresh keys +I,
    # deletes -D with the old values. Spark shape: a left-semi join of
    # the merged state against the batch's distinct keys (the analogue
    # of Paimon's per-record LSM lookup), then the same net-effect
    # diff as full compaction. The changelog is the commit's NET
    # per-key effect (a value-identical upsert emits nothing);
    # batches are assumed key-unique, the CDC upsert shape.
    lookup_entries = None
    if producer == "lookup":
        from pyspark.sql import functions as F

        batch = df
        if row_kind_col is not None:
            # -U rows are the retraction half of an update — the +U
            # generates the pair; deletes handle via absence from new
            batch = df.filter(F.col(row_kind_col).cast("int") != 1)
        keys = list(info.primary_keys)
        val_cols = [f.name for f in info.spark_schema.fields]
        new_sub = (
            batch.filter(F.col(row_kind_col).cast("int") != 3)
            if row_kind_col is not None
            else batch
        ).select(*val_cols)
        batch_keys = batch.select(*keys).distinct()
        old_sub = None
        try:
            # the FIRST commit of a fresh lake has no old state at all
            # — check before launching any collect job, so the seed
            # commit pays zero lookup overhead (every key is +I)
            from paimon_python_spark.paimon_import import (
                latest_paimon_snapshot_id as _latest_sid,
            )

            _latest_sid(table_path)  # raises FileNotFoundError if none
            if cross:
                # CROSS_PARTITION lookup: a key's old version may live
                # in ANY partition, so bucket scoping doesn't apply —
                # prune the merged read with IN predicates over the
                # batch's keys instead (footer stats + bloom skipping
                # below the merge), falling back to the key-semi-joined
                # full scan for bulk batches (the bootstrap cost real
                # Paimon's global index assigner also pays).
                probe = batch_keys.limit(_LOOKUP_POINT_KEY_CAP + 1).collect()
                old_rb = PaimonLakeTable(table_path).new_read_builder()
                if 0 < len(probe) <= _LOOKUP_POINT_KEY_CAP:
                    pb_x = PredicateBuilder(
                        [f.name for f in info.spark_schema.fields]
                    )
                    x_preds = []
                    for k in keys:
                        vals = sorted(
                            {r[k] for r in probe if r[k] is not None},
                            key=repr,
                        )
                        if vals:
                            x_preds.append(pb_x.is_in(k, vals))
                    if x_preds:
                        old_rb = old_rb.with_filter(
                            pb_x.and_predicates(x_preds)
                            if len(x_preds) > 1
                            else x_preds[0]
                        )
                old_sub = (
                    old_rb.new_read()
                    .to_df()
                    .join(batch_keys, keys, "left_semi")
                )
                raise _CrossLookupDone()
            # BUCKET-SCOPED lookup (the analogue of real Paimon's
            # per-bucket LSM point lookups): the merge unit is the
            # (partition, bucket) group, so the old state of buckets
            # this batch doesn't touch is irrelevant. Route the batch's
            # rows through the writer's own fixed_bucket hash, collect
            # the DISTINCT touched groups (bounded by the number of
            # files this commit writes, never by batch size), and plan
            # only those file groups — a 10-row CDC commit into a
            # 100-TB lake merges a handful of buckets, not the lake.
            part_keys_l = list(info.partition_keys)
            bcols_l = bucket_cols
            key_types_l = [info.spark_schema[c].dataType for c in bcols_l]
            # cast to the DECLARED types first — the write path casts
            # before routing, and the collected partition values must
            # compare equal to the decoded logical manifest values
            # (e.g. a timestamp-typed dt in the batch vs DATE partition)
            # ROUTE BY BATCH SIZE first with a narrow limit-count (no
            # shuffle — scans at most cap+1 rows): CDC batches are
            # key-unique by contract, so row count bounds distinct
            # keys. Small batches take ONE wide distinct-collect that
            # serves both the touched-group set and the point-lookup
            # keys; bulk batches keep the r8 groups-only distinct and
            # NEVER pay a full-width distinct shuffle of the batch.
            small = (
                batch.limit(_LOOKUP_POINT_KEY_CAP + 1).count()
                <= _LOOKUP_POINT_KEY_CAP
            )
            probe_cols = list(dict.fromkeys(part_keys_l + keys + bcols_l))
            if not dynamic:
                # JVM-native bucket routing for the probe (same
                # expression as the write path)
                from paimon_python_spark.paimon_import import (
                    binary_row_bucket_expr,
                )

                bucket_col = F.expr(
                    binary_row_bucket_expr(bcols_l, key_types_l, num_buckets)
                )
            typed = []
            if small:
                typed_keys = batch.select(
                    *[
                        F.col(c).cast(info.spark_schema[c].dataType).alias(c)
                        for c in probe_cols
                    ]
                ).distinct()
                if dynamic:
                    # DYNAMIC lake: routing is index-recorded, not a
                    # modulus — join the batch's keys against the HASH
                    # index. Only keys ALREADY indexed (__kn = 0) have
                    # old state to look up; fresh keys are +I.
                    from paimon_python_spark.dynamic_bucket import (
                        DynamicBucketAssigner,
                    )

                    probe_assigner = DynamicBucketAssigner(
                        table_path, info, bcols_l, dyn_out
                    )
                    typed_keys = probe_assigner.attach(
                        typed_keys
                    ).withColumnRenamed("__bucket", "__b")
                else:
                    probe_assigner = None
                    typed_keys = typed_keys.withColumn(
                        "__b", bucket_col
                    ).withColumn("__kn", F.lit(0))
                typed = typed_keys.limit(_LOOKUP_POINT_KEY_CAP + 1).collect()
                if probe_assigner is not None:
                    probe_assigner.release()
            key_pred = None
            if 0 < len(typed) <= _LOOKUP_POINT_KEY_CAP:
                touched = {
                    (tuple(r[k] for k in part_keys_l), int(r["__b"]))
                    for r in typed
                    if not r["__kn"]  # fresh keys have no old state
                }
                # POINT LOOKUP inside touched buckets (the analogue of
                # real Paimon's bloom-assisted LSM point lookup): an IN
                # predicate over the batch's key values lets footer
                # min/max stats and the bloom file index drop files
                # that provably hold none of the keys — a 10-row commit
                # into a bucket of many files opens only the surviving
                # ones instead of re-merging the whole bucket. Sound by
                # the PK filter-placement rule; per-column IN is a
                # superset of the batch's key tuples, and the exact
                # semi-join below restores tuple precision.
                pb_l = PredicateBuilder(
                    [f.name for f in info.spark_schema.fields]
                )
                col_preds = []
                for k in keys:
                    vals = sorted(
                        {r[k] for r in typed if r[k] is not None},
                        key=repr,
                    )
                    if vals:
                        col_preds.append(pb_l.is_in(k, vals))
                if col_preds:
                    key_pred = (
                        pb_l.and_predicates(col_preds)
                        if len(col_preds) > 1
                        else col_preds[0]
                    )
            else:
                # bulk commit: above the cap the whole-bucket merge is
                # the right plan — collect only the touched groups
                # (bounded by partitions × buckets, never batch size),
                # from a NARROW (partition + bucket-key) distinct, never
                # a full-width distinct of the batch
                narrow = batch.select(
                    *[
                        F.col(c).cast(info.spark_schema[c].dataType).alias(c)
                        for c in list(dict.fromkeys(part_keys_l + bcols_l))
                    ]
                ).distinct()
                if dynamic:
                    from paimon_python_spark.dynamic_bucket import (
                        DynamicBucketAssigner,
                    )

                    probe_assigner = DynamicBucketAssigner(
                        table_path, info, bcols_l, dyn_out
                    )
                    routed = (
                        probe_assigner.attach(narrow)
                        .filter(F.col("__kn") == 0)
                        .withColumnRenamed("__bucket", "__b")
                    )
                else:
                    probe_assigner = None
                    routed = narrow.withColumn("__b", bucket_col)
                touched_rows = (
                    routed.select(*part_keys_l, "__b").distinct().collect()
                )
                if probe_assigner is not None:
                    probe_assigner.release()
                touched = {
                    (tuple(r[k] for k in part_keys_l), int(r["__b"]))
                    for r in touched_rows
                }
            # the semi-join then restricts the merged groups to touched
            # KEYS; AQE broadcasts the key set when it is small (the
            # common CDC batch) — never force-broadcast an unbounded
            # batch
            old_rb = (
                PaimonLakeTable(table_path)
                .new_read_builder()
                .with_bucket_groups(touched)
            )
            if key_pred is not None:
                old_rb = old_rb.with_filter(key_pred)
            old_sub = (
                old_rb.new_read().to_df().join(batch_keys, keys, "left_semi")
            )
        except FileNotFoundError:
            pass  # no snapshot yet: every key is fresh, all +I
        except _CrossLookupDone:
            pass  # cross-partition old_sub computed above
        cl_df = _full_compaction_changelog_diff(old_sub, new_sub, keys)
        if xp_router is not None:
            # CROSS_PARTITION: route the changelog rows from the
            # ROUTER'S persisted assignments instead of a second
            # assigner — both writes of this commit must see ONE
            # new-key ranking. The router ranked the DATA batch, which
            # can contain rows that produce no changelog row (e.g. a
            # -D of an absent key); a fresh ranking over the
            # changelog's own new keys can shift ranks across a
            # capacity-segment boundary and pin one hashcode in two
            # buckets of a partition (every later write's index join
            # would then match both and multiply rows). (pk, partition)
            # is unique in the routed union by construction
            # (arrival_dedup + one retraction per moved key, in its
            # OLD partition), so the join fans out nothing; every
            # changelog row has a routed twin: ±U/-D old-image rows
            # match the retraction (moved keys) or the in-place input
            # row, +I/+U new-image rows match the input row.
            # dedup: pk ∩ partition overlap is legal in cross mode
            jk = list(dict.fromkeys(keys + list(info.partition_keys)))
            cl_df = cl_df.join(
                df.select(*jk, "__h", "__bucket", "__kn"), jk, "left"
            )
        lookup_entries, _ = _distributed_lake_write(
            table_path,
            info,
            cl_df,
            fmt,
            kv=True,
            num_buckets=num_buckets,
            bucket_cols=bucket_cols,
            seq_base=seq_base,
            row_kind_col="__kind",
            file_prefix="changelog",
            arrival_order=False,
            dyn_index_out=dyn_out,
        )
    seq_field = info.options.get("sequence.field") or None
    if seq_field is not None and seq_field not in info.spark_schema.names:
        raise ValueError(
            f"write_lake_pk_append: sequence.field {seq_field!r} not in schema"
        )
    result = _distributed_lake_write(
        table_path,
        info,
        df,
        fmt,
        kv=True,
        num_buckets=num_buckets,
        bucket_cols=bucket_cols,
        seq_base=seq_base,
        row_kind_col=row_kind_col,
        changelog=produce_cl,
        sequence_field=seq_field,
        dyn_index_out=dyn_out,
    )
    try:
        if produce_cl:
            man_entries, n_rows, cl_entries = result
        else:
            man_entries, n_rows = result
            cl_entries = lookup_entries
        if not man_entries:
            raise ValueError(
                "write_lake_pk_append: empty input — nothing to commit"
            )
        index_manifest = _INHERIT_INDEX
        if dyn_out:
            # dynamic-bucket commit: new key→bucket assignments become the
            # commit's merged index manifest (previous HASH + DV entries
            # carried forward, touched HASH buckets replaced)
            from paimon_python_spark.dynamic_bucket import (
                write_merged_index_manifest,
            )

            name = write_merged_index_manifest(table_path, info, dyn_out)
            if name is not None:
                index_manifest = name
        sid = _commit_lake_snapshot(
            table_path,
            info,
            man_entries,
            n_rows,
            changelog_entries=cl_entries,
            index_manifest=index_manifest,
            watermark=watermark,
        )
        if xp_router is not None and xp_location_cache is not None:
            # the snapshot is published: fold this commit's net batch
            # into the cached (pk → partition) projection, BEFORE
            # release() drops the checkpointed batch
            xp_location_cache.update(info, xp_router.net_batch, sid)
        return sid
    finally:
        if xp_router is not None:
            xp_router.release()


def create_lake_table(
    table_path: str,
    schema,
    partition_keys: Optional[List[str]] = None,
    primary_keys: Optional[List[str]] = None,
    options: Optional[dict] = None,
) -> str:
    """CREATE a spec-format Paimon table from scratch — the engine can
    BOOTSTRAP a lake, not just participate in one: ``schema-0`` is
    written exactly as the published spec describes (typed field list
    with ids 0..n-1, partition/primary keys, options) and the first
    ``write_lake_append`` commits ``snapshot-1`` against the empty
    prior state. A JVM Paimon reader (or this engine) consumes the
    result as any other lake.

    ``schema``: a Spark ``StructType`` (types map via the export
    bridge's type table; primary-key fields are forced NOT NULL, as
    real Paimon requires) or a pre-built ``[(name, paimon type
    string)]`` list. Returns ``table_path``."""
    import json
    import os

    from pyspark.sql import types as T

    from paimon_python_spark.paimon_import import paimon_type_string

    if os.path.exists(os.path.join(table_path, "schema")):
        raise ValueError(f"create_lake_table: {table_path!r} already exists")
    pks = list(primary_keys or [])
    parts = list(partition_keys or [])
    if isinstance(schema, T.StructType):
        fields = []
        for f in schema.fields:
            if f.name in pks and f.nullable:
                f = T.StructField(f.name, f.dataType, nullable=False)
            fields.append((f.name, paimon_type_string(f)))
    else:
        fields = list(schema)
    names = [n for n, _ in fields]
    for k in pks + parts:
        if k not in names:
            raise ValueError(f"create_lake_table: key column {k!r} not in schema")
    bucket_cols = _lake_bucket_cols(options or {}, pks, parts) if pks else []
    if bucket_cols:
        # refuse an unhashable bucket key now, not in the first write
        from paimon_python_spark.paimon_import import (
            binary_row_hash_expr,
            parse_paimon_type,
        )

        types = dict(fields)
        binary_row_hash_expr(
            bucket_cols, [parse_paimon_type(types[c])[0] for c in bucket_cols]
        )
    if options:
        from paimon_python_spark.tags import validate_auto_tag_options

        # create time is where bad tag options may raise; the commit
        # path skips unsupported modes (snapshot already durable)
        validate_auto_tag_options(options)
    # both dynamic-bucket ('bucket' = '-1', real Paimon's default PK
    # mode) and CROSS_PARTITION (PK ⊉ partition keys) lakes are
    # creatable: the HASH-index assigner routes the former, the
    # retraction-emitting CrossPartitionRouter the latter
    # (dynamic_bucket.py) — the reference refuses both at write time
    # (py4j/util/java_utils.py:56-61)
    os.makedirs(os.path.join(table_path, "schema"))
    os.makedirs(os.path.join(table_path, "snapshot"), exist_ok=True)
    os.makedirs(os.path.join(table_path, "manifest"), exist_ok=True)
    with open(os.path.join(table_path, "schema", "schema-0"), "w") as f:
        json.dump(
            {
                "version": 3,
                "id": 0,
                "fields": [
                    {"id": i, "name": n, "type": t}
                    for i, (n, t) in enumerate(fields)
                ],
                "highestFieldId": len(fields) - 1,
                "partitionKeys": parts,
                "primaryKeys": pks,
                "options": options or {},
                "timeMillis": 0,
            },
            f,
        )
    return table_path


class PaimonLakeCatalog:
    """Reference-parity catalog UX over a warehouse of REAL spec-format
    Paimon tables (``<warehouse>/<db>.db/<table>``): the same
    create/get/list surface as the reference's filesystem catalog
    (pypaimon/api/catalog.py:24-45), but every handle is a
    :class:`PaimonLakeTable` — in-place reads of live lakes, and
    creates that a JVM reader consumes. ``Catalog`` (the engine's own
    format) and this class are the two ends of the bridge."""

    def __init__(self, warehouse: str):
        self.warehouse = warehouse

    @staticmethod
    def create(options: dict) -> "PaimonLakeCatalog":
        import os

        wh = options["warehouse"]
        os.makedirs(wh, exist_ok=True)
        return PaimonLakeCatalog(wh)

    def _db_dir(self, name: str) -> str:
        import os

        return os.path.join(self.warehouse, f"{name}.db")

    def create_database(self, name: str, ignore_if_exists: bool = False) -> None:
        import os

        d = self._db_dir(name)
        if os.path.exists(d):
            if ignore_if_exists:
                return
            raise ValueError(f"database {name!r} already exists")
        os.makedirs(d)

    def list_databases(self) -> List[str]:
        import os

        return sorted(
            n[: -len(".db")]
            for n in os.listdir(self.warehouse)
            if n.endswith(".db")
            and os.path.isdir(os.path.join(self.warehouse, n))
        )

    def list_tables(self, database: str) -> List[str]:
        import os

        d = self._db_dir(database)
        return sorted(
            n
            for n in os.listdir(d)
            if os.path.isdir(os.path.join(d, n, "schema"))
        )

    def _split(self, identifier: str):
        db, _, tbl = identifier.partition(".")
        if not tbl:
            raise ValueError(f"identifier {identifier!r} must be 'db.table'")
        return db, tbl

    def create_table(
        self,
        identifier: str,
        schema,
        partition_keys: Optional[List[str]] = None,
        primary_keys: Optional[List[str]] = None,
        options: Optional[dict] = None,
        ignore_if_exists: bool = False,
    ) -> "PaimonLakeTable":
        import os

        db, tbl = self._split(identifier)
        path = os.path.join(self._db_dir(db), tbl)
        if os.path.exists(os.path.join(path, "schema")):
            if ignore_if_exists:
                return PaimonLakeTable(path)
            raise ValueError(f"table {identifier!r} already exists")
        create_lake_table(
            path,
            schema,
            partition_keys=partition_keys,
            primary_keys=primary_keys,
            options=options,
        )
        return PaimonLakeTable(path)

    def get_table(self, identifier: str) -> "PaimonLakeTable":
        import os

        db, tbl = self._split(identifier)
        path = os.path.join(self._db_dir(db), tbl)
        if not os.path.exists(os.path.join(path, "schema")):
            raise ValueError(f"table {identifier!r} does not exist")
        return PaimonLakeTable(path)

    def drop_table(self, identifier: str) -> None:
        import os
        import shutil

        db, tbl = self._split(identifier)
        path = os.path.join(self._db_dir(db), tbl)
        if not os.path.exists(path):
            raise ValueError(f"table {identifier!r} does not exist")
        shutil.rmtree(path)


def alter_lake_schema(
    table_path: str,
    add_columns: Optional[List[tuple]] = None,
    rename_columns: Optional[dict] = None,
    drop_columns: Optional[List[str]] = None,
) -> int:
    """ALTER TABLE on a REAL lake: write ``schema-(N+1)`` with proper
    FIELD-ID bookkeeping — adds take fresh ids past ``highestFieldId``,
    renames keep their id (so old data files keep reading under the
    new name via the field-id mapping), drops remove the field while
    old files simply stop projecting it. Data files are untouched;
    subsequent engine appends write under the new schema id, exactly
    how a JVM owner evolves a lake.

    ``add_columns``: [(name, paimon type string)], e.g.
    ``[("note", "STRING")]``. ``rename_columns``: {old: new}.
    ``drop_columns``: [name]; partition/primary-key columns refuse.
    Returns the new schema id."""
    import json
    import os

    sdir = os.path.join(table_path, "schema")
    cur_id = max(
        int(n.split("-")[1]) for n in os.listdir(sdir) if n.startswith("schema-")
    )
    with open(os.path.join(sdir, f"schema-{cur_id}")) as f:
        raw = json.load(f)
    protected = set(raw.get("partitionKeys") or []) | set(
        raw.get("primaryKeys") or []
    )
    fields = [dict(fd) for fd in raw["fields"]]
    names = {fd["name"] for fd in fields}
    for old, new in (rename_columns or {}).items():
        if old in protected:
            raise ValueError(f"alter_lake_schema: cannot rename key column {old!r}")
        if old not in names:
            raise ValueError(f"alter_lake_schema: no column {old!r}")
        if new in names:
            raise ValueError(f"alter_lake_schema: column {new!r} already exists")
        for fd in fields:
            if fd["name"] == old:
                fd["name"] = new
        names = {fd["name"] for fd in fields}
    for col in drop_columns or []:
        if col in protected:
            raise ValueError(f"alter_lake_schema: cannot drop key column {col!r}")
        if col not in names:
            raise ValueError(f"alter_lake_schema: no column {col!r}")
        fields = [fd for fd in fields if fd["name"] != col]
        names = {fd["name"] for fd in fields}
    next_id = int(raw.get("highestFieldId", max(fd["id"] for fd in fields))) + 1
    for name, ptype in add_columns or []:
        if name in names:
            raise ValueError(f"alter_lake_schema: column {name!r} already exists")
        fields.append({"id": next_id, "name": name, "type": ptype})
        names.add(name)
        next_id += 1
    new_schema = dict(
        raw,
        id=cur_id + 1,
        fields=fields,
        highestFieldId=max(
            [int(raw.get("highestFieldId", 0))] + [fd["id"] for fd in fields]
        ),
    )
    with open(os.path.join(sdir, f"schema-{cur_id + 1}"), "w") as f:
        json.dump(new_schema, f)
    return cur_id + 1


def rescale_lake_bucket(table_path: str, num_buckets: int) -> int:
    """OFFLINE BUCKET RESCALING of a real fixed-bucket PK lake —
    Paimon's documented procedure when a table outgrows (or
    over-provisioned) its bucket count: write ``schema-(N+1)`` with the
    new ``bucket`` option, then rewrite the merged state routed by the
    NEW bucket hash as one OVERWRITE commit (every old file DELETEs,
    time travel still reads them). Readers need no coordination: each
    manifest entry carries its own ``_TOTAL_BUCKETS``, so pre-rescale
    snapshots keep their geometry. Subsequent engine upserts route by
    the new count. The rewrite cost is the one full-data pass a rescale
    fundamentally requires — same shape as the engine-table
    ``rescale_bucket`` (maintenance.py). Returns the new snapshot id."""
    import json
    import os

    info = read_paimon_schema(table_path)
    if not info.primary_keys:
        raise ValueError(
            "rescale_lake_bucket: append tables have no bucket routing"
        )
    if int(info.options.get("bucket", "-1")) < 1:
        raise TypeError(
            "rescale_lake_bucket: dynamic-bucket tables scale themselves "
            "(the hash-index assigner opens buckets as target-row-num "
            "fills) — rescale applies to fixed-bucket tables"
        )
    if num_buckets < 1:
        raise ValueError("rescale_lake_bucket: num_buckets must be >= 1")
    # plan the merged read BEFORE the schema bump (columns are
    # unchanged, only options move, so the lazy plan stays valid)
    df = PaimonLakeTable(table_path).new_read_builder().new_read().to_df()
    sdir = os.path.join(table_path, "schema")
    cur_id = max(
        int(n.split("-")[1]) for n in os.listdir(sdir) if n.startswith("schema-")
    )
    with open(os.path.join(sdir, f"schema-{cur_id}")) as f:
        raw = json.load(f)
    new_schema = dict(
        raw,
        id=cur_id + 1,
        options=dict(raw.get("options") or {}, bucket=str(num_buckets)),
    )
    with open(os.path.join(sdir, f"schema-{cur_id + 1}"), "w") as f:
        json.dump(new_schema, f)
    # overwrite_lake re-reads the schema, picks up the new bucket
    # count, and commits DELETE-everything + ADD-rerouted in one snap
    return overwrite_lake(table_path, df)


#: tag.creation-period → (strftime pattern, matching regex) — Paimon's
#: default date-format names (daily 'yyyy-MM-dd', hourly 'yyyy-MM-dd HH')
_AUTO_TAG_PERIODS = {
    "daily": ("%Y-%m-%d", r"^\d{4}-\d{2}-\d{2}$"),
    "hourly": ("%Y-%m-%d %H", r"^\d{4}-\d{2}-\d{2} \d{2}$"),
}


def _auto_create_lake_tag(table_path: str, info, snap: dict) -> None:
    """Tag-on-commit for ``tag.automatic-creation``: if no tag exists
    for the commit's period, pin THIS snapshot under the period's name;
    then apply ``tag.num-retained-max`` to the AUTO-CREATED tags only
    (name-format match, Paimon's rule), oldest first.
    ``process-time`` derives the period from the snapshot's own
    ``timeMillis``; ``watermark`` from the snapshot's ``watermark``
    field (Long.MIN_VALUE sentinel = none yet → no tag, real Paimon's
    TagAutoManager behavior). Unknown modes ('none', foreign values)
    skip silently — the snapshot is already durably committed here, and
    raising would make a retrying caller duplicate data (ADVICE r11);
    validation happens at create time
    (``tags.validate_auto_tag_options``). Concurrent committers race
    idempotently on the hardlink CAS — the period's first publisher
    wins."""
    import json
    import os
    import re
    from datetime import datetime, timezone

    from paimon_python_spark.tags import (
        AUTO_TAG_MODES,
        NO_WATERMARK,
        _publish_tag_exclusive,
    )

    mode = info.options.get("tag.automatic-creation") or "none"
    period = info.options.get("tag.creation-period", "daily")
    if (
        mode == "none"
        or mode not in AUTO_TAG_MODES
        or period not in _AUTO_TAG_PERIODS
    ):
        return
    if mode == "watermark":
        wm = snap.get("watermark")
        if wm is None or int(wm) == NO_WATERMARK:
            return  # no watermark progressed yet → no tag
        t_millis = int(wm)
    else:
        t_millis = int(snap["timeMillis"])
    fmt, pat = _AUTO_TAG_PERIODS[period]
    name = datetime.fromtimestamp(
        t_millis / 1000.0, tz=timezone.utc
    ).strftime(fmt)
    tdir = os.path.join(table_path, "tag")
    os.makedirs(tdir, exist_ok=True)
    if not _publish_tag_exclusive(
        os.path.join(tdir, f"tag-{name}"), json.dumps(snap)
    ):
        return  # this period already has its tag
    retain = info.options.get("tag.num-retained-max")
    if retain is not None:
        auto = sorted(
            n[len("tag-") :]
            for n in os.listdir(tdir)
            if n.startswith("tag-") and re.match(pat, n[len("tag-") :])
        )
        for stale in auto[: max(0, len(auto) - int(retain))]:
            try:
                os.remove(os.path.join(tdir, f"tag-{stale}"))
            except FileNotFoundError:
                pass  # concurrent retention pass got it first


def create_lake_tag(
    table_path: str, name: str, snapshot_id: Optional[int] = None
) -> int:
    """Pin a snapshot of a REAL lake as a TAG — per the spec a tag file
    is a full snapshot copy under ``tag/tag-<name>`` that stays
    readable after the snapshot itself expires from ``snapshot/``
    (mirrors the engine table's ``create_tag``, ``tags.py:33``).
    Returns the pinned snapshot id."""
    import json
    import os
    import shutil

    from paimon_python_spark.paimon_import import latest_paimon_snapshot_id

    sid = snapshot_id if snapshot_id is not None else latest_paimon_snapshot_id(
        table_path
    )
    spath = os.path.join(table_path, "snapshot", f"snapshot-{sid}")
    if not os.path.exists(spath):
        raise ValueError(f"create_lake_tag: snapshot {sid} does not exist")
    tdir = os.path.join(table_path, "tag")
    os.makedirs(tdir, exist_ok=True)
    tpath = os.path.join(tdir, f"tag-{name}")
    if os.path.exists(tpath):
        raise ValueError(f"create_lake_tag: tag {name!r} already exists")
    shutil.copyfile(spath, tpath)
    return sid


_CONSUMER_ID_RE = r"^[A-Za-z0-9][A-Za-z0-9._-]*$"


def write_lake_consumer(
    table_path: str, consumer_id: str, next_snapshot: int
) -> None:
    """Record a consumer's progress IN the lake — the spec shape real
    Paimon writes (``<table>/consumer/consumer-<id>`` holding
    ``{"nextSnapshot": N}``, org.apache.paimon.consumer.Consumer), so a
    JVM streaming job resumes where this engine left off and vice
    versa, and snapshot expiration can protect unconsumed snapshots.
    Atomic replace; monotonicity is the caller's contract (Paimon's
    resetConsumer action moves a consumer backwards on purpose)."""
    import json
    import os
    import re as _re

    if not _re.match(_CONSUMER_ID_RE, consumer_id):
        raise ValueError(f"invalid consumer id {consumer_id!r}")
    if next_snapshot < 1:
        raise ValueError("next_snapshot must be >= 1")
    cdir = os.path.join(table_path, "consumer")
    os.makedirs(cdir, exist_ok=True)
    path = os.path.join(cdir, f"consumer-{consumer_id}")
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump({"nextSnapshot": int(next_snapshot)}, f)
    os.replace(tmp, path)


def read_lake_consumer(table_path: str, consumer_id: str) -> Optional[int]:
    """The consumer's next-snapshot-to-read, or None if unregistered.
    Tolerates real-Paimon files with extra fields (only
    ``nextSnapshot`` is read)."""
    import json
    import os

    path = os.path.join(table_path, "consumer", f"consumer-{consumer_id}")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return int(json.load(f)["nextSnapshot"])


def list_lake_consumers(table_path: str) -> dict:
    """All registered consumers: {consumer_id: next_snapshot}."""
    import json
    import os

    cdir = os.path.join(table_path, "consumer")
    out = {}
    if os.path.isdir(cdir):
        for n in sorted(os.listdir(cdir)):
            if n.startswith("consumer-") and not n.endswith(".tmp"):
                with open(os.path.join(cdir, n)) as f:
                    out[n[len("consumer-"):]] = int(json.load(f)["nextSnapshot"])
    return out


def clear_lake_consumer(
    table_path: str, consumer_id: Optional[str] = None
) -> int:
    """Drop one consumer (Paimon's resetConsumer without a new id) or,
    with ``consumer_id=None``, every consumer (the clear_consumers
    procedure). Returns how many were removed. Clearing releases the
    expiry protection those consumers held."""
    import os

    cdir = os.path.join(table_path, "consumer")
    if not os.path.isdir(cdir):
        return 0
    names = (
        [f"consumer-{consumer_id}"]
        if consumer_id is not None
        else [n for n in os.listdir(cdir) if n.startswith("consumer-")]
    )
    removed = 0
    for n in names:
        p = os.path.join(cdir, n)
        if os.path.exists(p) and not n.endswith(".tmp"):
            os.remove(p)
            removed += 1
    return removed


def _lake_snapshot_footprint(table_path: str, snap: dict):
    """(manifest-lists, manifests, live rel data paths, index files) a
    snapshot reaches — KB-scale metadata walk, the unit of accounting
    for rollback/expiry."""
    import os

    from paimon_python_spark.paimon_import import (
        plan_paimon_dv,
        plan_paimon_files,
        read_manifest_list,
        read_paimon_schema,
    )

    info = read_paimon_schema(table_path)
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    lists, manifests = set(), set()
    for lst in (snap.get("baseManifestList"), snap.get("deltaManifestList"),
                snap.get("changelogManifestList")):
        if lst:
            lists.add(lst)
            manifests.update(read_manifest_list(table_path, lst))
    live = set()
    for e in plan_paimon_files(table_path, snapshot=snap):
        rel = e.rel_path(info.partition_keys, part_types)
        live.add(rel)
        # standalone file-index extras live and die with their data file
        for x in e.extra_files or []:
            live.add(os.path.join(os.path.dirname(rel), x))
    # changelog files live and die with the snapshot whose commit wrote
    # them (unless changelog-lifecycle decoupling pins them — the
    # expiry path handles that separately)
    live |= _changelog_files_of(table_path, snap, info, part_types)
    idx = set()
    im = snap.get("indexManifest")
    if im:
        lists.add(im)
        from paimon_python_spark.paimon_import import live_index_entries

        # EVERY index type is live state: deletion vectors AND the
        # dynamic-bucket HASH key indexes
        for r in live_index_entries(table_path, snapshot=snap):
            idx.add(os.path.join("index", r["_FILE_NAME"]))
    return lists, manifests, live, idx


def _changelog_files_of(table_path: str, snap: dict, info, part_types):
    """Relative paths of the changelog data files one snapshot's
    changelogManifestList reaches (empty set when it has none)."""
    from paimon_python_spark.paimon_import import (
        read_manifest,
        read_manifest_list,
    )

    lst = snap.get("changelogManifestList")
    files: set = set()
    if lst:
        for mname in read_manifest_list(table_path, lst):
            for e in read_manifest(
                table_path, mname, part_types, info.partition_keys
            ):
                if e.kind == 0:
                    files.add(e.rel_path(info.partition_keys, part_types))
    return files


def _changelog_footprint(table_path: str, snap: dict):
    """(manifest-lists, manifests, changelog rel paths) of one
    snapshot's changelog — the unit pinned by lifecycle decoupling."""
    from paimon_python_spark.paimon_import import (
        read_manifest_list,
        read_paimon_schema as _rps,
    )

    info = _rps(table_path)
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    lst = snap.get("changelogManifestList")
    lists = {lst} if lst else set()
    manifests = set()
    if lst:
        manifests.update(read_manifest_list(table_path, lst))
    return lists, manifests, _changelog_files_of(
        table_path, snap, info, part_types
    )


def _lake_tag_snapshots(table_path: str):
    import json
    import os

    tdir = os.path.join(table_path, "tag")
    out = []
    if os.path.isdir(tdir):
        for n in sorted(os.listdir(tdir)):
            if n.startswith("tag-"):
                with open(os.path.join(tdir, n)) as f:
                    out.append(json.load(f))
    return out


def _delete_lake_metadata(
    table_path: str, snaps: list, kept: list, pin_changelogs: list = ()
) -> dict:
    """Remove the snapshot files in ``snaps`` plus every manifest /
    manifest list / data file / DV index file REACHABLE ONLY from them
    (``kept`` snapshots — including tags — pin everything they
    reach). ``pin_changelogs``: snapshots whose CHANGELOG manifests /
    lists / files must survive the deletion (changelog lifecycle
    decoupling — they were just rewritten as ``changelog/changelog-N``
    entries). Shared by rollback and expiry; returns deletion counts."""
    import os

    p_lists, p_mans, p_files = set(), set(), set()
    for s in pin_changelogs:
        ls, ms, fs = _changelog_footprint(table_path, s)
        p_lists |= ls
        p_mans |= ms
        p_files |= fs
    k_lists, k_mans, k_live, k_idx = set(), set(), set(), set()
    for s in kept:
        ls, ms, lv, ix = _lake_snapshot_footprint(table_path, s)
        k_lists |= ls
        k_mans |= ms
        k_live |= lv
        k_idx |= ix
    d_lists, d_mans, d_live, d_idx = set(), set(), set(), set()
    for s in snaps:
        ls, ms, lv, ix = _lake_snapshot_footprint(table_path, s)
        d_lists |= ls
        d_mans |= ms
        d_live |= lv
        d_idx |= ix

    def rm(path):
        if os.path.exists(path):
            os.remove(path)
            return 1
        return 0

    n_files = sum(
        rm(os.path.join(table_path, rel)) for rel in d_live - k_live - p_files
    )
    n_files += sum(
        rm(os.path.join(table_path, rel)) for rel in d_idx - k_idx
    )
    n_mans = sum(
        rm(os.path.join(table_path, "manifest", m))
        for m in ((d_mans - k_mans) | (d_lists - k_lists))
        - p_mans
        - p_lists
    )
    n_snaps = sum(
        rm(os.path.join(table_path, "snapshot", f"snapshot-{s['id']}"))
        for s in snaps
    )
    # maintain the EARLIEST hint real Paimon readers scan from
    sdir = os.path.join(table_path, "snapshot")
    remaining = [
        int(n.split("-")[1])
        for n in os.listdir(sdir)
        if n.startswith("snapshot-")
    ]
    if remaining:
        write_hint_atomic(os.path.join(sdir, "EARLIEST"), min(remaining))
    return {
        "snapshots_deleted": n_snaps,
        "manifests_deleted": n_mans,
        "data_files_deleted": n_files,
    }


def rollback_lake(table_path: str, snapshot_id: int) -> dict:
    """Roll a REAL lake back to ``snapshot_id``: snapshots AFTER it are
    deleted along with every data file / manifest / DV index reachable
    only from them (tagged snapshots pin their files), and the LATEST
    hint rewinds — Paimon's ``rollback-to`` semantics. Driver-side
    KB-scale metadata work. Returns deletion counts."""
    import json
    import os

    from paimon_python_spark.paimon_import import (
        latest_paimon_snapshot_id,
        read_paimon_snapshot,
    )

    latest = latest_paimon_snapshot_id(table_path)
    if not os.path.exists(
        os.path.join(table_path, "snapshot", f"snapshot-{snapshot_id}")
    ):
        raise ValueError(f"rollback_lake: snapshot {snapshot_id} does not exist")
    doomed = [
        read_paimon_snapshot(table_path, sid)
        for sid in range(snapshot_id + 1, latest + 1)
        if os.path.exists(os.path.join(table_path, "snapshot", f"snapshot-{sid}"))
    ]
    kept = [
        read_paimon_snapshot(table_path, sid)
        for sid in range(1, snapshot_id + 1)
        if os.path.exists(os.path.join(table_path, "snapshot", f"snapshot-{sid}"))
    ] + _lake_tag_snapshots(table_path) + _lake_branch_snapshots(table_path)
    out = _delete_lake_metadata(table_path, doomed, kept)
    write_hint_atomic(
        os.path.join(table_path, "snapshot", "LATEST"), snapshot_id
    )
    return out


def remove_lake_orphan_files(
    table_path: str, older_than_seconds: float = 3600.0
) -> dict:
    """Delete files in a REAL lake that NO snapshot or tag references —
    debris from failed/abandoned writer jobs whose commit never landed
    (Paimon's ``remove_orphan_files`` procedure; the engine-table twin
    is ``maintenance.remove_orphan_files``).

    A grace period protects files an in-flight writer just produced.

    The KNOWN set is every file any snapshot/tag's manifest chain
    MENTIONS (ADD or DELETE entries, base + delta + changelog lists —
    a file DELETE'd later is still pinned by the snapshot that added
    it), every index file any index manifest references, and the
    manifest/list files themselves. Unknown files under the data
    directories, ``manifest/`` and ``index/`` whose mtime is older
    than ``older_than_seconds`` (grace for in-flight writers) are
    removed. Driver-side metadata walk — at object-store scale this is
    a LIST plus the same mtime filter. Returns deletion counts."""
    import json
    import os
    import time as _time

    from paimon_python_spark.paimon_import import (
        read_manifest,
        read_manifest_list,
    )

    info = read_paimon_schema(table_path)
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    sdir = os.path.join(table_path, "snapshot")
    snaps = []
    if os.path.isdir(sdir):
        for n in sorted(os.listdir(sdir)):
            if n.startswith("snapshot-"):
                with open(os.path.join(sdir, n)) as f:
                    snaps.append(json.load(f))
    snaps += _lake_tag_snapshots(table_path) + _lake_branch_snapshots(table_path)
    # decoupled changelog entries pin their changelog manifests/files
    # exactly like snapshots (changelog lifecycle decoupling)
    for _clsid in _list_changelog_ids(table_path):
        with open(
            os.path.join(table_path, "changelog", f"changelog-{_clsid}")
        ) as _fcl:
            snaps.append(json.load(_fcl))
    known_manifests: set = set()
    known_rel: set = set()
    for s in snaps:
        for lst in (
            s.get("baseManifestList"),
            s.get("deltaManifestList"),
            s.get("changelogManifestList"),
        ):
            if not lst:
                continue
            if not os.path.exists(os.path.join(table_path, "manifest", lst)):
                # a decoupled changelog entry still references its dead
                # snapshot's base/delta lists — expiry removed them and
                # only the changelog list survives
                continue
            known_manifests.add(lst)
            for m in read_manifest_list(table_path, lst):
                known_manifests.add(m)
                for e in read_manifest(
                    table_path, m, part_types, info.partition_keys
                ):
                    rel = e.rel_path(info.partition_keys, part_types)
                    known_rel.add(rel)
                    # standalone file-index extras live beside the data
                    # file and are pinned for exactly as long as any
                    # manifest mentions their data file
                    for x in e.extra_files or []:
                        known_rel.add(os.path.join(os.path.dirname(rel), x))
        im = s.get("indexManifest")
        if im:
            known_manifests.add(im)
            from paimon_python_spark.paimon_import import live_index_entries

            # deletion vectors AND dynamic-bucket HASH key indexes
            for r in live_index_entries(table_path, snapshot=s):
                known_rel.add(os.path.join("index", r["_FILE_NAME"]))

    # statistic files: pinned by the snapshot (or tag/branch/changelog
    # copy) whose `statistics` field names them; an expired ANALYZE
    # snapshot's file becomes reapable here (expiry itself leaves them)
    known_stats = {s.get("statistics") for s in snaps if s.get("statistics")}

    now = _time.time()
    deleted = {"data_files": 0, "manifests": 0, "index_files": 0,
               "stats_files": 0}
    reclaimed = 0

    def rm_if_orphan(full: str, kind: str, known: bool) -> int:
        nonlocal reclaimed
        if known:
            return 0
        st = os.stat(full)
        if now - st.st_mtime < older_than_seconds:
            return 0
        os.remove(full)
        reclaimed += st.st_size
        deleted[kind] += 1
        return 1

    mdir = os.path.join(table_path, "manifest")
    if os.path.isdir(mdir):
        for n in sorted(os.listdir(mdir)):
            if not n.startswith(("_", ".")):
                rm_if_orphan(os.path.join(mdir, n), "manifests", n in known_manifests)
    idir = os.path.join(table_path, "index")
    if os.path.isdir(idir):
        for n in sorted(os.listdir(idir)):
            if not n.startswith(("_", ".")):
                rel = os.path.join("index", n)
                rm_if_orphan(os.path.join(idir, n), "index_files", rel in known_rel)
    stdir = os.path.join(table_path, "statistics")
    if os.path.isdir(stdir):
        for n in sorted(os.listdir(stdir)):
            if not n.startswith(("_", ".")):
                rm_if_orphan(os.path.join(stdir, n), "stats_files", n in known_stats)
    # "streaming" holds StreamingLakeSink idempotence markers
    # (offsets-<id>.json, sink.py) — never data files, so the walker must
    # not reap them: deleting one resets last_committed_batch() to -1 and a
    # checkpoint-replayed micro-batch would double-commit.
    # "statistics" got its own referenced-set pass above.
    skip_top = {
        "snapshot", "schema", "tag", "manifest", "index", "branch",
        "consumer", "streaming", "changelog", "compaction", "statistics",
    }
    for dirpath, dirnames, filenames in os.walk(table_path):
        if dirpath == table_path:
            dirnames[:] = [d for d in dirnames if d not in skip_top]
            continue  # no data files live at the table root
        for n in filenames:
            if n.startswith(("_", ".")):
                continue
            full = os.path.join(dirpath, n)
            rel = os.path.relpath(full, table_path)
            rm_if_orphan(full, "data_files", rel in known_rel)
    deleted["bytes_reclaimed"] = reclaimed
    return deleted


_LAKE_RESERVED_DIRS = {
    "snapshot",
    "schema",
    "manifest",
    "index",
    "tag",
    "branch",
    "consumer",
    "streaming",
    "changelog",  # decoupled changelog entries + hints
    "compaction",  # engine-private full-compaction cadence marker
}


def _lake_branch_path(table_path: str, name: str) -> str:
    import os

    return os.path.join(table_path, "branch", f"branch-{name}")


def _lake_branch_snapshots(table_path: str) -> list:
    """Every snapshot (and branch tag) any branch's chain holds —
    pinned by expiry/rollback/orphan-cleanup exactly like main tags:
    branch metadata references the SHARED manifest/data pool."""
    import json
    import os

    out = []
    broot = os.path.join(table_path, "branch")
    if not os.path.isdir(broot):
        return out
    for b in sorted(os.listdir(broot)):
        sdir = os.path.join(broot, b, "snapshot")
        if os.path.isdir(sdir):
            for n in sorted(os.listdir(sdir)):
                if n.startswith("snapshot-"):
                    with open(os.path.join(sdir, n)) as f:
                        out.append(json.load(f))
        out += _lake_tag_snapshots(os.path.join(broot, b))
    return out


def create_lake_branch(
    table_path: str,
    name: str,
    snapshot_id: Optional[int] = None,
    tag: Optional[str] = None,
) -> str:
    """Create branch ``name`` of a REAL lake from a snapshot (default
    latest) or a tag — Paimon's ``CREATE BRANCH`` under the spec's
    ``branch/branch-<name>/`` layout: the branch owns its snapshot
    chain (and tags, and schema evolution), while manifests, DV
    indexes, and the existing data directories are the SHARED
    immutable pool (relative symlinks; on an object store these become
    prefix indirection — same layout contract as the engine-table
    branches, branches.py:57). O(1) metadata: one snapshot copy, zero
    data movement. The returned branch path is a full lake table —
    ``PaimonLakeTable(path)``, ``write_lake_append``,
    ``delete_lake_rows``, ``create_lake_tag`` all operate on it
    unmodified, isolated from main."""
    import json
    import os
    import shutil

    from paimon_python_spark.paimon_import import (
        latest_paimon_snapshot_id,
        read_paimon_snapshot,
        read_paimon_tag,
    )

    bp = _lake_branch_path(table_path, name)
    if os.path.isdir(bp):
        raise ValueError(f"Branch {name!r} already exists.")
    if tag is not None:
        snap = read_paimon_tag(table_path, tag)
    else:
        sid = snapshot_id or latest_paimon_snapshot_id(table_path)
        if not sid:
            raise ValueError("cannot branch an empty lake (no snapshots)")
        snap = read_paimon_snapshot(table_path, sid)
    os.makedirs(os.path.join(bp, "snapshot"))
    # schemas COPY (branch-side ALTERs stay branch-local until
    # fast-forward); manifest/index pools and data dirs are shared
    shutil.copytree(
        os.path.join(table_path, "schema"), os.path.join(bp, "schema")
    )
    for d in ("manifest", "index"):
        os.makedirs(os.path.join(table_path, d), exist_ok=True)
        os.symlink(os.path.join("..", "..", d), os.path.join(bp, d))
    for d in sorted(os.listdir(table_path)):
        if d in _LAKE_RESERVED_DIRS or d.startswith((".", "_")):
            continue
        if os.path.isdir(os.path.join(table_path, d)):
            os.symlink(os.path.join("..", "..", d), os.path.join(bp, d))
    with open(os.path.join(bp, "snapshot", f"snapshot-{snap['id']}"), "w") as f:
        json.dump(snap, f)
    for hint in ("LATEST", "EARLIEST"):
        with open(os.path.join(bp, "snapshot", hint), "w") as f:
            f.write(str(snap["id"]))
    return bp


def list_lake_branches(table_path: str) -> List[str]:
    import os

    broot = os.path.join(table_path, "branch")
    if not os.path.isdir(broot):
        return []
    return sorted(
        n[len("branch-"):]
        for n in os.listdir(broot)
        if n.startswith("branch-") and os.path.isdir(os.path.join(broot, n))
    )


def delete_lake_branch(table_path: str, name: str) -> None:
    import os
    import shutil

    bp = _lake_branch_path(table_path, name)
    if not os.path.isdir(bp):
        raise ValueError(f"Branch {name!r} does not exist.")
    # shared dirs are symlinks: rmtree unlinks them, never the targets
    shutil.rmtree(bp)


def fast_forward_lake_branch(table_path: str, name: str) -> int:
    """Publish branch ``name``'s head to main as main's next snapshot
    (Paimon's ``fast_forward`` procedure). The branch chain is already
    expressed against the shared manifest/data pool, so the publish is
    a metadata commit of the head's manifest lists; the only physical
    work is adopting branch-LOCAL artifacts main cannot reach —
    partition directories first created on the branch (moved into
    main; file names are uuid-unique) and schema versions added by
    branch-side ALTERs. Main keeps its own history (time travel to
    pre-publish main snapshots still works). Returns the new id."""
    import json
    import os
    import shutil
    import time as _time

    from paimon_python_spark.paimon_import import (
        latest_paimon_snapshot_id,
        read_paimon_snapshot,
    )

    bp = _lake_branch_path(table_path, name)
    if not os.path.isdir(bp):
        raise ValueError(f"Branch {name!r} does not exist.")
    head = read_paimon_snapshot(bp, latest_paimon_snapshot_id(bp))
    # adopt branch-local data dirs / schema versions into main
    for d in sorted(os.listdir(bp)):
        full = os.path.join(bp, d)
        if d in ("snapshot", "tag", "manifest", "index") or os.path.islink(full):
            continue
        if d == "schema":
            for n in sorted(os.listdir(full)):
                dst = os.path.join(table_path, "schema", n)
                if n.startswith("schema-") and not os.path.exists(dst):
                    shutil.copy2(os.path.join(full, n), dst)
            continue
        if not os.path.isdir(full):
            continue
        for dirpath, _dn, filenames in os.walk(full):
            rel = os.path.relpath(dirpath, bp)
            dst_dir = os.path.join(table_path, rel)
            os.makedirs(dst_dir, exist_ok=True)
            for fn in filenames:
                dst = os.path.join(dst_dir, fn)
                if not os.path.exists(dst):
                    shutil.move(os.path.join(dirpath, fn), dst)
        shutil.rmtree(full)
        os.symlink(os.path.join("..", "..", d), full)  # rejoin the pool
    latest = latest_paimon_snapshot_id(table_path)
    prev_total = (
        int(read_paimon_snapshot(table_path, latest).get("totalRecordCount") or 0)
        if latest
        else 0
    )
    new_id = (latest or 0) + 1
    snap = dict(head)
    snap["id"] = new_id
    snap["commitKind"] = "APPEND"
    snap["commitUser"] = f"fast_forward:{name}"
    snap["timeMillis"] = int(_time.time() * 1000)
    snap["deltaRecordCount"] = (
        int(head.get("totalRecordCount") or 0) - prev_total
    )
    from paimon_python_spark.metadata import _exclusive_write

    spath = os.path.join(table_path, "snapshot", f"snapshot-{new_id}")
    _exclusive_write(spath, json.dumps(snap))
    write_hint_atomic(os.path.join(table_path, "snapshot", "LATEST"), new_id)
    return new_id


def expire_lake_snapshots(
    table_path: str, keep_last_n: Optional[int] = None, now_ms=None
) -> dict:
    """Expire old snapshots of a REAL lake: snapshot files go away
    along with manifests / data files / DV indexes no kept-or-tagged
    snapshot reaches. With ``keep_last_n`` set, all but the newest N
    go; without it the table's own retention options drive the policy
    like real Paimon's ExpireSnapshotsImpl (``snapshot.num-retained.min``
    default 10 always stay, beyond ``snapshot.num-retained.max`` goes,
    in between a snapshot expires once older than
    ``snapshot.time-retained``, default 1 h). Time travel to an
    expired id then fails exactly like real Paimon; tags pin their
    snapshot's files forever, and registered CONSUMERS hold expiry
    back (as Paimon's expiration does): no snapshot at or past the
    slowest consumer's ``nextSnapshot`` expires, so a lagging
    streaming reader never loses its next batch — unless the consumer
    itself expired under ``consumer.expiration-time`` (file unmodified
    longer than the TTL), in which case it is DELETED first, exactly
    like Paimon's ConsumerManager.expire. Returns deletion counts."""
    import os
    import time as _time

    from paimon_python_spark.maintenance import (
        parse_paimon_duration,
        retention_cutoff,
    )
    from paimon_python_spark.paimon_import import (
        latest_paimon_snapshot_id,
        read_paimon_snapshot,
    )

    info = read_paimon_schema(table_path)
    latest = latest_paimon_snapshot_id(table_path)
    wall_ms = now_ms if now_ms is not None else _time.time() * 1000
    sdir_ = os.path.join(table_path, "snapshot")
    if keep_last_n is not None:
        if keep_last_n < 1:
            raise ValueError("keep_last_n must be >= 1")
        cutoff = latest - keep_last_n + 1
    else:
        times = {
            sid: int(read_paimon_snapshot(table_path, sid).get("timeMillis") or 0)
            for sid in range(1, latest + 1)
            if os.path.exists(os.path.join(sdir_, f"snapshot-{sid}"))
        }
        nmax = info.options.get("snapshot.num-retained.max")
        cutoff = retention_cutoff(
            latest,
            times,
            int(info.options.get("snapshot.num-retained.min", "10")),
            int(nmax) if nmax is not None else None,
            parse_paimon_duration(
                info.options.get("snapshot.time-retained", "1 h")
            ),
            wall_ms,
        )
    consumer_ttl = info.options.get("consumer.expiration-time")
    if consumer_ttl is not None:
        ttl_ms = parse_paimon_duration(consumer_ttl)
        cdir = os.path.join(table_path, "consumer")
        for cid in list(list_lake_consumers(table_path)):
            cpath = os.path.join(cdir, f"consumer-{cid}")
            if os.path.getmtime(cpath) * 1000 < wall_ms - ttl_ms:
                os.remove(cpath)
    consumers = list_lake_consumers(table_path)
    if consumers:
        cutoff = min(cutoff, min(consumers.values()))
    sdir = os.path.join(table_path, "snapshot")
    doomed = [
        read_paimon_snapshot(table_path, sid)
        for sid in range(1, cutoff)
        if os.path.exists(os.path.join(sdir, f"snapshot-{sid}"))
    ]
    if not doomed:
        return {
            "snapshots_deleted": 0,
            "manifests_deleted": 0,
            "data_files_deleted": 0,
        }
    kept = [
        read_paimon_snapshot(table_path, sid)
        for sid in range(cutoff, latest + 1)
        if os.path.exists(os.path.join(sdir, f"snapshot-{sid}"))
    ] + _lake_tag_snapshots(table_path) + _lake_branch_snapshots(table_path)
    # CHANGELOG LIFECYCLE DECOUPLING (Paimon's changelog.num-retained.*/
    # changelog.time-retained): when any changelog retention option is
    # set, an expiring snapshot that carries a changelog is rewritten
    # as <table>/changelog/changelog-<id> (the Changelog JSON IS the
    # snapshot JSON, as in real Paimon) and its changelog manifests /
    # files survive the snapshot's deletion — streaming consumers keep
    # a longer replayable history than the table keeps snapshots.
    decoupled = any(
        k in info.options
        for k in (
            "changelog.num-retained.min",
            "changelog.num-retained.max",
            "changelog.time-retained",
        )
    )
    pinned = []
    if decoupled:
        import json as _json

        cdir_cl = os.path.join(table_path, "changelog")
        for s in doomed:
            if not s.get("changelogManifestList"):
                continue
            os.makedirs(cdir_cl, exist_ok=True)
            path = os.path.join(cdir_cl, f"changelog-{s['id']}")
            tmp = f"{path}.tmp"
            with open(tmp, "w") as f:
                _json.dump(s, f)
            os.replace(tmp, path)
            pinned.append(s)
        if pinned:
            _write_changelog_hints(table_path)
    out = _delete_lake_metadata(table_path, doomed, kept, pin_changelogs=pinned)
    if decoupled:
        out.update(expire_lake_changelogs(table_path, now_ms=wall_ms))
    return out


def _write_changelog_hints(table_path: str) -> None:
    """Maintain changelog/EARLIEST + LATEST hint files (real Paimon
    keeps the same hints beside its Changelog entries)."""
    import os

    cdir = os.path.join(table_path, "changelog")
    ids = _list_changelog_ids(table_path)
    if not ids:
        return
    write_hint_atomic(os.path.join(cdir, "EARLIEST"), min(ids))
    write_hint_atomic(os.path.join(cdir, "LATEST"), max(ids))


def _list_changelog_ids(table_path: str) -> list:
    import os

    cdir = os.path.join(table_path, "changelog")
    out = []
    if os.path.isdir(cdir):
        for n in os.listdir(cdir):
            if n.startswith("changelog-") and not n.endswith(".tmp"):
                try:
                    out.append(int(n[len("changelog-"):]))
                except ValueError:
                    pass
    return sorted(out)


def _read_snapshot_or_changelog(table_path: str, snapshot_id: int):
    """Snapshot JSON for ``snapshot_id`` → ``(snap, from_changelog)``.
    Falls back to the decoupled ``changelog/changelog-<id>`` entry when
    the snapshot itself has expired (changelog lifecycle decoupling)."""
    import json
    import os

    from paimon_python_spark.paimon_import import read_paimon_snapshot

    if os.path.exists(
        os.path.join(table_path, "snapshot", f"snapshot-{snapshot_id}")
    ):
        return read_paimon_snapshot(table_path, snapshot_id), False
    clp = os.path.join(table_path, "changelog", f"changelog-{snapshot_id}")
    if os.path.exists(clp):
        with open(clp) as f:
            return json.load(f), True
    raise FileNotFoundError(
        f"snapshot {snapshot_id} of {table_path} has expired and no "
        f"decoupled changelog entry survives (set changelog.num-retained.* "
        f"to retain changelog history past snapshot expiry)"
    )


def expire_lake_changelogs(
    table_path: str, keep_last_n: Optional[int] = None, now_ms=None
) -> dict:
    """Expire decoupled ``changelog/changelog-<id>`` entries — the
    second half of Paimon's changelog lifecycle: changelogs outlive
    snapshots but not forever. Policy mirrors snapshot expiry:
    ``keep_last_n``, or the table's ``changelog.num-retained.min``
    (default 10) / ``changelog.num-retained.max`` /
    ``changelog.time-retained`` (default: no time bound). Deletes each
    expired entry's changelog manifests, lists, and files. Returns
    ``{"changelogs_deleted", "changelog_manifests_deleted",
    "changelog_files_deleted"}``."""
    import json
    import os
    import time as _time

    from paimon_python_spark.maintenance import (
        parse_paimon_duration,
        retention_cutoff,
    )

    ids = _list_changelog_ids(table_path)
    zero = {
        "changelogs_deleted": 0,
        "changelog_manifests_deleted": 0,
        "changelog_files_deleted": 0,
    }
    if not ids:
        return zero
    info = read_paimon_schema(table_path)
    latest = max(ids)
    cdir = os.path.join(table_path, "changelog")

    def _load(sid):
        with open(os.path.join(cdir, f"changelog-{sid}")) as f:
            return json.load(f)

    if keep_last_n is not None:
        if keep_last_n < 1:
            raise ValueError("keep_last_n must be >= 1")
        cutoff = latest - keep_last_n + 1
    else:
        tret = info.options.get("changelog.time-retained")
        nmax = info.options.get("changelog.num-retained.max")
        times = {sid: int(_load(sid).get("timeMillis") or 0) for sid in ids}
        cutoff = retention_cutoff(
            latest,
            times,
            int(info.options.get("changelog.num-retained.min", "10")),
            int(nmax) if nmax is not None else None,
            parse_paimon_duration(tret) if tret is not None else float("inf"),
            now_ms if now_ms is not None else _time.time() * 1000,
        )
    doomed = [sid for sid in ids if sid < cutoff]
    if not doomed:
        return zero
    kept_snaps = [_load(sid) for sid in ids if sid >= cutoff]
    k_lists, k_mans, k_files = set(), set(), set()
    for s in kept_snaps:
        ls, ms, fs = _changelog_footprint(table_path, s)
        k_lists |= ls
        k_mans |= ms
        k_files |= fs
    n_m = n_f = 0
    for sid in doomed:
        s = _load(sid)
        ls, ms, fs = _changelog_footprint(table_path, s)
        for rel in fs - k_files:
            p = os.path.join(table_path, rel)
            if os.path.exists(p):
                os.remove(p)
                n_f += 1
        for m in (ms - k_mans) | (ls - k_lists):
            p = os.path.join(table_path, "manifest", m)
            if os.path.exists(p):
                os.remove(p)
                n_m += 1
        os.remove(os.path.join(cdir, f"changelog-{sid}"))
    _write_changelog_hints(table_path)
    return {
        "changelogs_deleted": len(doomed),
        "changelog_manifests_deleted": n_m,
        "changelog_files_deleted": n_f,
    }


def drop_lake_partitions(table_path: str, predicate: Predicate) -> dict:
    """ALTER TABLE ... DROP PARTITION on a REAL lake (also the commit
    shape of Paimon's partition expiration): every live file whose
    partition matches ``predicate`` (partition columns only) DELETEs in
    ONE spec OVERWRITE snapshot — a pure metadata commit, no data
    rewrite, no shuffle; the bytes stay on disk for time travel until
    snapshot expiry reclaims them, exactly like real Paimon. DV marks
    on dropped files drop with them; marks on kept files re-commit in
    a fresh index manifest. Returns ``{"snapshot_id", "partitions_
    dropped", "files_dropped", "rows_dropped"}`` (snapshot_id None when
    nothing matched — real Paimon's drop of a missing partition is a
    no-op, not an error)."""
    from paimon_python_spark.paimon_import import (
        plan_paimon_files,
        read_paimon_snapshot,
    )

    info = read_paimon_schema(table_path)
    part_keys = list(info.partition_keys)
    if not part_keys:
        raise ValueError("drop_lake_partitions: table has no partition keys")
    ppred = predicate.keep_only_fields(set(part_keys))
    if ppred is None:
        raise ValueError(
            "drop_lake_partitions: predicate references no partition column"
        )
    ppred = _coerce_partition_literals(ppred, info)
    before = plan_paimon_files(table_path)
    doomed = [
        e
        for e in before
        if ppred.test_by_value(_logical_partition_values(info, e.partition))
    ]
    if not doomed:
        return {
            "snapshot_id": None,
            "partitions_dropped": 0,
            "files_dropped": 0,
            "rows_dropped": 0,
        }
    delete_entries = [lake_delete_entry(info, e) for e in doomed]
    # DV marks on surviving files re-commit; dropped files' marks go
    # (same survival rule as partition-scoped compaction)
    surviving = _surviving_dv_marks(table_path, {e.file_name for e in doomed})
    im_name = (
        _write_dv_index_manifest(table_path, info, surviving, before)
        if surviving
        else None
    )
    rows_dropped = sum(e.row_count for e in doomed)
    prev_total = int(read_paimon_snapshot(table_path).get("totalRecordCount") or 0)
    sid = _commit_lake_snapshot(
        table_path,
        info,
        delete_entries,
        0,
        commit_kind="OVERWRITE",
        index_manifest=im_name,
        total_record_count=prev_total - rows_dropped,
    )
    return {
        "snapshot_id": sid,
        "partitions_dropped": len(
            {tuple(sorted(e.partition.items())) for e in doomed}
        ),
        "files_dropped": len(doomed),
        "rows_dropped": rows_dropped,
    }


def _java_time_format_to_python(fmt: str) -> str:
    """Map the Java DateTimeFormatter patterns Paimon's
    ``partition.timestamp-formatter`` documents onto strptime tokens.
    Longest-token-first so ``yyyy`` wins over ``yy``."""
    out, i = [], 0
    table = [
        ("yyyy", "%Y"), ("yy", "%y"), ("MM", "%m"), ("dd", "%d"),
        ("HH", "%H"), ("mm", "%M"), ("ss", "%S"),
    ]
    while i < len(fmt):
        for tok, py in table:
            if fmt.startswith(tok, i):
                out.append(py)
                i += len(tok)
                break
        else:
            out.append(fmt[i])
            i += 1
    return "".join(out)


def expire_lake_partitions(
    table_path: str,
    expiration_time=None,
    timestamp_formatter: Optional[str] = None,
    timestamp_pattern: Optional[str] = None,
    now=None,
) -> dict:
    """Paimon PARTITION EXPIRATION on a real lake: partitions whose
    time value is older than ``now - expiration_time`` drop in one
    metadata-only OVERWRITE commit via :func:`drop_lake_partitions`.
    The time value comes from ``partition.timestamp-pattern`` —
    ``$key`` placeholders composed over ANY number of partition keys,
    e.g. ``'$dt $hour:00:00'`` for (dt, hour) tables — parsed with
    ``partition.timestamp-formatter``; with no pattern, the FIRST
    partition key's value (real Paimon's default). Arguments default
    to the table options real Paimon uses (``partition.
    expiration-time``, ``partition.timestamp-formatter``, ``partition.
    timestamp-pattern``); ``expiration_time`` accepts a
    ``datetime.timedelta`` or a Paimon duration string (``'7 d'``,
    ``'24 h'``, ``'30 m'``). ``now`` is injectable for deterministic
    maintenance jobs/tests; default wall clock. The 100 TB shape: the
    commit is O(live manifest entries) on the driver and touches no
    data bytes."""
    import datetime as _dt

    info = read_paimon_schema(table_path)
    part_keys = list(info.partition_keys)
    if not part_keys:
        raise ValueError("expire_lake_partitions: table has no partition keys")
    if expiration_time is None:
        expiration_time = info.options.get("partition.expiration-time")
        if expiration_time is None:
            raise ValueError(
                "expire_lake_partitions: no expiration_time given and the "
                "table sets no partition.expiration-time option"
            )
    if isinstance(expiration_time, str):
        num, _, unit = expiration_time.strip().partition(" ")
        unit = (unit or "d").strip().lower()
        secs = {"d": 86400, "h": 3600, "m": 60, "s": 1}
        if unit not in secs:
            raise ValueError(
                f"expire_lake_partitions: bad duration {expiration_time!r}"
            )
        expiration_time = _dt.timedelta(seconds=float(num) * secs[unit])
    fmt = timestamp_formatter or info.options.get(
        "partition.timestamp-formatter", "yyyy-MM-dd"
    )
    pyfmt = _java_time_format_to_python(fmt)
    pattern = timestamp_pattern or info.options.get(
        "partition.timestamp-pattern"
    )
    if now is None:
        now = _dt.datetime.now()
    cutoff = now - expiration_time
    key = part_keys[0]
    key_type = info.spark_schema[key].dataType
    from pyspark.sql import types as T

    from paimon_python_spark.paimon_import import plan_paimon_files
    from paimon_python_spark.predicate import PredicateBuilder

    expired_values = []  # first-key values (default, pattern-less path)
    expired_tuples = []  # full partition tuples (pattern path)
    seen = set()
    for e in plan_paimon_files(table_path):
        pvals = _logical_partition_values(info, e.partition)
        tup = tuple(pvals.get(k) for k in part_keys)
        if tup in seen:
            continue
        seen.add(tup)
        if pattern is not None:
            # compose the timestamp over ALL named keys — Paimon's
            # partition.timestamp-pattern ('$dt $hour:00:00' style)
            if any(pvals.get(k) is None for k in part_keys if f"${k}" in pattern):
                continue  # default/NULL partition: never expires
            s = pattern
            for k in sorted(part_keys, key=len, reverse=True):
                s = s.replace(f"${k}", str(pvals.get(k)))
            try:
                ts = _dt.datetime.strptime(s, pyfmt)
            except ValueError:
                continue  # unparseable composite: never expires
            if ts < cutoff:
                expired_tuples.append(tup)
            continue
        v = pvals.get(key)
        if v is None:
            continue
        if isinstance(key_type, (T.DateType, T.TimestampType, T.TimestampNTZType)):
            ts = (
                _dt.datetime.combine(v, _dt.time())
                if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime)
                else v
            )
        else:
            try:
                ts = _dt.datetime.strptime(str(v), pyfmt)
            except ValueError:
                continue  # unparseable partition value: never expires
        if ts < cutoff and v not in expired_values:
            expired_values.append(v)
    if not expired_values and not expired_tuples:
        return {
            "snapshot_id": None,
            "partitions_dropped": 0,
            "files_dropped": 0,
            "rows_dropped": 0,
        }
    pb = PredicateBuilder(info.spark_schema)
    if expired_tuples:
        # NULL partition values (keys not referenced in the pattern)
        # need is_null — equal(k, None) matches nothing in SQL
        pred = pb.or_predicates(
            [
                pb.and_predicates(
                    [
                        pb.is_null(k) if v is None else pb.equal(k, v)
                        for k, v in zip(part_keys, tup)
                    ]
                )
                for tup in expired_tuples
            ]
        )
        return drop_lake_partitions(table_path, pred)
    return drop_lake_partitions(table_path, pb.is_in(key, expired_values))


def compact_lake_auto(
    table_path: str,
    trigger: Optional[int] = None,
    min_file_num: Optional[int] = None,
    full_compaction_delta_commits: Optional[int] = None,
) -> Optional[int]:
    """TRIGGER-BASED compaction — Paimon's continuous-maintenance shape
    (the JVM writer's ``num-sorted-run.compaction-trigger``, default 5;
    append tables' ``compaction.min.file-num``, default 5): only the
    (partition, bucket) groups whose file count reaches the trigger are
    rewritten, in ONE group-scoped COMPACT commit; every other group's
    files (and their DV marks) are untouched. Each level-0 file of a
    PK group is one sorted run and the max-level file one more, so the
    file count IS the run count for the fixed-bucket layout this engine
    writes. At 100 TB this is the only viable compaction cadence: the
    maintenance job rewrites the hot buckets, never the lake. Returns
    the COMPACT snapshot id, or None when nothing triggers (real
    Paimon's no-op, not an error).

    ``full-compaction.delta-commits`` (option or argument): once that
    many commits have landed since the last COMPACT snapshot, a FULL
    compaction of the whole lake runs regardless of per-group run
    counts — Paimon's periodic-full-compaction cadence, the knob that
    keeps ``changelog-producer=full-compaction`` lakes emitting their
    changelog on a bounded schedule."""
    import os as _os

    from paimon_python_spark.paimon_import import (
        latest_paimon_snapshot_id,
        read_paimon_snapshot,
    )

    info = read_paimon_schema(table_path)
    fc_delta = (
        full_compaction_delta_commits
        if full_compaction_delta_commits is not None
        else info.options.get("full-compaction.delta-commits")
    )
    if fc_delta is not None:
        latest = latest_paimon_snapshot_id(table_path)
        # the FULL-compaction marker is the cadence baseline — partial
        # trigger-based compacts also commit COMPACT snapshots and must
        # not reset the count (they would starve the periodic FULL).
        # Markerless lakes (JVM-written, or pre-marker engine history)
        # fall back to the newest COMPACT snapshot: conservative, and
        # self-correcting after the first full compaction here.
        last_compact = _read_full_compaction_marker(table_path)
        if last_compact is None:
            sdir = _os.path.join(table_path, "snapshot")
            last_compact = 0
            for sid in range(latest, 0, -1):
                if not _os.path.exists(
                    _os.path.join(sdir, f"snapshot-{sid}")
                ):
                    break  # expired history: treat older ids as unknown
                if (
                    str(
                        read_paimon_snapshot(table_path, sid).get(
                            "commitKind", "APPEND"
                        )
                    ).upper()
                    == "COMPACT"
                ):
                    last_compact = sid
                    break
        if latest - last_compact >= int(fc_delta):
            return compact_lake(table_path)
    before = plan_paimon_files(table_path)
    pkeys = list(info.partition_keys)
    groups: dict = {}
    for e in before:
        lv = _logical_partition_values(info, e.partition)
        key = (tuple(lv.get(k) for k in pkeys), e.bucket)
        groups.setdefault(key, []).append(e)
    if info.primary_keys:
        thr = int(
            trigger
            if trigger is not None
            else info.options.get("num-sorted-run.compaction-trigger", "5")
        )
    else:
        thr = int(
            min_file_num
            if min_file_num is not None
            else info.options.get("compaction.min.file-num", "5")
        )
    selected = {g for g, es in groups.items() if len(es) >= thr}
    if not selected:
        return None
    return compact_lake(table_path, _bucket_groups=selected)


def compact_lake(
    table_path: str,
    partition_filter: Optional[Predicate] = None,
    order_by: Optional[List[str]] = None,
    strategy: str = "zorder",
    target_file_rows: int = 1_000_000,
    _bucket_groups: Optional[set] = None,
) -> int:
    """FULL compaction of a REAL Paimon lake as a spec COMPACT commit —
    the third leg of the engine-as-lake-participant story (append,
    delete, compact). Semantics mirror Paimon's full-compaction action
    (the reference triggers it JVM-side via ``write-only=false`` /
    dedicated compact jobs; pypaimon itself has no python compactor —
    this is a genuine capability the bridge adds):

    - **append lake**: every live data file per (partition, bucket) is
      folded into one file per group, with DELETION VECTORS physically
      applied (marked rows gone from the bytes) and the snapshot's
      ``indexManifest`` dropped;
    - **PK lake**: the LSM merge is materialized — max sequence per key
      wins, ``-D`` rows drop — and each (partition, bucket) writes one
      max-level key-value file with a fresh sequence range past every
      prior file's max, so later level-0 appends still win the merge;
    - both: the delta manifest carries ``_KIND=1`` DELETE records for
      every compacted-away input plus ``_KIND=0`` ADDs for the outputs,
      ``commitKind=COMPACT`` (time travel to earlier snapshots still
      reads the old files — nothing is unlinked), and
      ``totalRecordCount`` is the rewritten world's exact row count.

    The read side is the engine's distributed lake scan (DV anti-join,
    field-id schema evolution to the LATEST schema — compaction
    upgrades old-schema files, as Paimon's does) and the write side is
    the executor-side group writer; only KB-scale per-file metadata
    crosses the driver. A concurrent APPEND that wins the snapshot race
    survives (its files are not in our DELETE set); its rows are simply
    not compacted this round. Returns the new snapshot id.

    ``partition_filter`` (a partition-column predicate) scopes the
    rewrite — the 100 TB production form: only matching partitions'
    files fold; untouched files keep their manifest entries AND their
    deletion-vector marks (the surviving marks re-commit in a fresh
    index manifest; only rewritten files' marks drop, since those rows
    are physically gone).

    ``order_by`` turns the rewrite into Paimon's SORT COMPACTION
    (``--order_strategy order|zorder|hilbert --order_by a,b`` on the
    dedicated-compaction action — append tables only, as in Paimon):
    instead of folding each partition into ONE file, the data is
    re-clustered along the chosen curve and split into
    ``ceil(rows / target_file_rows)`` files, each owning a contiguous
    curve segment. Every ordered column's per-file min/max range is
    then narrow, so the manifest stats skipper prunes files for
    predicates on ANY ordered column — the point of z-ordering at
    100 TB. The cluster key is computed in-plan + one Arrow-batched
    bit-interleave (operators/clustering.py); the only full-data cost
    is the one ``repartitionByRange`` shuffle a global re-cluster
    fundamentally requires."""
    from paimon_python_spark.paimon_import import plan_paimon_files

    info = read_paimon_schema(table_path)
    if order_by:
        if info.primary_keys:
            # Paimon's restriction too: sort compaction applies to
            # append tables (PK tables derive order from the LSM key)
            raise NotImplementedError(
                "sort compaction is append-table-only (the table has primary keys)"
            )
        if strategy not in ("order", "zorder", "hilbert"):
            raise ValueError(f"unknown sort-compaction strategy {strategy!r}")
        unknown = [c for c in order_by if c not in info.spark_schema.names]
        if unknown:
            raise ValueError(f"order_by references unknown columns {unknown}")
    before = plan_paimon_files(table_path)
    if not before:
        raise ValueError("compact_lake: table has no live data files")
    fmt = info.options.get("file.format", "parquet")
    if fmt not in ("parquet", "orc", "avro"):
        raise NotImplementedError(f"compact_lake: file.format={fmt!r} not supported")
    part_keys = list(info.partition_keys)

    if partition_filter is not None:
        ppred = partition_filter.keep_only_fields(set(part_keys))
        if ppred is None:
            raise ValueError(
                "compact_lake: partition_filter references no partition column"
            )
        ppred = _coerce_partition_literals(ppred, info)
        before = [
            e
            for e in before
            if ppred.test_by_value(_logical_partition_values(info, e.partition))
        ]
        if not before:
            raise ValueError("compact_lake: partition_filter matched no files")

    if _bucket_groups is not None:
        # group-scoped rewrite (compact_lake_auto): only the selected
        # (partition, bucket) groups' files fold; the merge is closed
        # per group, so untouched groups are irrelevant to it
        def _grp(e):
            lv = _logical_partition_values(info, e.partition)
            return (tuple(lv.get(k) for k in part_keys), e.bucket)

        before = [e for e in before if _grp(e) in _bucket_groups]
        if not before:
            raise ValueError("compact_lake: no files in the selected bucket groups")

    # merged logical view: PK merge resolved, DV marks applied,
    # old-schema files mapped to the latest schema. A partition filter
    # prunes the scan to the selected partitions (the partition-only
    # predicate is row-exact there) — and the merge stays closed, since
    # fixed-bucket keys never cross partitions.
    rb = PaimonLakeTable(table_path).new_read_builder()
    if partition_filter is not None:
        rb = rb.with_filter(partition_filter)
    if _bucket_groups is not None:
        rb = rb.with_bucket_groups(_bucket_groups)
    df = rb.new_read().to_df()

    cl_entries = None
    dyn_out: Optional[list] = None
    if info.primary_keys:
        num_buckets = int(info.options.get("bucket", "-1"))
        # dynamic-bucket lakes compact per recorded bucket: every live
        # key is already in the HASH index, so the assigner routes each
        # merged row straight back to its own bucket (no new entries)
        dyn_out = [] if num_buckets < 1 else None
        bucket_cols = _check_bucket_key(info)
        max_level = int(info.options.get("num-levels", "6")) - 1
        seq_base = max((e.max_seq for e in before), default=-1) + 1
        # changelog-producer=full-compaction: diff the merged state
        # against the LAST full compaction's (or all-+I when none) and
        # write the -U/+U/+I/-D rows as changelog files on this COMPACT
        # commit — the batch-job-visible changelog real Paimon derives
        # during full compactions. Both reads see PRE-compact state;
        # the rewrite and the diff commit atomically together.
        if info.options.get("changelog-producer") == "full-compaction":
            prev_cid = _last_compact_snapshot_id(table_path)
            old_df = None
            if prev_cid is not None:
                orb = (
                    PaimonLakeTable(table_path)
                    .new_read_builder()
                    .with_snapshot(prev_cid)
                )
                if partition_filter is not None:
                    orb = orb.with_filter(partition_filter)
                if _bucket_groups is not None:
                    orb = orb.with_bucket_groups(_bucket_groups)
                old_df = orb.new_read().to_df()
            diff = _full_compaction_changelog_diff(
                old_df, df, list(info.primary_keys)
            )
            cl_entries, _ = _distributed_lake_write(
                table_path,
                info,
                diff,
                fmt,
                kv=True,
                num_buckets=num_buckets,
                bucket_cols=bucket_cols,
                seq_base=seq_base,
                row_kind_col="__kind",
                file_prefix="changelog",
                arrival_order=False,
                dyn_index_out=dyn_out,
            )
        add_entries, n_rows = _distributed_lake_write(
            table_path,
            info,
            df,
            fmt,
            kv=True,
            num_buckets=num_buckets,
            bucket_cols=bucket_cols,
            seq_base=seq_base,
            level=max_level,
            dyn_index_out=dyn_out,
        )
    elif order_by:
        from pyspark.sql import functions as F

        if strategy == "order":
            key_cols = list(order_by)
        else:
            from paimon_python_spark.operators.clustering import _add_curve_key

            df = _add_curve_key(df, order_by, "__cluster_key", strategy)
            key_cols = ["__cluster_key"]
        # file-count sizing from manifest row counts (upper bound: DV
        # marks still counted) — no extra pass over the data
        est_rows = sum(e.row_count for e in before)
        n_files = max(1, -(-est_rows // max(1, int(target_file_rows))))
        part_keys_cols = [F.col(k) for k in info.partition_keys]
        df = df.repartitionByRange(
            int(n_files), *part_keys_cols, *[F.col(c) for c in key_cols]
        )
        add_entries, n_rows = _distributed_lake_write(
            table_path,
            info,
            df,
            fmt,
            kv=False,
            sort_cols=key_cols,
        )
    else:
        add_entries, n_rows = _distributed_lake_write(
            table_path, info, df, fmt, kv=False, single_file_per_group=True
        )

    delete_entries = [lake_delete_entry(info, e) for e in before]
    # DV marks on UNTOUCHED files must survive a scoped compaction:
    # re-commit them in a fresh index manifest (rewritten files' marks
    # drop — those rows are physically gone from the new bytes)
    surviving = _surviving_dv_marks(table_path, {e.file_name for e in before})
    im_name = (
        _write_dv_index_manifest(
            table_path,
            info,
            surviving,
            plan_paimon_files(table_path),
            pending=dyn_out,
        )
        if surviving
        else None
    )
    if im_name is None:
        # dynamic-bucket lakes: the HASH key index must survive the
        # compaction even when every DV folded away (plus any self-heal
        # assignments the rewrite staged in dyn_out)
        from paimon_python_spark.dynamic_bucket import (
            pending_to_entries,
            write_index_manifest,
        )
        from paimon_python_spark.paimon_import import (
            HASH_INDEX,
            live_index_entries,
        )

        new_hash, replaced = pending_to_entries(info, dyn_out or [])
        hash_keep = [
            r
            for r in live_index_entries(table_path)
            if r.get("_INDEX_TYPE") == HASH_INDEX
            and (
                bytes(r.get("_PARTITION") or b""),
                int(r.get("_BUCKET") or 0),
            )
            not in replaced
        ] + new_hash
        if hash_keep:
            im_name = write_index_manifest(table_path, hash_keep)
    from paimon_python_spark.paimon_import import read_paimon_snapshot

    prev_total = int(
        read_paimon_snapshot(table_path).get("totalRecordCount") or 0
    )
    sid = _commit_lake_snapshot(
        table_path,
        info,
        delete_entries + add_entries,
        n_rows,
        commit_kind="COMPACT",
        index_manifest=im_name,
        total_record_count=prev_total - sum(e.row_count for e in before) + n_rows,
        changelog_entries=cl_entries,
    )
    if partition_filter is None and _bucket_groups is None:
        # whole-lake compaction: record the cadence baseline for
        # full-compaction.delta-commits (partial/scoped compacts must
        # NOT reset it — they'd starve the periodic FULL forever)
        _write_full_compaction_marker(table_path, sid)
    return sid


def _write_full_compaction_marker(table_path: str, snapshot_id: int) -> None:
    """Engine-private cadence marker: the snapshot id of the last FULL
    compaction. Real Paimon tracks this inside writer state (the lake
    format has no field for it — every compaction commits
    ``commitKind=COMPACT``), so it lives in its own ``compaction/``
    directory, which JVM readers ignore. Atomic replace."""
    import json
    import os

    d = os.path.join(table_path, "compaction")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, "LAST-FULL-COMPACTION")
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump({"fullCompactionSnapshotId": int(snapshot_id)}, f)
    os.replace(tmp, path)


def _read_full_compaction_marker(table_path: str) -> Optional[int]:
    import json
    import os

    path = os.path.join(table_path, "compaction", "LAST-FULL-COMPACTION")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return int(json.load(f)["fullCompactionSnapshotId"])


def _last_compact_snapshot_id(table_path: str) -> Optional[int]:
    """Newest snapshot with commitKind COMPACT, or None — the baseline
    a full-compaction changelog diffs against. Walks snapshot JSONs
    newest-first; O(snapshots since last compaction) driver-side."""
    import os

    from paimon_python_spark.paimon_import import (
        latest_paimon_snapshot_id,
        read_paimon_snapshot,
    )

    sdir = os.path.join(table_path, "snapshot")
    for sid in range(latest_paimon_snapshot_id(table_path), 0, -1):
        if not os.path.exists(os.path.join(sdir, f"snapshot-{sid}")):
            break  # expired below here
        if str(read_paimon_snapshot(table_path, sid).get("commitKind")) == "COMPACT":
            return sid
    return None


def _full_compaction_changelog_diff(old_df, new_df, keys: List[str]):
    """Changelog rows for Paimon's ``changelog-producer=
    full-compaction``: the per-key diff between the PREVIOUS full
    compaction's merged state and the current one — +I for new keys,
    -D (old values) for vanished keys, a (-U, +U) pair for changed
    values. ``old_df`` None means no prior compaction: everything is
    +I, exactly like real Paimon's first full compaction.

    Single-pass shape: ONE full-outer join keyed on the PK (the only
    shuffle), NULL-safe value comparison in codegen, and a
    when/array/explode that emits 0-2 changelog rows per key without
    re-executing the join per row kind. Returns the new frame plus an
    int ``__kind`` column (0=+I, 1=-U, 2=+U, 3=-D)."""
    from pyspark.sql import functions as F

    vals = [c for c in new_df.columns if c not in keys]
    if old_df is None:
        return new_df.withColumn("__kind", F.lit(0))
    o = old_df.select(
        *keys,
        *[F.col(c).alias(f"__o_{c}") for c in vals],
        F.lit(True).alias("__in_o"),
    )
    n = new_df.select(
        *keys,
        *[F.col(c).alias(f"__n_{c}") for c in vals],
        F.lit(True).alias("__in_n"),
    )
    j = o.join(n, keys, "full_outer")
    changed = F.lit(False)
    for c in vals:
        changed = changed | ~F.expr(f"__o_{c} <=> __n_{c}")

    def _mk(prefix: str, kind: int):
        return F.struct(
            *[F.col(f"__{prefix}_{c}").alias(c) for c in vals],
            F.lit(kind).alias("__kind"),
        )

    rows = (
        F.when(F.col("__in_o").isNull(), F.array(_mk("n", 0)))
        .when(F.col("__in_n").isNull(), F.array(_mk("o", 3)))
        .when(changed, F.array(_mk("o", 1), _mk("n", 2)))
    )  # unchanged keys: NULL array -> explode emits nothing
    return j.select(*keys, F.explode(rows).alias("__r")).select(*keys, "__r.*")


def sort_compact_lake(
    table_path: str,
    order_by: List[str],
    strategy: str = "zorder",
    partition_filter: Optional[Predicate] = None,
    target_file_rows: int = 1_000_000,
) -> int:
    """Paimon's SORT COMPACTION as a spec COMPACT commit: re-cluster an
    append lake's files along ``order_by`` using ``strategy``
    (``order`` | ``zorder`` | ``hilbert``) so manifest min/max stats
    skip files for predicates on any ordered column. Thin naming
    wrapper over :func:`compact_lake` — see there for semantics."""
    if not order_by:
        raise ValueError("sort_compact_lake needs at least one order_by column")
    return compact_lake(
        table_path,
        partition_filter=partition_filter,
        order_by=list(order_by),
        strategy=strategy,
        target_file_rows=target_file_rows,
    )


def overwrite_lake(table_path: str, df) -> int:
    """INSERT OVERWRITE a REAL Paimon lake: replace the whole visible
    table with ``df`` in one spec OVERWRITE commit — the delta manifest
    DELETEs every live file and ADDs the new ones, the DV index drops
    (nothing it marked survives), and time travel to prior snapshots
    still reads the replaced files. PK lakes write fixed-bucket
    key-value files with a fresh sequence range (an overwrite is still
    an LSM table — later appends must win); append lakes write one file
    per (partition, task). Returns the new snapshot id."""
    from paimon_python_spark.paimon_import import plan_paimon_files

    info = read_paimon_schema(table_path)
    fmt = info.options.get("file.format", "parquet")
    if fmt not in ("parquet", "orc", "avro"):
        raise NotImplementedError(f"overwrite_lake: file.format={fmt!r} not supported")
    before = plan_paimon_files(table_path)
    part_keys = list(info.partition_keys)
    dyn_out: Optional[list] = None
    if info.primary_keys:
        num_buckets = int(info.options.get("bucket", "-1"))
        # dynamic-bucket overwrite: the index RESTARTS from the new
        # data's own keys (fresh=True) — the replaced state's routing
        # belongs to the replaced snapshots
        dyn_out = [] if num_buckets < 1 else None
        if (
            dyn_out is not None
            and part_keys
            and not set(part_keys) <= set(info.primary_keys)
        ):
            # CROSS_PARTITION overwrite: the batch itself must not
            # leave one key in two partitions — net to the LAST arrival
            # per key (no retractions needed; the old state is replaced)
            from paimon_python_spark.dynamic_bucket import arrival_dedup

            df = arrival_dedup(df, list(info.primary_keys)).drop("__kind")
        bucket_cols = _check_bucket_key(info)
        seq_base = max((e.max_seq for e in before), default=-1) + 1
        add_entries, n_rows = _distributed_lake_write(
            table_path,
            info,
            df,
            fmt,
            kv=True,
            num_buckets=num_buckets,
            bucket_cols=bucket_cols,
            seq_base=seq_base,
            dyn_index_out=dyn_out,
            dyn_fresh=True,
        )
    else:
        add_entries, n_rows = _distributed_lake_write(
            table_path, info, df, fmt, kv=False
        )
    delete_entries = [lake_delete_entry(info, e) for e in before]
    index_manifest = None
    if dyn_out:
        # the overwrite's own key→bucket assignments are the entire
        # index now (DV entries drop with the replaced files)
        from paimon_python_spark.dynamic_bucket import (
            pending_to_entries,
            write_index_manifest,
        )

        ents, _replaced = pending_to_entries(info, dyn_out)
        index_manifest = write_index_manifest(table_path, ents)
    return _commit_lake_snapshot(
        table_path,
        info,
        delete_entries + add_entries,
        n_rows,
        commit_kind="OVERWRITE",
        index_manifest=index_manifest,
        total_record_count=n_rows,
    )


def register_lake_sql_view(spark, table_path: str, name: str):
    """Expose a REAL lake table to plain Spark SQL as a named view:
    ``register_lake_sql_view(spark, "/lake/db.db/orders", "orders")``
    then ``spark.sql("SELECT ... FROM orders")``. The view wraps the
    in-place lake read (fresh metadata plan at registration; re-register
    to pick up newer snapshots), so Catalyst sees the same declarative
    plan — filters/pruning reach the file scans."""
    df = PaimonLakeTable(table_path).new_read_builder().new_read().to_df()
    df.createOrReplaceTempView(name)
    return df


def _write_dv_index_manifest(
    table_path: str, info, marked: dict, entries, pending: Optional[list] = None
) -> str:
    """Write the deletion-vector index file(s) + index manifest for
    ``marked`` ({data_file_name: sorted positions}) — one index file +
    manifest entry per (partition, bucket), carrying the REAL BinaryRow
    partition (a JVM Paimon reader decodes entry partitions with the
    table's partition row type, so a single empty-partition entry would
    break interop on partitioned lakes). ``entries`` maps file names to
    their (partition, bucket). ``pending``: dynamic-bucket index metas
    staged by the caller's own write (a compaction rewrite / self-heal)
    — they replace the carried-forward HASH entries of their buckets,
    exactly like write_merged_index_manifest. Returns the manifest file
    name."""
    import os
    import uuid

    from paimon_python_spark.avro_codec import write_avro_records
    from paimon_python_spark.paimon_import import (
        DELETION_VECTORS_INDEX,
        INDEX_MANIFEST_SCHEMA,
        encode_binary_row,
        write_dv_index_file,
    )

    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    by_file = {e.file_name: e for e in entries}
    groups: dict = {}
    for fname in sorted(marked):
        e = by_file.get(fname)
        gkey = (
            (tuple(sorted(e.partition.items())), e.bucket)
            if e is not None
            else ((), 0)
        )
        groups.setdefault(gkey, []).append(fname)
    os.makedirs(os.path.join(table_path, "index"), exist_ok=True)
    tag = uuid.uuid4().hex[:12]
    index_entries = []
    for gi, ((pitems, bucket), fnames) in enumerate(sorted(groups.items())):
        idx_name = f"index-{tag}-{gi}"
        ranges = write_dv_index_file(
            os.path.join(table_path, "index", idx_name),
            {n: marked[n] for n in fnames},
        )
        pdict = dict(pitems)
        index_entries.append(
            {
                "_VERSION": 1,
                "_KIND": 0,
                "_PARTITION": encode_binary_row(
                    [pdict.get(k) for k in info.partition_keys], part_types
                ),
                "_BUCKET": int(bucket),
                "_INDEX_TYPE": DELETION_VECTORS_INDEX,
                "_FILE_NAME": idx_name,
                "_FILE_SIZE": os.path.getsize(
                    os.path.join(table_path, "index", idx_name)
                ),
                "_ROW_COUNT": int(sum(len(marked[n]) for n in fnames)),
                "_DELETIONS_VECTORS_RANGES": [
                    {"f0": n, "f1": o, "f2": ln} for n, (o, ln) in ranges.items()
                ],
            }
        )
    # a dynamic-bucket lake's HASH key index is live state too — carry
    # it forward (this manifest REPLACES the previous one), with any
    # ``pending`` staged assignments superseding their buckets' old
    # entries (dropping them would discard a compaction's re-route /
    # self-heal and leave the lake's routing stale or unsound)
    from paimon_python_spark.dynamic_bucket import pending_to_entries
    from paimon_python_spark.paimon_import import (
        HASH_INDEX,
        live_index_entries,
    )

    new_hash, replaced = pending_to_entries(info, pending or [])
    index_entries.extend(
        r
        for r in live_index_entries(table_path)
        if r.get("_INDEX_TYPE") == HASH_INDEX
        and (
            bytes(r.get("_PARTITION") or b""),
            int(r.get("_BUCKET") or 0),
        )
        not in replaced
    )
    index_entries.extend(new_hash)
    im_name = f"index-manifest-{tag}.avro"
    write_avro_records(
        os.path.join(table_path, "manifest", im_name),
        INDEX_MANIFEST_SCHEMA,
        index_entries,
    )
    return im_name


def update_lake_rows(
    table_path: str, predicate: Predicate, assignments: dict
) -> int:
    """UPDATE rows of a real PK lake: the matched VISIBLE rows are
    re-written with ``assignments`` applied as ``+U`` level-0 records
    in ONE spec commit — every Paimon reader's merge then surfaces the
    new values (the LSM update shape; the engine-table twin is
    ``Table.update_rows``). ``assignments``: {column: SQL expression
    over the current row}, e.g. ``{"bal": "bal * 1.1"}``. Key columns
    refuse — except partition columns on a CROSS_PARTITION lake, where
    the PK alone is the row's identity and updating a partition value
    is a MOVE (the write path emits the ``-D`` retraction into the old
    partition). Append lakes refuse (Paimon updates them via
    copy-on-write rewrites — use ``overwrite_lake`` with the rewritten
    frame). Returns the new snapshot id."""
    from pyspark.sql import functions as F

    from paimon_python_spark.operators._cache import cache_scope, shared

    info = read_paimon_schema(table_path)
    if not info.primary_keys:
        raise ValueError(
            "update_lake_rows: append lake — rewrite via overwrite_lake"
        )
    cross = (
        int(info.options.get("bucket", "-1")) < 1
        and info.partition_keys
        and not set(info.partition_keys) <= set(info.primary_keys)
    )
    frozen = set(info.primary_keys) | (
        set() if cross else set(info.partition_keys)
    )
    bad = set(assignments) & frozen
    if bad:
        raise ValueError(f"update_lake_rows: cannot update key columns {sorted(bad)}")
    unknown = set(assignments) - {f.name for f in info.spark_schema.fields}
    if unknown:
        raise ValueError(f"update_lake_rows: unknown columns {sorted(unknown)}")
    with cache_scope():
        matched = shared(
            PaimonLakeTable(table_path)
            .new_read_builder()
            .with_filter(predicate)
            .new_read()
            .to_df()
        )
        if matched.limit(1).count() == 0:
            raise ValueError("update_lake_rows: predicate matched no rows")
        updated = matched.withColumns(
            {c: F.expr(e) for c, e in assignments.items()}
        ).withColumn("__kind", F.lit(2))
        return write_lake_pk_append(table_path, updated, row_kind_col="__kind")


def delete_lake_rows(table_path: str, predicate: Predicate) -> int:
    """Row-level DELETE FROM a real APPEND lake, committed as
    spec-format deletion vectors: matching rows' (file, position) pairs
    become roaring bitmaps in a new index file + index manifest, and
    snapshot N+1 carries the SAME data manifests with the new index —
    no data file is rewritten, which is exactly Paimon's DV delete
    shape. Existing marks merge in (a second delete unions with the
    first). Returns the new snapshot id.

    PK lakes instead commit the matched keys as ``-D`` kind records in
    a level-0 key-value file (the LSM delete shape every Paimon reader
    resolves); append tables take the DV path below. DV deletes are
    selective by nature; for rewrite-scale deletions use a filtered
    copy instead."""
    import json
    import os
    import uuid

    from pyspark.sql import functions as F

    from paimon_python_spark.paimon_import import (
        _load_lake_entries,
        _relevant_dv,
        latest_paimon_snapshot_id,
        plan_paimon_dv,
        plan_paimon_files,
        read_dv_index_entry,
        read_paimon_snapshot,
    )
    from paimon_python_spark.avro_codec import write_avro_records
    from paimon_python_spark.session import get_spark

    spark = get_spark()
    info = read_paimon_schema(table_path)
    if info.primary_keys:
        # PK lakes delete the way their owners do: the matched VISIBLE
        # rows are re-written as -D kind records in a level-0 commit,
        # and every reader's merge (max sequence per key, -D drops)
        # removes the keys — no data rewrite, no deletion vectors
        # (row_kind.py:22-57 semantics in the reference)
        from pyspark.sql import functions as F

        from paimon_python_spark.operators._cache import cache_scope, shared

        # persisted in a nested scope (released on exit, caller caches
        # untouched): the emptiness check would otherwise run the whole
        # PK merge-window read once, and the -D write a second time
        with cache_scope():
            matched = shared(
                PaimonLakeTable(table_path)
                .new_read_builder()
                .with_filter(predicate)
                .new_read()
                .to_df()
            )
            if matched.limit(1).count() == 0:
                raise ValueError("delete_lake_rows: predicate matched no rows")
            return write_lake_pk_append(
                table_path,
                matched.withColumn("__kind", F.lit(3)),
                row_kind_col="__kind",
            )
    entries = plan_paimon_files(table_path)
    fmt = info.options.get("file.format", "parquet")
    part_types = [info.spark_schema[k].dataType for k in info.partition_keys]
    default_name = info.options.get("partition.default-name", None)

    def src(e: PaimonFileEntry) -> str:
        kw = {"default_name": default_name} if default_name else {}
        return os.path.join(
            table_path, e.rel_path(info.partition_keys, part_types, **kw)
        )

    prev_dv = _relevant_dv(plan_paimon_dv(table_path), entries)
    # hive-style partition columns aren't in the files; evaluate the
    # partition part of the predicate per entry and the residual on rows
    part_pred = (
        predicate.keep_only_fields(set(info.partition_keys))
        if info.partition_keys
        else None
    )
    cand = entries
    if part_pred is not None:
        part_pred = _coerce_partition_literals(part_pred, info)
        cand = [
            e
            for e in entries
            if part_pred.test_by_value(_logical_partition_values(info, e.partition))
        ]
    marked: dict = {}
    if cand:
        # hive-style layouts don't physically carry partition columns:
        # detect once (like the append reader) and inject them from a
        # broadcast (file -> partition values) map so the FULL predicate
        # evaluates on rows
        if fmt == "avro":
            from paimon_python_spark.avro_codec import read_avro_columns

            with open(src(cand[0]), "rb") as f:
                sample_cols = set(read_avro_columns(f.read())[0])
        else:
            sample_cols = set(
                spark.read.format(fmt).load(src(cand[0])).schema.fieldNames()
            )
        missing = [k for k in info.partition_keys if k not in sample_cols]
        raw = _load_lake_entries(
            spark,
            info,
            cand,
            src,
            fmt,
            kv=False,
            table_path=table_path,
            file_name_col="__file_name",
            row_pos_col="__row_pos",
            skip_cols=tuple(missing),
        )
        if missing:
            from pyspark.sql import types as T

            rows = [
                (
                    e.file_name,
                    *[
                        _logical_partition_values(info, e.partition)[k]
                        for k in missing
                    ],
                )
                for e in cand
            ]
            pschema = T.StructType(
                [T.StructField("__file_name", T.StringType())]
                + [
                    T.StructField(k, info.spark_schema[k].dataType)
                    for k in missing
                ]
            )

            pmap = F.broadcast(local_df(spark, rows, pschema, max_slices=1))
            raw = raw.join(pmap, "__file_name")
        pending = raw.filter(predicate.to_column())
        # EXECUTOR-SIDE bitmap build: each matched file's positions
        # collapse to one serialized roaring bitmap inside its task, so
        # only KB-scale blobs (bounded by file count, not row count)
        # reach the driver — a delete matching 10^9 rows stays flat
        import pandas as _pd

        def _bm(pdf: "_pd.DataFrame") -> "_pd.DataFrame":
            from paimon_python_spark.roaring import serialize_roaring32

            return _pd.DataFrame(
                [
                    {
                        "file_name": str(pdf["__file_name"].iloc[0]),
                        "bitmap": serialize_roaring32(
                            pdf["__row_pos"].to_numpy()
                        ),
                    }
                ]
            )

        from paimon_python_spark._localdf import pinned_width

        bm_rows = (
            pending.select("__file_name", "__row_pos")
            # pinned width: the (file, pos) pairs are byte-tiny but each
            # group folds a full file's positions into a roaring bitmap
            # — AQE would coalesce the exchange to one core (same fix
            # as the group write above)
            .repartition(
                # at most len(cand) files can match — bound the width
                pinned_width(pending.sparkSession, max_groups=len(cand)),
                "__file_name",
            )
            .groupBy("__file_name")
            .applyInPandas(_bm, "file_name string, bitmap binary")
            .collect()
        )
        from paimon_python_spark.roaring import deserialize_roaring32

        for r in bm_rows:
            marked[r["file_name"]] = deserialize_roaring32(bytes(r["bitmap"]))
    if not marked:
        raise ValueError("delete_lake_rows: predicate matched no rows")
    # merge existing marks forward (per-file union, transient arrays)
    import numpy as _np

    for r in prev_dv:
        prev_pos = read_dv_index_entry(r.index_path, r.offset, r.length)
        cur = marked.get(r.data_file_name)
        marked[r.data_file_name] = (
            _np.union1d(cur, prev_pos) if cur is not None else prev_pos
        )

    im_name = _write_dv_index_manifest(table_path, info, marked, entries)
    tag = uuid.uuid4().hex[:12]
    from paimon_python_spark.metadata import SnapshotConflictError, _exclusive_write
    from paimon_python_spark.paimon_import import (
        MANIFEST_LIST_SCHEMA,
        read_manifest_list_entries,
    )

    for attempt in range(20):
        if attempt:
            import random as _random
            import time as _time

            _time.sleep(_random.uniform(0, 0.02 * attempt))
        sdir = os.path.join(table_path, "snapshot")
        ids = [
            int(n.split("-")[1]) for n in os.listdir(sdir) if n.startswith("snapshot-")
        ]
        prev_id = max(latest_paimon_snapshot_id(table_path), max(ids) if ids else 0)
        prev = read_paimon_snapshot(table_path, prev_id)
        new_id = prev_id + 1
        # a DV-only commit changes NO data files: fold prev's manifests
        # into the base list (ORIGINAL records — partition stats
        # survive) and publish an EMPTY delta, so incremental consumers
        # of (prev, new] correctly see zero new rows
        prior: list = []
        for lst in (prev.get("baseManifestList"), prev.get("deltaManifestList")):
            if lst:
                prior.extend(read_manifest_list_entries(table_path, lst))

        blname = f"manifest-list-{tag}-{attempt}-base.avro"
        dlname = f"manifest-list-{tag}-{attempt}-delta.avro"
        write_avro_records(
            os.path.join(table_path, "manifest", blname),
            MANIFEST_LIST_SCHEMA,
            prior,
        )
        write_avro_records(
            os.path.join(table_path, "manifest", dlname),
            MANIFEST_LIST_SCHEMA,
            [],
        )
        snap = dict(
            prev,
            id=new_id,
            baseManifestList=blname,
            deltaManifestList=dlname,
            indexManifest=im_name,
            commitUser="paimon_python_spark",
            commitIdentifier=new_id,
            # explicit: dict(prev, ...) would inherit whatever kind the
            # previous committer used (e.g. COMPACT / OVERWRITE)
            commitKind="APPEND",
            deltaRecordCount=0,
            changelogRecordCount=0,
            changelogManifestList=None,
        )
        try:
            _exclusive_write(
                os.path.join(sdir, f"snapshot-{new_id}"), json.dumps(snap)
            )
        except SnapshotConflictError:
            continue
        write_hint_atomic(os.path.join(sdir, "LATEST"), new_id)
        return new_id
    raise RuntimeError("delete_lake_rows: lost the snapshot race 20 times")
