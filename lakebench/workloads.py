"""The three lake workloads: closed loop, one client, no extra threads
or connections into the system under test.

Each workload builds its fixture through the library, warms up, then
runs its timed loop until ``seconds`` have passed, and finally checks
every operation against the oracle. Only the library's public calls
are timed; generating inputs, turning them into DataFrames, directory
listings and trace bookkeeping happen between timed calls.
"""

from __future__ import annotations

import statistics
import time
from collections import defaultdict

import numpy as np
import pandas as pd

from lakebench import gen, oracle
from lakebench.trace import dir_diff, dir_listing

# Fixture sizes. Fixed per-operation cost dominates at these sizes (see
# README.md), so they are set to fit a run into its time budget.
CDC_PRELOAD_KEYS = 200_000
CDC_BUCKETS = 2
CDC_BATCH_ROWS = 20_000
# commits per maintenance cycle (commits, compaction, expiry); a run
# holds at least one whole cycle, which takes about 10 s
CDC_COMPACT_EVERY = 6
CDC_KEEP_SNAPSHOTS = 3
CDC_WARMUP_COMMITS = 3

SCAN_KEYS = 200_000
SCAN_BUCKETS = 1
SCAN_UPSERTS = 3
SCAN_UPSERT_TENTHS = 3

LOOKUP_KEYS = 200_000
LOOKUP_COMMITS = 6
LOOKUP_BUCKETS = 8
LOOKUP_UPSERT_EVERY = 20
LOOKUP_UPSERT_ROWS = 1_000

FILTER_V_BELOW = 100

WRITE = "paimon_lake.write_lake_pk_append"
COMPACT = "paimon_lake.compact_lake_auto"
EXPIRE = "paimon_lake.expire_lake_snapshots"
PLAN = "paimon_lake.scan.plan"
TO_DF = "paimon_lake.read.to_df"
EXEC = "paimon_lake.read.exec"


class Bench:
    """State shared by a workload's fixture, loop and checks: the table,
    the change log fed to the oracle, latencies and per-layer samples."""

    def __init__(self, spark, warehouse: str, tracer, rss, trace_mode: bool):
        from paimon_python_spark.paimon_lake import PaimonLakeCatalog

        self.spark = spark
        self.tracer = tracer
        self.rss = rss
        self.trace_mode = trace_mode
        self.catalog = PaimonLakeCatalog.create({"warehouse": warehouse})
        self.catalog.create_database("bench", ignore_if_exists=True)
        self.table = None
        self.log: list = []  # (seq, batch) of every committed batch
        self.seq = -1
        self.attempted = 0
        self.failed = 0
        self.failures: list = []
        self.lat = defaultdict(list)  # op kind -> [(seconds, traced)]
        # per-layer metric -> samples, from the timed loop and from the
        # calls outside it (fixture, final read, maintenance probe)
        self.layer = defaultdict(list)
        self.layer_outside = defaultdict(list)
        self.pending_read_amp: list = []  # (bytes planned, result shape)
        self.in_loop = False
        self.loop_time = 0.0
        self.bytes_created = 0
        self.logical_in = 0
        self.amp_mark = None  # see mark_amplification
        self.loop_rows = 0
        self.cycle_mark = None  # see mark_cycle
        self._pending_logical: list = []  # Spark batches, sized at the end
        self._live_files = None  # (seq, count) cache for scan.files_live

    # -- table --------------------------------------------------------
    def create_table(self, name: str, buckets: int):
        self.table = self.catalog.create_table(
            f"bench.{name}",
            oracle.TABLE_SCHEMA,
            partition_keys=["dt"],
            primary_keys=["dt", "k"],
            options={"bucket": str(buckets)},
        )
        return self.table

    @property
    def path(self) -> str:
        return self.table.table_path

    # -- bookkeeping ---------------------------------------------------
    def _timed(self, kind: str, seconds: float) -> None:
        if self.in_loop:
            self.lat[kind].append((seconds, self.tracer.enabled))
            self.loop_time += seconds
        self.rss.sample()

    def _account_writes(self, diff: dict, logical: int) -> None:
        self.bytes_created += diff["bytes_created"]
        self.logical_in += logical

    def _record(self, name: str, value) -> None:
        (self.layer if self.in_loop else self.layer_outside)[name].append(value)

    def layer_samples(self, name: str) -> list:
        """The timed loop's samples of a per-layer metric, or, when the
        loop made none, those of the calls outside it."""
        return self.layer.get(name) or self.layer_outside.get(name, [])

    def _fail(self, what: str, err) -> None:
        self.failed += 1
        if len(self.failures) < 20:
            self.failures.append(f"{what}: {err}")

    def _max_runs_per_group(self) -> int:
        plan = self.table.new_read_builder().new_scan().plan()
        return max((len(s.file_paths()) for s in plan.splits()), default=0)

    def _files_live(self) -> int:
        if self._live_files is None or self._live_files[0] != self.seq:
            plan = self.table.new_read_builder().new_scan().plan()
            self._live_files = (
                self.seq,
                sum(len(s.file_paths()) for s in plan.splits()),
            )
        return self._live_files[1]

    # -- library calls -------------------------------------------------
    def commit(self, batch, op=None) -> None:
        """One ``write_lake_pk_append`` of a generated batch."""
        from paimon_python_spark.paimon_lake import write_lake_pk_append

        df = oracle.input_df(self.spark, batch)
        before = dir_listing(self.path)
        if self.in_loop:
            self.attempted += 1
        try:
            t = time.perf_counter()
            with self.tracer.call(WRITE, op) as rec:
                sid = write_lake_pk_append(self.path, df, row_kind_col="kind")
            self._timed("upsert", time.perf_counter() - t)
        except Exception as e:  # an op that raises is a failed op
            self._fail("write_lake_pk_append", repr(e))
            return
        self.seq += 1
        self.log.append((self.seq, batch))
        if self.in_loop:
            self.loop_rows += len(batch)
        diff = dir_diff(before, dir_listing(self.path))
        if isinstance(batch, pd.DataFrame):
            self._account_writes(diff, gen.logical_bytes(batch))
        else:
            self._account_writes(diff, 0)
            self._pending_logical.append(batch)
        if not isinstance(sid, int) or diff["data_files_created"] == 0:
            self._fail("write_lake_pk_append", f"snapshot {sid!r}, no data files")
        if rec is not None:
            jobs, tasks = self.tracer.spark_counts(rec)
            self._record(f"{WRITE}.ms", 1e3 * (rec["end"] - rec["start"]))
            self._record(f"{WRITE}.spark_jobs", jobs)
            self._record(f"{WRITE}.spark_tasks", tasks)
            self._record(f"{WRITE}.files_written", diff["files_created"])
            self._record(f"{WRITE}.bytes_written", diff["bytes_created"])

    def maintain(self, trigger: int, op=None) -> None:
        """``compact_lake_auto`` (groups with at least ``trigger`` sorted
        runs) then ``expire_lake_snapshots``."""
        from paimon_python_spark.paimon_lake import (
            compact_lake_auto,
            expire_lake_snapshots,
        )

        runs = self._max_runs_per_group() if self.tracer.enabled else None
        before = dir_listing(self.path)
        self.attempted += 1
        try:
            t = time.perf_counter()
            with self.tracer.call(COMPACT, op) as rec:
                sid = compact_lake_auto(self.path, trigger=trigger)
            self._timed("compact", time.perf_counter() - t)
        except Exception as e:
            self._fail("compact_lake_auto", repr(e))
            return
        mid = dir_listing(self.path)
        diff = dir_diff(before, mid)
        self._account_writes(diff, 0)
        if sid is None:
            self._fail("compact_lake_auto", "no group reached the trigger")
        else:
            self.seq += 1
        if rec is not None:
            jobs, _ = self.tracer.spark_counts(rec)
            self._record(f"{COMPACT}.ms", 1e3 * (rec["end"] - rec["start"]))
            self._record(f"{COMPACT}.spark_jobs", jobs)
            self._record(f"{COMPACT}.bytes_rewritten", diff["data_bytes_created"])
            self._record(f"{COMPACT}.runs_per_group_before", runs)
        self.attempted += 1
        try:
            t = time.perf_counter()
            with self.tracer.call(EXPIRE, op) as rec:
                out = expire_lake_snapshots(self.path, keep_last_n=CDC_KEEP_SNAPSHOTS)
            self._timed("expire", time.perf_counter() - t)
        except Exception as e:
            self._fail("expire_lake_snapshots", repr(e))
            return
        diff = dir_diff(mid, dir_listing(self.path))
        if not out.get("snapshots_deleted"):
            self._fail("expire_lake_snapshots", f"nothing expired: {out}")
        if rec is not None:
            self._record(f"{EXPIRE}.ms", 1e3 * (rec["end"] - rec["start"]))
            self._record(f"{EXPIRE}.files_deleted", diff["files_deleted"])

    def read(self, kind: str, op=None, projection=None, filters=(), checksum=None):
        """builder -> with_projection / with_filter -> to_df -> action.

        ``filters``: ``(method, field, literal)`` predicates, ANDed.
        ``checksum``: aggregate the read to ``oracle.checksum_cols`` of
        these columns; otherwise collect the rows. Returns the result,
        or None when the read raised (counted as failed)."""
        self.attempted += 1
        try:
            t = time.perf_counter()
            with self.tracer.span(f"op.{kind}", op):
                rb = self.table.new_read_builder()
                if projection is not None:
                    rb = rb.with_projection(projection)
                if filters:
                    pb = rb.new_predicate_builder()
                    preds = [getattr(pb, m)(f, x) for m, f, x in filters]
                    rb = rb.with_filter(
                        preds[0] if len(preds) == 1 else pb.and_predicates(preds)
                    )
                plan = None
                if self.tracer.enabled:
                    with self.tracer.call(PLAN, op) as plan_rec:
                        plan = rb.new_scan().plan()
                with self.tracer.call(TO_DF, op) as df_rec:
                    df = rb.new_read().to_df()
                if checksum is not None:
                    df = df.agg(*oracle.checksum_cols(checksum))
                with self.tracer.call(EXEC, op) as exec_rec:
                    rows = df.collect()
            self._timed(kind, time.perf_counter() - t)
        except Exception as e:
            self._fail(kind, repr(e))
            return None
        if plan is not None:
            self._trace_read(plan, plan_rec, df_rec, exec_rec, kind, rows, checksum)
        return rows

    def _trace_read(self, plan, plan_rec, df_rec, exec_rec, kind, rows, checksum):
        from paimon_python_spark.paimon_lake import lake_system_table_data

        splits = plan.splits()
        planned = sum(len(s.file_paths()) for s in splits)
        live = self._files_live()
        jobs = tasks = 0
        for rec in (df_rec, exec_rec):
            j, n = self.tracer.spark_counts(rec)
            jobs, tasks = jobs + j, tasks + n
        self._record("paimon_lake.scan.plan_ms", 1e3 * (plan_rec["end"] - plan_rec["start"]))
        self._record(
            "paimon_lake.scan.manifests",
            len(lake_system_table_data(self.path, "manifests")[1]),
        )
        self._record("paimon_lake.scan.files_live", live)
        self._record("paimon_lake.scan.files_planned", planned)
        self._record("paimon_lake.scan.prune_ratio", planned / live if live else 0.0)
        self._record("paimon_lake.read.to_df_ms", 1e3 * (df_rec["end"] - df_rec["start"]))
        self._record("paimon_lake.read.exec_ms", 1e3 * (exec_rec["end"] - exec_rec["start"]))
        self._record("paimon_lake.read.spark_jobs", jobs)
        self._record("paimon_lake.read.spark_tasks", tasks)
        self._record("paimon_lake.read.splits", len(splits))
        bytes_planned = sum(s.file_size() for s in splits)
        self._record("paimon_lake.read.bytes_planned", bytes_planned)
        # read_amp needs the logical result size; aggregated reads get it
        # from the oracle once the loop is over (see resolve_read_amp)
        if checksum is None:
            logical = sum(16 + len(r["dt"]) + len(r["s"] or "") for r in rows)
            if logical:
                self._record("paimon_lake.read.read_amp", bytes_planned / logical)
        else:
            shape = "full" if len(checksum) == len(oracle.TABLE_SCHEMA) else "filtered"
            self.pending_read_amp.append((self.in_loop, bytes_planned, shape))

    def resolve_read_amp(self, want: dict) -> None:
        """``read_amp`` of the aggregated reads, now that the oracle gave
        the logical size of their results: the live rows for a full
        read, 16 B per ``(k, v)`` row for the filtered projection."""
        logical = {"full": want["logical_bytes"], "filtered": 16 * want["filtered"][0]}
        for in_loop, planned, shape in self.pending_read_amp:
            if logical[shape]:
                layer = self.layer if in_loop else self.layer_outside
                layer["paimon_lake.read.read_amp"].append(planned / logical[shape])
        self.pending_read_amp.clear()

    # -- loop helpers ----------------------------------------------------
    def set_traced(self, i: int) -> None:
        """In a traced run, ops alternate in pairs between untraced and
        traced, so one run yields both medians for the overhead."""
        self.tracer.enabled = self.trace_mode and (i // 2) % 2 == 1

    def mark_amplification(self) -> None:
        """Fix what ``write_amp`` and ``space_amp`` measure: the writes
        from table creation up to here, and the table as it is here.
        Each workload marks at a point its seed alone sets (the end of
        its fixture, or of ``cdc_ingest``'s first maintenance cycle), so
        neither ratio depends on how many ops the timed loop fits in."""
        self.amp_mark = {
            "bytes_created": self.bytes_created,
            "logical_in": self.logical_in,
            "table_bytes": self.table_bytes(),
            "seq": self.seq,
        }

    def _loop_totals(self) -> dict:
        return {
            "ops": {k: len(v) for k, v in self.lat.items()},
            "rows": self.loop_rows,
            "time": self.loop_time,
        }

    def mark_cycle(self) -> None:
        """Note the ops, rows and op time of the loop so far, at the end
        of a maintenance cycle, so that throughput covers whole cycles
        and every compaction stall is amortised over its commits."""
        self.cycle_mark = self._loop_totals()

    def throughput_window(self) -> dict:
        """The marked whole cycles, or the whole loop when there are none."""
        return self.cycle_mark or self._loop_totals()

    def settle_logical(self) -> None:
        """Add the logical size of Spark-generated batches in one Spark
        job. They are all fixture writes, made before the mark."""
        if self._pending_logical:
            df = self._pending_logical[0]
            for more in self._pending_logical[1:]:
                df = df.unionByName(more)
            n = oracle.logical_bytes(df)
            self.logical_in += n
            self.amp_mark["logical_in"] += n
            self._pending_logical.clear()

    def amplification(self, want: dict) -> tuple:
        """``(write_amp, space_amp)`` at the mark: bytes of every file
        created under the table dir ÷ logical input bytes, and bytes
        under the table dir ÷ logical bytes of the live merged rows.
        ``want`` is the oracle's summary of the final state."""
        self.settle_logical()
        mark = self.amp_mark
        live = want["logical_bytes"]
        if mark["seq"] != self.seq:
            state = oracle.merged_state(oracle.log_df(self.spark, self.log), mark["seq"])
            live = oracle.state_summary(state)["logical_bytes"]
        return mark["bytes_created"] / mark["logical_in"], mark["table_bytes"] / live

    def table_bytes(self) -> int:
        return sum(dir_listing(self.path).values())


def _deadline_loop(seconds: float, min_ops: int = 1):
    """Yield op indexes until ``seconds`` have passed since the first
    and at least ``min_ops`` were yielded."""
    end = time.perf_counter() + seconds
    i = 0
    while True:
        yield i
        i += 1
        if i >= min_ops and time.perf_counter() >= end:
            return


def _check(b: Bench, what: str, got, want) -> None:
    if got != want:
        b._fail(what, f"got {got}, want {want}")


# -- cdc_ingest ---------------------------------------------------------------
def cdc_ingest_setup(b: Bench, rng):
    t = time.perf_counter()
    seed = int(rng.integers(1 << 31))
    zipf = gen.Zipf(rng, CDC_PRELOAD_KEYS)
    excluded = time.perf_counter() - t
    b.create_table("cdc", buckets=CDC_BUCKETS)
    b.commit(gen.spark_rows(b.spark, seed, 0, CDC_PRELOAD_KEYS, gen.INSERT))
    return {"zipf": zipf, "next_key": CDC_PRELOAD_KEYS}, excluded


def cdc_ingest_batch(b: Bench, rng, st):
    batch = gen.cdc_batch(rng, st["zipf"], st["next_key"], CDC_BATCH_ROWS)
    st["next_key"] += CDC_BATCH_ROWS // 5
    return batch


def cdc_ingest_warmup(b: Bench, rng, st):
    # the first commits of a session run well above the later ones
    for _ in range(CDC_WARMUP_COMMITS):
        b.commit(cdc_ingest_batch(b, rng, st))


def cdc_ingest_loop(b: Bench, rng, st, seconds: float) -> None:
    """Commits until ``seconds`` have passed, every ``CDC_COMPACT_EVERY``-th
    followed by compaction and expiry. At least one whole cycle runs, so
    the amplification mark falls at the same point in every run."""
    for i in _deadline_loop(seconds, min_ops=CDC_COMPACT_EVERY):
        b.set_traced(i)
        b.commit(cdc_ingest_batch(b, rng, st), op=i)
        if (i + 1) % CDC_COMPACT_EVERY == 0:
            b.tracer.enabled = b.trace_mode
            b.maintain(CDC_COMPACT_EVERY, op=i)
            b.mark_cycle()
            if b.amp_mark is None:
                b.mark_amplification()


def cdc_ingest_check(b: Bench, st) -> dict:
    b.tracer.enabled = b.trace_mode
    want = oracle.state_summary(oracle.merged_state(oracle.log_df(b.spark, b.log)))
    b.in_loop = False
    rows = b.read("final_read", checksum=["dt", "k", "v", "s"])
    if rows is not None:
        _check(b, "final merged read", (rows[0]["n"], rows[0]["h"]), want["full"])
    return want


# -- merged_scan ---------------------------------------------------------------
def merged_scan_setup(b: Bench, rng):
    seed = int(rng.integers(1 << 31))
    b.create_table("scan", buckets=SCAN_BUCKETS)
    b.commit(gen.spark_rows(b.spark, seed, 0, SCAN_KEYS, gen.INSERT))
    for r in range(1, SCAN_UPSERTS + 1):
        share = gen.key_slots(seed, r, 10, 0, SCAN_UPSERT_TENTHS)
        b.commit(gen.spark_rows(b.spark, seed, r, SCAN_KEYS, gen.UPDATE, share))
    b.mark_amplification()
    return {}, 0.0


SCAN_SHAPES = (
    ("full_scan", {"checksum": ["dt", "k", "v", "s"]}),
    (
        "filtered_scan",
        {
            "projection": ["k", "v"],
            "filters": (("less_than", "v", FILTER_V_BELOW),),
            "checksum": ["k", "v"],
        },
    ),
)


def merged_scan_warmup(b: Bench, rng, st):
    # the first read of each shape in a session runs well above the
    # later ones
    for _kind, kw in SCAN_SHAPES:
        b.read("warmup", **kw)


def merged_scan_loop(b: Bench, rng, st, seconds: float) -> None:
    st["results"] = []
    for i in _deadline_loop(seconds):
        b.set_traced(i)
        kind, kw = SCAN_SHAPES[i % 2]
        st["results"].append((kind, b.read(kind, op=i, **kw)))


def merged_scan_check(b: Bench, st) -> dict:
    want = oracle.state_summary(oracle.merged_state(oracle.log_df(b.spark, b.log)))
    for kind, rows in st["results"]:
        if rows is not None:
            got = (rows[0]["n"], rows[0]["h"])
            _check(b, kind, got, want["full" if kind == "full_scan" else "filtered"])
    return want


# -- point_lookup ---------------------------------------------------------------
def point_lookup_setup(b: Bench, rng):
    t = time.perf_counter()
    seed = int(rng.integers(1 << 31))
    zipf = gen.Zipf(rng, LOOKUP_KEYS)
    excluded = time.perf_counter() - t
    b.create_table("lookup", buckets=LOOKUP_BUCKETS)
    for j in range(LOOKUP_COMMITS):
        part = gen.key_slots(seed, 0, LOOKUP_COMMITS, j, j + 1)
        b.commit(gen.spark_rows(b.spark, seed, 0, LOOKUP_KEYS, gen.INSERT, part))
    b.mark_amplification()
    return {"zipf": zipf, "lookups": [], "results": {}}, excluded


def _lookup(b: Bench, st, key: int, op) -> None:
    dt = gen.dt_of([key])[0]
    rows = b.read(
        "lookup",
        op=op,
        filters=(("equal", "dt", dt), ("equal", "k", int(key))),
    )
    if rows is not None and op is not None:
        st["lookups"].append((op, int(key), b.seq))
        st["results"][op] = rows


def point_lookup_warmup(b: Bench, rng, st):
    for key in st["zipf"].sample(rng, 3):
        _lookup(b, st, key, None)


def point_lookup_loop(b: Bench, rng, st, seconds: float) -> None:
    for i in _deadline_loop(seconds):
        b.set_traced(i)
        if (i + 1) % LOOKUP_UPSERT_EVERY == 0:
            keys = st["zipf"].distinct(rng, LOOKUP_UPSERT_ROWS)
            kinds = np.where(rng.random(len(keys)) < 0.1, gen.DELETE, gen.UPDATE)
            b.commit(gen.make_rows(rng, keys, kinds), op=i)
        else:
            _lookup(b, st, st["zipf"].sample(rng, 1)[0], i)


def point_lookup_check(b: Bench, st) -> dict:
    log = oracle.log_df(b.spark, b.log)
    want = oracle.expected_lookups(b.spark, log, st["lookups"])
    for op, key, _ in st["lookups"]:
        rows = st["results"][op]
        got = [(r["dt"], r["k"], r["v"], r["s"]) for r in rows]
        _check(b, f"lookup k={key}", got, [want[op]] if want[op] is not None else [])
    return oracle.state_summary(oracle.merged_state(log))


#: name -> (op kinds of the primary operation, setup, warm-up, loop, check)
WORKLOADS = {
    "cdc_ingest": (
        ("upsert",),
        cdc_ingest_setup,
        cdc_ingest_warmup,
        cdc_ingest_loop,
        cdc_ingest_check,
    ),
    "merged_scan": (
        ("full_scan", "filtered_scan"),
        merged_scan_setup,
        merged_scan_warmup,
        merged_scan_loop,
        merged_scan_check,
    ),
    "point_lookup": (
        ("lookup",),
        point_lookup_setup,
        point_lookup_warmup,
        point_lookup_loop,
        point_lookup_check,
    ),
}


def median(xs):
    return statistics.median(xs) if xs else 0.0
