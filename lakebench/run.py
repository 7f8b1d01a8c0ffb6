"""Lake-table benchmark: one workload, one seed, one run.

    python3 lakebench/run.py --workload cdc_ingest --seed 1 --seconds 20 --trace 0

Run from the root of a checkout: the library is imported from there,
and every file the run writes (tables, Spark scratch, results, traces)
stays under ``.bench_work/`` there. The last line of standard output is
the result, ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics, with ``--trace 1`` the per-layer
metrics. The line before it is the full report: every metric the
workload defines, by name and unit, plus the environment.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from lakebench import trace  # noqa: E402  (needs ROOT on sys.path)

WORKLOADS = ("cdc_ingest", "merged_scan", "point_lookup")

#: per-layer metrics and their units, printed by every traced run
LAYER_UNITS = {
    "paimon_lake.write_lake_pk_append.ms": "ms",
    "paimon_lake.write_lake_pk_append.spark_jobs": "count",
    "paimon_lake.write_lake_pk_append.spark_tasks": "count",
    "paimon_lake.write_lake_pk_append.files_written": "count",
    "paimon_lake.write_lake_pk_append.bytes_written": "bytes",
    "paimon_lake.compact_lake_auto.ms": "ms",
    "paimon_lake.compact_lake_auto.spark_jobs": "count",
    "paimon_lake.compact_lake_auto.bytes_rewritten": "bytes",
    "paimon_lake.compact_lake_auto.runs_per_group_before": "count",
    "paimon_lake.expire_lake_snapshots.ms": "ms",
    "paimon_lake.expire_lake_snapshots.files_deleted": "count",
    "paimon_lake.scan.plan_ms": "ms",
    "paimon_lake.scan.manifests": "count",
    "paimon_lake.scan.files_live": "count",
    "paimon_lake.scan.files_planned": "count",
    "paimon_lake.scan.prune_ratio": "ratio",
    "paimon_lake.read.to_df_ms": "ms",
    "paimon_lake.read.exec_ms": "ms",
    "paimon_lake.read.spark_jobs": "count",
    "paimon_lake.read.spark_tasks": "count",
    "paimon_lake.read.splits": "count",
    "paimon_lake.read.bytes_planned": "bytes",
    "paimon_lake.read.read_amp": "ratio",
    "session.spark_boot_s": "s",
    "setup.fixture_s": "s",
    "setup.warmup_s": "s",
    "trace.overhead_pct": "%",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def library_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "paimon_python_spark", "__init__.py"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``work``, and let Python workers import the checkout's library."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        f" -Dderby.system.home={tmp}"
    ).strip()
    import tempfile

    tempfile.tempdir = tmp


def boot_spark(work: str):
    """The library's own default session: ``session.configure_builder``
    on ``local[nproc]``, nothing else tuned."""
    from pyspark.sql import SparkSession

    from paimon_python_spark.session import configure_builder, set_spark

    n = nproc()
    spark = (
        configure_builder(
            SparkSession.builder.master(f"local[{n}]").appName("lakebench"),
            shuffle_partitions=n,
        )
        .config("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    set_spark(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every process this run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 30
    me = os.getpid()
    while True:
        rest = [p for p in trace.process_tree(me) if p != me]
        if not rest:
            return
        if time.monotonic() > deadline:
            for p in rest:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def environment(seed: int) -> dict:
    import platform

    import pyarrow
    import pyspark

    commit = None
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            # a checkout that is not a repository reads nothing above it
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha1()
    lib = os.path.join(ROOT, "paimon_python_spark")
    for dirpath, dirs, files in os.walk(lib):
        dirs.sort()
        for n in sorted(files):
            if n.endswith(".py"):
                with open(os.path.join(dirpath, n), "rb") as f:
                    h.update(n.encode() + f.read())
    return {
        "nproc": nproc(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "git_commit": commit,
        "library_sha1": h.hexdigest(),
        "seed": seed,
    }


def tail(xs):
    """``(label, value)`` of the highest percentile that has at least
    ten samples beyond it (nearest rank), but never below the median:
    with 20 samples or fewer no percentile above the median has ten
    beyond it, and the median is given."""
    n = len(xs)
    if n <= 20:
        return "p50", statistics.median(xs) if xs else 0.0
    pct = (100 * (n - 10)) // n
    return f"p{pct}", sorted(xs)[-(-pct * n // 100) - 1]


def main(argv=None) -> int:
    t_proc = trace.process_start_time()
    args = parse_args(argv)
    if not library_present():
        print(
            f"lakebench: no paimon_python_spark package under {ROOT}; "
            "run from the root of a full checkout",
            file=sys.stderr,
        )
        return 2
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)

    import numpy as np

    from lakebench import workloads as W

    kinds, setup, warmup, loop, check = W.WORKLOADS[args.workload]
    rng = np.random.default_rng(args.seed)
    rss = trace.PeakRss().start()
    spark = None
    try:
        t = time.monotonic()
        spark = boot_spark(work)
        boot_s = time.monotonic() - t
        tracer = trace.Tracer(bool(args.trace), spark.sparkContext)
        b = W.Bench(spark, os.path.join(work, "warehouse"), tracer, rss, bool(args.trace))
        t = time.monotonic()
        st, gen_s = setup(b, rng)
        fixture_s = time.monotonic() - t - gen_s
        tracer.enabled = False
        t = time.monotonic()
        warmup(b, rng, st)
        warmup_s = time.monotonic() - t
        setup_s = time.monotonic() - t_proc - gen_s
        b.attempted = b.failed = 0
        b.failures.clear()
        b.in_loop = True
        t_loop = time.perf_counter()
        loop(b, rng, st, args.seconds)
        loop_wall = time.perf_counter() - t_loop
        b.in_loop = False
        # peak memory of the system under test: the oracle's jobs after
        # the loop run in the same JVM and must not count
        rss.stop()
        tracer.enabled = bool(args.trace)
        if args.trace and args.workload != "cdc_ingest":
            # the loop runs no maintenance: time one compaction and
            # expiry of the table it leaves, so that every per-layer
            # metric has samples on every workload
            b.maintain(trigger=2)
        want = check(b, st)
        tracer.enabled = False
        b.resolve_read_amp(want)
        write_amp, space_amp = b.amplification(want)
        env = environment(args.seed)
    finally:
        rss.stop()
        if spark is not None:
            stop_spark(spark)

    lat = {k: [s for s, _ in v] for k, v in b.lat.items()}
    untraced = {k: [s for s, tr in v if not tr] for k, v in b.lat.items()}
    primary = [s for k in kinds for s in untraced.get(k, [])]
    window = b.throughput_window()
    n_primary = sum(window["ops"].get(k, 0) for k in kinds)
    ms = lambda xs: 1e3 * W.median(xs)  # noqa: E731
    # a workload with two op kinds alternates them: its op median and
    # tail are the means of the per-kind ones, which a pooled median of
    # two unlike distributions would not be
    op_p50 = statistics.fmean(ms(untraced.get(k, [])) for k in kinds)
    op_tail = statistics.fmean(1e3 * tail(untraced.get(k, []))[1] for k in kinds)
    m = {
        "setup_s": (setup_s, "s"),
        "op_p50_ms": (op_p50, "ms"),
        "op_tail_ms": (op_tail, "ms"),
        "ops_per_s": (n_primary / window["time"], "1/s"),
        "write_amp": (write_amp, "ratio"),
        "space_amp": (space_amp, "ratio"),
    }
    report = dict(m)
    samples, tails = {"op": len(primary)}, {}
    for kind, xs in sorted(lat.items()):
        samples[kind] = len(xs)
        label, value = tail(xs)
        tails[kind] = label
        report[f"{kind}_p50_ms"] = (ms(xs), "ms")
        report[f"{kind}_tail_ms"] = (1e3 * value, "ms")
    if args.workload == "cdc_ingest":
        report["ingest_rows_per_s"] = (window["rows"] / window["time"], "rows/s")
    report["peak_rss_mb"] = (rss.peak / 2**20, "MB")
    report["spark_boot_s"] = (boot_s, "s")
    report["fixture_s"] = (fixture_s, "s")
    report["warmup_s"] = (warmup_s, "s")
    report["input_gen_s"] = (gen_s, "s")
    report["failed_op_ratio"] = (b.failed / max(b.attempted, 1), "ratio")
    report["loop_wall_s"] = (loop_wall, "s")

    layer = {}
    if args.trace:
        traced = [s for k in kinds for s, tr in b.lat.get(k, []) if tr]
        over = 100.0 * (W.median(traced) / W.median(primary) - 1) if traced and primary else 0.0
        extra = {
            "session.spark_boot_s": boot_s,
            "setup.fixture_s": fixture_s,
            "setup.warmup_s": warmup_s,
            "trace.overhead_pct": over,
        }
        for name, unit in LAYER_UNITS.items():
            v = extra[name] if name in extra else W.median(b.layer_samples(name))
            layer[name] = (v, unit)
        os.makedirs(os.path.join(work_root, "traces"), exist_ok=True)
        tracer.dump(
            os.path.join(work_root, "traces", f"{args.workload}-seed{args.seed}.json"),
            t_loop,
        )

    fmt = lambda d: {k: {"value": v, "unit": u} for k, (v, u) in d.items()}  # noqa: E731
    full = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "samples": samples,
        "tail_percentile": tails,
        "latencies_ms": {k: [round(1e3 * x, 3) for x in xs] for k, xs in sorted(lat.items())},
        "metrics": fmt(report),
        "per_layer": fmt(layer),
        "failures": b.failures,
    }
    os.makedirs(os.path.join(work_root, "results"), exist_ok=True)
    with open(
        os.path.join(
            work_root,
            "results",
            f"{args.workload}-seed{args.seed}-trace{args.trace}.json",
        ),
        "w",
    ) as f:
        json.dump(full, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": full}))
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": fmt(layer if args.trace else m),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
