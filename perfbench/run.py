"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload sql_relational --seed 1 --seconds 12 --trace 0

Run from the repository root.  The run generates its inputs from the
seed, sets up a Spark session three times (the median is ``setup_s``),
warms up untimed (two sweeps, or one lake ingest on a small table), then
runs whole rounds (a shuffled sweep of the workload's operations, or one
lake cycle) until ``--seconds`` have passed.  Every fetched result is checked; the last line of standard
output is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``).  A full record, and with ``--trace 1`` the spans,
go to ``perfbench/_runs/``.  Load is a closed loop: one client, each
operation waits for the previous one.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from typing import Any

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("sql_relational", "doc_curation", "lake_ingest")
SETUP_REPEATS = 3
SCALE = {"full": {"sf": 0.01, "lake_rows": 2000}, "tiny": {"sf": 0.001, "lake_rows": 200}}
LAKE_WARM_ROWS = 100
# after one warm-up sweep the next sweep was often 14-93% slower than the
# one after it, so query workloads warm up for two
WARMUP_SWEEPS = 2
# a slow host still times two sweeps, so every query has two samples
MIN_TIMED_SWEEPS = 2


def _process_start() -> float:
    """Wall-clock start of this process, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as fh:
        btime = next(int(line.split()[1]) for line in fh if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 4096


def _proc_cpu_s(pids: set[int]) -> float:
    """CPU seconds (own plus reaped children) of the given processes."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / tick


def _descendants(root: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = {root}, [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole machine from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f)


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def pin_env(run_dir: str) -> dict[str, Any]:
    """Environment every run pins before the JVM starts."""
    # half the CPUs for Spark's task threads: the rest absorb the JVM's
    # compiler and GC threads and the Python driver, so a run does not
    # queue behind its own helper threads on a shared host
    nproc = len(os.sched_getaffinity(0))
    cpus = max(1, nproc // 2)
    mem_mb = _mem_total_mb()
    heap_mb = min(4096, max(1024, mem_mb // 16))
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # every JVM the launch starts (spark-submit's launcher too) keeps its
    # temporary files in the run directory, and sizes its compiler and GC
    # thread pools for the CPUs Spark uses
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:ActiveProcessorCount={cpus}"
    )
    # Python workers import the package by name (pandas UDF closures)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.pop("SPARK_MASTER", None)
    return {"nproc": nproc, "cpus": cpus, "mem_total_mb": mem_mb, "driver_heap_mb": heap_mb}


class Ctx:
    """State of one run: session, tracer, directories, op numbering."""

    def __init__(self, run_dir: str, tracer: Any) -> None:
        self.run_dir = run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.tracer = tracer
        self.spark = None
        self.stopped: list[Any] = []
        self.op_kinds: dict[int, str] = {}
        self._op = 0

    def next_op_id(self) -> int:
        self._op += 1
        return self._op

    def conf(self) -> dict[str, str]:
        c = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
        }
        if self.tracer.enabled:
            ev = os.path.join(self.run_dir, "events")
            os.makedirs(ev, exist_ok=True)
            c.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": ev,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return c

    def start_session(self) -> None:
        import aws_sdk_pandas_spark as asps

        self.spark = asps.get_spark(app_name="perfbench", extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer.sc = self.spark.sparkContext

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            # the registry memoizes view registration by session id: keep
            # stopped sessions alive so a new session never reuses an id
            self.stopped.append(self.spark)
            self.spark = None

    def jvm_pid(self) -> int:
        return int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())

    def persisted_rdds(self) -> int:
        return int(self.spark.sparkContext._jsc.getPersistentRDDs().size())


def shutdown_jvm() -> None:
    """Close the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ---------------------------------------------------------------------------
# set-up and rounds
# ---------------------------------------------------------------------------


def setup_once(ctx: Ctx, workload: str, fns: dict[str, Any]) -> None:
    """Session and one probe operation; the registry's SQL entries
    register their views on first use, so a SQL probe covers that."""
    from workloads import PROBE

    ctx.start_session()
    if workload == "lake_ingest":
        from aws_sdk_pandas_spark import lakehouse
        from aws_sdk_pandas_spark.sources import read_parquet, to_parquet

        # first use of the write path: land, commit and read 5 rows
        probe = os.path.join(ctx.run_dir, "lake_probe", str(ctx.next_op_id()))
        region = read_parquet(ctx.spark, f"{ctx.data_dir}/region.parquet")
        to_parquet(region, f"{probe}/landing", dataset=True, partition_cols=["r_regionkey"])
        lakehouse.to_deltalake(region, f"{probe}/table", mode="append")
        lakehouse.read_deltalake(ctx.spark, f"{probe}/table").toPandas()
        return
    fns[PROBE[workload]](ctx.spark, ctx.data_dir).toPandas()


def between_rounds(ctx: Ctx, phase: Any) -> None:
    """Read the caches a round left behind (traced runs), then release
    them so one round's leaks do not change the next."""
    if ctx.tracer.enabled:
        phase.persisted_left.append(ctx.persisted_rdds())
    ctx.spark.catalog.clearCache()


def query_rounds(ctx: Ctx, fns: dict[str, Any], order_rng: random.Random,
                 seconds: float, phase: Any, min_rounds: int = 1) -> None:
    """Shuffled sweeps of every operation until ``seconds`` have passed
    and at least ``min_rounds`` sweeps ran (whole sweeps only)."""
    from workloads import run_query

    names = sorted(fns)
    t_start = time.perf_counter()
    while True:
        order = names[:]
        order_rng.shuffle(order)
        t0 = time.perf_counter()
        for name in order:
            phase.results.append(run_query(ctx, ctx.next_op_id(), name, fns[name]))
        phase.rounds.append(time.perf_counter() - t0)
        between_rounds(ctx, phase)
        if len(phase.rounds) >= min_rounds and time.perf_counter() - t_start >= seconds:
            break
    phase.wall_s = time.perf_counter() - t_start


def lake_rounds(ctx: Ctx, lake: Any, seconds: float) -> None:
    """Whole lake cycles until ``seconds`` have passed."""
    phase = lake.phase
    t_start = time.perf_counter()
    while True:
        t0 = time.perf_counter()
        phase.rows_committed += lake.cycle()
        phase.rounds.append(time.perf_counter() - t0)
        between_rounds(ctx, phase)
        if time.perf_counter() - t_start >= seconds:
            break
    phase.wall_s = time.perf_counter() - t_start


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def check_queries(ctx: Ctx, phase: Any) -> tuple[list[tuple[str, str]], dict[str, Any]]:
    """Every fetched result against DuckDB's ``oracle_sql()`` (or, for
    ``dedup_minhash_lsh``, the exact-Jaccard check and the run's first
    hash).  Returns (operation, reason) per wrong result, and the pinned
    (rows, hash) of results that have no oracle."""
    import __spark_entry__ as entry
    import pandas as pd

    from checks import check_minhash, frame_hash, frames_match, oracle_frames
    from datagen import TABLES

    names = sorted({r.name for r in phase.results})
    sqls = entry.oracle_sql()
    want = oracle_frames(ctx.data_dir, TABLES, {n: sqls[n] for n in names if n in sqls})
    want_hash = {n: frame_hash(df) for n, df in want.items()}
    failures: list[tuple[str, str]] = []
    first_hash: dict[str, tuple[int, str]] = {}
    verified: set[tuple[str, tuple[int, str]]] = set()
    for r in phase.results:
        if r.error is not None:
            failures.append((r.name, r.error))
            continue
        h = frame_hash(r.frame)
        if r.name in want:
            if h != want_hash[r.name] and (r.name, h) not in verified:
                why = frames_match(r.frame, want[r.name])
                if why:
                    failures.append((r.name, why))
                    continue
                verified.add((r.name, h))
        elif r.name == "dedup_minhash_lsh":
            if r.name not in first_hash:
                docs = pd.read_parquet(f"{ctx.data_dir}/documents.parquet")
                why = check_minhash(r.frame, docs)
                if why:
                    failures.append((r.name, why))
                    continue
                first_hash[r.name] = h
            elif h != first_hash[r.name]:
                failures.append((r.name, f"hash {h} differs from first run {first_hash[r.name]}"))
        else:
            failures.append((r.name, "no check defined"))
    return failures, first_hash


def check_lake(lake: Any) -> list[tuple[str, str]]:
    from checks import lake_match

    failures = []
    for r in lake.phase.results:
        if r.error is not None:
            failures.append((r.name, r.error))
        elif r.expected is not None:
            why = lake_match(r.frame, r.expected)
            if why:
                failures.append((r.name, why))
    return failures


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def tail(latencies: list[float]) -> tuple[float, float, int]:
    """(latency, percentile, samples) for the tail: the highest percentile
    with at least 10 samples beyond it (interpolated).  Below 21 samples
    no percentile at or above the median has that support, and the 90th
    is reported instead; the record keeps the percentile and the count."""
    xs = sorted(latencies)
    n = len(xs)
    p = (n - 10) / n
    if p < 0.5:
        p = 0.9
    pos = p * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), 100.0 * p, n


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def layer_metrics(ctx: Ctx, phase: Any, lake: Any, event_totals: dict[str, dict[str, int]]) -> dict[str, float]:
    tr = ctx.tracer
    ops = {r.op_id for r in phase.results}
    n_ops = max(1, len(ops))
    kinds = ctx.op_kinds

    def med(name: str, only: set[int] | None = None) -> float:
        return _median(tr.durations(name, only if only is not None else ops))

    def per_call(name: str, only: set[int] | None = None) -> tuple[float, float, float]:
        calls, jobs, stages, tasks = tr.group_totals(name, only if only is not None else ops)
        c = max(1, calls)
        return jobs / c, stages / c, tasks / c

    m: dict[str, float] = {}
    m["operators.build_s"] = med("operators.build")
    m["operators.build_jobs"] = per_call("operators.build")[0]
    m["sql.read_sql_query_s"] = med("sql.read_sql_query")
    m["exec.fetch_s"] = med("exec.fetch")
    m["exec.jobs"], m["exec.stages"], m["exec.tasks"] = per_call("exec.fetch")
    ev: dict[str, float] = {}
    for group, vals in event_totals.items():
        try:
            op = int(group.split(".", 1)[0][2:])
        except ValueError:
            continue
        if op in ops:
            for k, v in vals.items():
                ev[k] = ev.get(k, 0) + v
    m["exec.executor_run_s"] = ev.get("executor_run_ms", 0) / 1000.0 / n_ops
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_bytes"):
        m[f"exec.{k}"] = ev.get(k, 0) / n_ops
    m["cache.persisted_rdds_left"] = (
        sum(phase.persisted_left) / len(phase.persisted_left) if phase.persisted_left else 0.0
    )
    m["sources.to_parquet_s"] = med("sources.to_parquet")
    m["sources.read_parquet_s"] = med("sources.read_parquet")
    for name in ("append", "merge_cow", "merge_dv", "delete_dv", "compact", "read_build"):
        m[f"lakehouse.{name}_s"] = med(f"lakehouse.{name}")
    m["delta_log.read_delta_log_s"] = med("delta_log.read_delta_log")
    reads = {o for o in ops if kinds.get(o, "").startswith("read_") and kinds[o] != "read_landing"}
    m["lakehouse.read_fetch_s"] = med("exec.fetch", reads)
    merges = [per_call(f"lakehouse.merge_{k}") for k in ("cow", "dv")]
    calls = [tr.group_totals(f"lakehouse.merge_{k}", ops)[0] for k in ("cow", "dv")]
    m["lakehouse.jobs_per_merge"] = (
        sum(j[0] * c for j, c in zip(merges, calls)) / max(1, sum(calls))
    )
    rb_calls, rb_jobs, _, _ = tr.group_totals("lakehouse.read_build", reads)
    _, f_jobs, _, _ = tr.group_totals("exec.fetch", reads)
    m["lakehouse.jobs_per_read"] = (rb_jobs + f_jobs) / max(1, rb_calls)
    if lake is not None:
        from aws_sdk_pandas_spark import delta_log, lakehouse_shim

        from workloads import dir_bytes

        rewritten = sum(r["files_rewritten"] for r in lake.merge_returns)
        kept = sum(r["files_kept"] for r in lake.merge_returns)
        m["lakehouse.files_rewritten_frac"] = rewritten / max(1, rewritten + kept)
        m["lakehouse.live_files"] = float(lakehouse_shim.files_scanned(lake.table, [])[1])
        m["lakehouse.log_bytes"] = float(
            dir_bytes(os.path.join(lake.table, "_delta_log"))
            + dir_bytes(os.path.join(lake.table, "_lakelite"))
        )
        m["lakehouse.versions"] = float(max(delta_log.delta_versions(lake.table)) + 1)
        m["sources.files_written"] = sum(lake.files_written) / max(1, len(lake.files_written))
        m["lakehouse.stored_bytes_per_user_byte"] = (
            (dir_bytes(lake.table) + dir_bytes(lake.landing)) / max(1, lake.user_bytes)
        )
    else:
        for k in ("files_rewritten_frac", "live_files", "log_bytes", "versions",
                  "stored_bytes_per_user_byte"):
            m[f"lakehouse.{k}"] = 0.0
        m["sources.files_written"] = 0.0
    selfs = tr.self_times(ops)
    layer_self: dict[str, float] = {}
    for name, secs in selfs.items():
        layer = "bench" if name == "op" else name.split(".", 1)[0]
        layer_self[layer] = layer_self.get(layer, 0.0) + secs
    for layer in ("bench", "operators", "sql", "sources", "exec", "lakehouse", "delta_log"):
        m[f"self.{layer}_s"] = layer_self.get(layer, 0.0) / n_ops
    m["trace.op_p50_s"] = _median([r.latency_s for r in phase.results])
    return m


def calibrate(spark: Any) -> float:
    """``bench.py``'s fixed-work calibration loop, one pass."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(400_000_000).select(
        F.sum(F.pmod(F.xxhash64(F.col("id")), F.lit(1_000_000)))
    ).collect()
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALE), default="full",
                   help="input size; 'tiny' is for the self-check")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    t_process = _process_start()
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{args.scale}"
    out_dir = os.path.join(HERE, "_runs")
    run_dir = os.path.join(out_dir, f"{tag}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    env = pin_env(run_dir)
    try:
        import pandas  # noqa: F401  (pandas_udf annotations resolve against it)
        import pyarrow
        import pyspark

        import __spark_entry__  # noqa: F401
        import aws_sdk_pandas_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    # Arrow's conversions to pandas use no more threads than Spark
    pyarrow.set_cpu_count(env["cpus"])
    try:
        return _run(args, t_process, run_dir, out_dir, tag, env, pyspark.__version__)
    finally:
        shutdown_jvm()  # no-op after a normal end; stops the JVM after an error
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args: argparse.Namespace, t_process: float, run_dir: str, out_dir: str,
         tag: str, env: dict[str, Any], pyspark_version: str) -> int:
    from datagen import make_tables, write_tables
    from tracing import Tracer, event_log_totals
    from workloads import QUERY_WORKLOADS, Lake, Phase, query_callables

    scale = SCALE[args.scale]
    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(run_dir, tracer)

    t0 = time.perf_counter()
    write_tables(make_tables(args.seed, scale["sf"]), ctx.data_dir)
    gen_s = time.perf_counter() - t0

    fns = query_callables(QUERY_WORKLOADS[args.workload], run_dir) if args.workload in QUERY_WORKLOADS else {}
    setups: list[float] = []
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        if i:
            ctx.stop_session()
        setup_once(ctx, args.workload, fns)
        setups.append(time.perf_counter() - t0)
    # the first set-up runs from process start; input generation is not set-up
    setups[0] = time.time() - t_process - gen_s - sum(setups[1:])

    import aws_sdk_pandas_spark.delta_log as delta_log_mod
    import aws_sdk_pandas_spark.sources as sources_mod
    import aws_sdk_pandas_spark.sql as sql_mod

    tracer.wrap(sql_mod, "read_sql_query", "sql.read_sql_query")
    tracer.wrap(delta_log_mod, "read_delta_log", "delta_log.read_delta_log")
    # the lake cycle spans its own read_parquet call, with a job group
    if args.workload in QUERY_WORKLOADS:
        tracer.wrap(sources_mod, "read_parquet", "sources.read_parquet")

    # untimed warm-up: sweeps of the query workload, or one ingest on a
    # small separate table (the trim stays cold: it fits no second time)
    order_rng = random.Random(args.seed)
    lake = None
    warm = Phase()
    if args.workload in QUERY_WORKLOADS:
        query_rounds(ctx, fns, order_rng, 0.0, warm, WARMUP_SWEEPS)
    else:
        warm_lake = Lake(ctx, os.path.join(run_dir, "lake_warm"), LAKE_WARM_ROWS, args.seed + 1)
        t0 = time.perf_counter()
        warm_lake.ingest()
        warm.rounds.append(time.perf_counter() - t0)
        ctx.spark.catalog.clearCache()

    pids = {os.getpid()} | _descendants(ctx.jvm_pid())
    steal0 = _steal()
    cpu0 = _proc_cpu_s(pids)
    if args.workload in QUERY_WORKLOADS:
        phase = Phase()
        query_rounds(ctx, fns, order_rng, args.seconds, phase, MIN_TIMED_SWEEPS)
    else:
        lake = Lake(ctx, os.path.join(run_dir, "lake"), scale["lake_rows"], args.seed)
        lake_rounds(ctx, lake, args.seconds)
        phase = lake.phase
    # workers that started during the phase count too
    pids |= _descendants(ctx.jvm_pid())
    cpu_s = _proc_cpu_s(pids) - cpu0
    steal = _steal()
    steal_frac = (steal[0] - steal0[0]) / max(1, steal[1] - steal0[1])
    rss = {"driver": _hwm_mb(os.getpid()), "jvm": _hwm_mb(ctx.jvm_pid())}
    tracer.unwrap()

    if lake is not None:
        failures, pinned = check_lake(lake), {}
    else:
        failures, pinned = check_queries(ctx, phase)
    calibration_s = calibrate(ctx.spark) if args.trace else None

    ctx.stop_session()
    shutdown_jvm()

    lat = [r.latency_s for r in phase.results]
    tail_v, tail_p, n = tail(lat)
    rows = phase.rows_committed if lake is not None else sum(r.rows for r in phase.results)
    attempted = len(phase.results)
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "op_tail_s": (tail_v, "s"),
        "ops_per_s": (attempted / phase.wall_s, "1/s"),
        "cpu_s_per_op": (cpu_s / attempted, "s"),
        "peak_rss_mb": (rss["driver"] + rss["jvm"], "MB"),
        "rows_per_s": (rows / phase.wall_s, "rows/s"),
    }
    record: dict[str, Any] = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "scale": args.scale, **scale,
        "env": {**env, "pyspark": pyspark_version, "calibration_s": calibration_s},
        "setup_runs_s": setups, "input_gen_s": gen_s,
        "warmup_round_s": warm.rounds,
        "rounds_s": phase.rounds, "timed_wall_s": phase.wall_s,
        "steal_frac": steal_frac, "peak_rss_parts_mb": rss,
        "tail_percentile": tail_p, "samples": n,
        "per_op": {},
        "failures": failures,
        "pinned": pinned,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        "error_rate": len(failures) / max(1, attempted),
    }
    for r in phase.results:
        record["per_op"].setdefault(r.name, []).append(round(r.latency_s, 4))

    if args.trace:
        layers = layer_metrics(ctx, phase, lake, event_log_totals(os.path.join(run_dir, "events")))
        layers["check.error_rate"] = record["error_rate"]
        record["per_layer"] = layers
        tracer.write(os.path.join(out_dir, f"{tag}-spans.jsonl"))
        metrics = {k: {"value": v, "unit": _layer_unit(k)} for k, v in layers.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for k, v in sorted(metrics.items()):
        print(f"# {k} = {v['value']:.6g} {v['unit']}", file=sys.stderr)
    if failures:
        print(f"# wrong results: {failures[:5]}", file=sys.stderr)
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "error_rate", "_per_user_byte")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
