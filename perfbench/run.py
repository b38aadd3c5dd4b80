#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload read_mix --seed 1 --seconds 5 --trace 0

Run from the repository root. The run

1. generates the seed's inputs (``perfbench/gen.py``) and caches the
   DuckDB oracle answers, once per seed, under ``.bench_data/``;
2. starts the tuned session (``session.get_spark``) on ``local[nproc]``
   and makes untimed warm-up passes over the workload's inputs (three
   full passes for ``read_mix``), so JIT and per-data memos
   (``catalog._TABLE_CACHE``, trained centroids, PQ codebooks) fill
   during set-up;
3. repeats timed passes until ``--seconds`` have elapsed (at least one);
   each op starts only after the previous one finished;
4. checks every op's output against its oracle, outside the timed
   window, and prints one JSON line of metrics last. A pass in which an
   op raised is left out of every timing metric.

``--trace 1`` adds the per-layer view: Spark's event log, a /proc
sampler and wrappers around the package's public entry points.
Everything the run writes stays under ``.bench_data/`` and
``.bench_work/`` in the working tree.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
DATA = os.path.join(ROOT, ".bench_data")
PACKAGE = "data_warehouse_co_healthy_spark"
#: seed directories kept in .bench_data (oldest are deleted)
KEEP_SEEDS = 12
#: a run that is still going after this many seconds aborts unreported
DEADLINE_S = 175
READ_MIX_WARMUP_PASSES = 3
#: JVM heap limit (``spark.driver.memory``). The package asks for 16g;
#: 1g, Spark's own default, holds these inputs and keeps a run's memory
#: bounded on a shared machine.
DRIVER_MEM = "1g"

sys.path.insert(0, ROOT)

from perfbench import workloads as W  # noqa: E402

#: metric name -> unit; end-to-end metrics first
E2E_UNITS = {
    "setup_s": "s", "wall_s": "s", "geomean_op_s": "s",
    "rows_per_s": "1/s", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "plans.build_s": "s", "plans.build_jobs": "count",
    "driver.py_cpu_s": "s", "spark.plan_s": "s", "spark.exec_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.slot_util": "ratio", "spark.empty_task_ratio": "ratio",
    "spark.scheduler_gap_s": "s", "spark.gc_s": "s",
    "driver.jvm_non_task_cpu_s": "s",
    "catalog.load_table_s": "s", "catalog.load_table_calls": "count",
    "catalog.table_cache_hit_ratio": "ratio",
    "catalog.spread_calls": "count", "catalog.spread_repartitions": "count",
    "sources.read_s": "s", "pipelines.run_all_s": "s",
    "writers.write_s": "s", "writers.files_written": "count",
    "writers.bytes_written": "bytes",
    "python.worker_cpu_s": "s", "python.data_sent_bytes": "bytes",
    "python.data_received_bytes": "bytes", "python.worker_peak_rss_mb": "MB",
    "streaming.triggers": "count", "streaming.jobs_per_trigger": "ratio",
    "jvm.heap_peak_mb": "MB", "jvm.non_heap_peak_mb": "MB",
    "session.get_spark_s": "s", "trace.overhead_s": "s",
    "trace.breakdown_gap_ratio": "ratio", "failed_ratio": "ratio",
    **{f"group.{g}.s": "s" for g in W.GROUPS},
    **{f"op.{n}.s": "s" for n in W.all_op_names()},
}


@dataclass
class OpRun:
    """One timed op: its perf-counter split and wall-clock marks (epoch s:
    start, builder end, end) for attributing Spark jobs to it."""
    name: str
    build: float = 0.0
    plan: float = 0.0
    exec: float = 0.0
    wall: float = 0.0
    marks: tuple = ()
    phases_s: float = 0.0
    error: str | None = None
    df: object = None


@dataclass
class Pass:
    ops: list[OpRun] = field(default_factory=list)
    wall: float = 0.0
    run_all_s: float = 0.0
    out_dir: str | None = None
    steps: list[tuple[str, tuple]] = field(default_factory=list)


# --------------------------------------------------------------------------
# environment and inputs
# --------------------------------------------------------------------------


def configure_env() -> None:
    """Keep every file the run (and the JVM and Python workers it
    starts) writes inside the working tree, and put the repository on
    the workers' import path."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ.update({
        # every JVM, the launcher's included: no hsperfdata, temp in tree
        "JAVA_TOOL_OPTIONS": " ".join(
            filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), java_opts))),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_STREAM_TMP": os.path.join(WORK, "stream"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": ROOT + (os.pathsep + old if old else ""),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    tempfile.tempdir = None  # re-read TMPDIR


def seed_dir(seed: int) -> str:
    return os.path.join(
        DATA, f"sf{W.TPCH_SF}-u{W.CO_USERS}-seed{seed}")


def prepare_inputs(seed: int) -> dict:
    """Generate the seed's tables and oracle answers unless cached;
    return the READY manifest ({family: {table: [rows, bytes]}})."""
    d = seed_dir(seed)
    ready = os.path.join(d, "READY.json")
    if not os.path.exists(ready):
        shutil.rmtree(d, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "perfbench", "gen.py"), d,
             "--seed", str(seed)],
            check=True, stdout=subprocess.DEVNULL, cwd=ROOT,
        )
    os.utime(d)
    olds = sorted(
        (os.path.join(DATA, x) for x in os.listdir(DATA)),
        key=os.path.getmtime,
    )
    for old in olds[:-KEEP_SEEDS]:
        shutil.rmtree(old, ignore_errors=True)
    with open(ready) as fh:
        return json.load(fh)


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------


def start_session(trace: bool):
    from data_warehouse_co_healthy_spark.session import get_spark  # noqa: PLC0415

    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(WORK, "eventlog")
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=os.cpu_count(), extra_conf=conf)
    return spark, time.perf_counter() - t0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def jvm_peak_mb(spark) -> tuple[float, float]:
    """(heap, non-heap) peak use of the JVM in MB: the sum over its
    memory pools of each pool's peak used bytes since the JVM started."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    peaks = {"HEAP": 0, "NON_HEAP": 0}
    for pool in mf.getMemoryPoolMXBeans():
        peaks[pool.getType().name()] += pool.getPeakUsage().getUsed()
    return peaks["HEAP"] / 2**20, peaks["NON_HEAP"] / 2**20


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM (which takes its Python workers
    with it), and wait for it to exit."""
    from pyspark import SparkContext  # noqa: PLC0415

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = gw.proc
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# --------------------------------------------------------------------------
# passes
# --------------------------------------------------------------------------


def plan_phase_s(df) -> float:
    """Analysis + optimization + planning time that Catalyst's
    QueryPlanningTracker recorded for ``df``."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for p in ("analysis", "optimization", "planning"):
        opt = phases.get(p)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1e3


def run_registry_op(spark, name: str, fn, data_dir: str,
                    trace: bool) -> OpRun:
    """Three timed calls: the builder, Catalyst planning of the frame it
    returns, and a ``noop`` write that computes every output column."""
    r = OpRun(name)
    w0 = time.time()
    t0 = time.perf_counter()
    t1 = w1 = None
    try:
        df = fn(spark, data_dir)
        t1, w1 = time.perf_counter(), time.time()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        if trace:
            r.phases_s = plan_phase_s(df)
        t2b = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
        r.build, r.plan, r.exec = t1 - t0, t2 - t1, t3 - t2b
        r.df = df
    except Exception:  # noqa: BLE001 - one op failing must not end the run
        t3 = time.perf_counter()
        r.error = traceback.format_exc(limit=3)
    w3 = time.time()
    r.wall = t3 - t0
    r.marks = (w0, w1 or w3, w3)
    return r


def registry_pass(spark, queries: dict, data_dir: str, trace: bool,
                  names: list[str] | None = None) -> Pass:
    p = Pass()
    t0 = time.perf_counter()
    for name in names or W.ops("read_mix"):
        p.ops.append(run_registry_op(spark, name, queries[name], data_dir,
                                     trace))
    p.wall = time.perf_counter() - t0
    return p


def read_sources(spark, co_dir: str) -> dict:
    """The 17 CO source tables, read with their declared schemas."""
    from data_warehouse_co_healthy_spark.schemas import REFERENCE  # noqa: PLC0415
    from data_warehouse_co_healthy_spark.sources import readers  # noqa: PLC0415

    return {t: readers.read_parquet(spark, os.path.join(co_dir, f"{t}.parquet"),
                                    REFERENCE[t])
            for t in REFERENCE}


def warehouse_pass(spark, co_dir: str, out_dir: str) -> Pass:
    """Read the CO sources, build the star schema with ``run_all`` and
    write each of the 15 tables the way ``tools/run_demo.py`` does."""
    from data_warehouse_co_healthy_spark.pipelines import runner  # noqa: PLC0415
    from data_warehouse_co_healthy_spark.sources import writers  # noqa: PLC0415

    p = Pass(out_dir=out_dir)
    t0, w0 = time.perf_counter(), time.time()
    src = read_sources(spark, co_dir)
    t1, w1 = time.perf_counter(), time.time()
    tables = runner.run_all(spark, src)
    t2, w2 = time.perf_counter(), time.time()
    p.run_all_s = t2 - t1
    p.steps = [("_read", (w0, w0, w1)), ("_run_all", (w1, w1, w2))]
    for name in W.WAREHOUSE_TABLES:
        df = tables[name]
        part = ("fecha",) if "fecha" in df.columns else ()
        r = OpRun(name)
        ws, ts = time.time(), time.perf_counter()
        try:
            writers.write_parquet(df, os.path.join(out_dir, name),
                                  partition_by=part)
        except Exception:  # noqa: BLE001 - counted as a failed op
            r.error = traceback.format_exc(limit=3)
        r.wall = r.exec = time.perf_counter() - ts
        r.marks = (ws, ws, time.time())
        p.ops.append(r)
    p.wall = time.perf_counter() - t0
    return p


def warm_up(spark, workload: str, queries, data_dir: str) -> None:
    """Untimed passes over the workload's inputs. For ``read_mix`` these
    are ``READ_MIX_WARMUP_PASSES`` full passes over its ops: per-op times
    keep falling for several passes while the JIT compiles, and a timed
    window that starts on that slope measures JIT progress rather than
    the ops. For ``warehouse_build`` it is ``run_all`` with the four
    facts sent to the ``noop`` sink, which reads every source table, plus
    one year of ``dim_fecha`` written partitioned, so the partitioned
    parquet write path is warm; a full warehouse pass costs too much to
    repeat."""
    if workload == "read_mix":
        for _ in range(READ_MIX_WARMUP_PASSES):
            p = registry_pass(spark, queries, data_dir, trace=False)
            print("warm-up " + ", ".join(f"{r.name} {r.wall:.2f}"
                                         for r in p.ops), file=sys.stderr)
        return
    from data_warehouse_co_healthy_spark.pipelines import runner  # noqa: PLC0415
    from data_warehouse_co_healthy_spark.sources import writers  # noqa: PLC0415

    tables = runner.run_all(spark, read_sources(spark, os.path.join(data_dir, "co")))
    for name in W.WAREHOUSE_TABLES:
        if name.startswith("fact_"):
            tables[name].write.format("noop").mode("overwrite").save()
    warm = os.path.join(WORK, "warm")
    writers.write_parquet(tables["dim_fecha"].filter("anio = 2006"), warm,
                          partition_by=("fecha",))
    shutil.rmtree(warm, ignore_errors=True)
    spark.catalog.clearCache()


# --------------------------------------------------------------------------
# output check
# --------------------------------------------------------------------------


def count_failures(passes: list[Pass],
                   problems: dict[str, list[str]]) -> tuple[int, int]:
    """(attempted, failed): every timed op run is an attempt; a run that
    raised fails, and so does each op whose checked output mismatched."""
    attempted = sum(len(p.ops) for p in passes)
    raised = sum(r.error is not None for p in passes for r in p.ops)
    return attempted, raised + sum(bool(v) for v in problems.values())


def check_outputs(workload: str, last: Pass, data_dir: str) -> dict[str, list[str]]:
    """{op: problems} for the last timed pass; an op that raised during
    the timed passes is reported by the caller instead."""
    from perfbench import check  # noqa: PLC0415

    if workload == "warehouse_build":
        return check.check_warehouse(last.out_dir, os.path.join(data_dir, "co"))
    problems = {}
    oracle_dir = os.path.join(data_dir, "oracle")
    for r in last.ops:
        if r.error is not None:
            continue
        try:
            problems[r.name] = check.check_op(r.name, r.df.toPandas(), oracle_dir)
        except Exception as e:  # noqa: BLE001 - a failed check is a failed op
            problems[r.name] = [f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"]
    return problems


# --------------------------------------------------------------------------
# metrics
# --------------------------------------------------------------------------


def clean_passes(passes: list[Pass]) -> list[Pass]:
    """The passes in which no op raised. Only these are timed: an op
    that fails early must not read as a fast one."""
    return [p for p in passes if all(r.error is None for r in p.ops)]


def e2e_times(passes: list[Pass]) -> tuple[float, float] | None:
    """(wall_s, geomean_op_s) over the clean passes, None if none."""
    timed = clean_passes(passes)
    if not timed:
        return None
    medians = op_medians(timed)
    return (statistics.median(p.wall for p in timed),
            math.exp(statistics.fmean(
                math.log(max(v, 1e-9)) for v in medians.values())))


def op_medians(passes: list[Pass]) -> dict[str, float]:
    per: dict[str, list[float]] = {}
    for p in passes:
        for r in p.ops:
            per.setdefault(r.name, []).append(r.wall)
    return {n: statistics.median(v) for n, v in per.items()}


def input_rows(workload: str, manifest: dict) -> int:
    family, tables = W.input_tables(workload)
    return sum(manifest[family][t][0] for t in tables)


def dir_usage(path: str) -> tuple[int, int]:
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(base, n))
    return files, size


def layer_metrics(passes: list[Pass], tracer, ev, cpu0, cpu1, sampler,
                  jvm_peak: tuple[float, float], get_spark_s: float,
                  overhead_s: float | None,
                  failed_ratio: float) -> dict[str, float]:
    """Per-layer metrics of a traced run, per clean timed pass. ``ev``
    holds the event totals of the clean passes' ops. Process CPU and
    the wrappers' counters cover the whole timed window and are averaged
    over all passes. With no clean pass, only the untimed metrics are
    reported."""
    from perfbench.trace import EventTotals  # noqa: PLC0415

    files, size = dir_usage(passes[-1].out_dir) if passes[-1].out_dir else (0, 0)
    m = {
        "writers.files_written": files,
        "writers.bytes_written": size,
        "python.worker_peak_rss_mb": sampler.worker_peak_rss / 2**20,
        "jvm.heap_peak_mb": jvm_peak[0],
        "jvm.non_heap_peak_mb": jvm_peak[1],
        "session.get_spark_s": get_spark_s,
        "failed_ratio": failed_ratio,
    }
    n_all, passes = len(passes), clean_passes(passes)
    if not passes:
        return m
    n = len(passes)
    tot = EventTotals()
    for t in ev.values():
        for k, v in vars(t).items():
            if k == "triggers":
                tot.triggers |= v
            else:
                setattr(tot, k, getattr(tot, k) + v)
    ops = [r for p in passes for r in p.ops]
    s = tracer.stats
    medians = op_medians(passes)
    cores = os.cpu_count()
    gaps = [abs(r.wall - (r.build + r.plan + r.exec)) / r.wall
            for r in ops if r.wall > 0]
    m |= {
        "plans.build_s": sum(r.build for r in ops) / n,
        "plans.build_jobs": tot.build_jobs / n,
        "driver.py_cpu_s": (cpu1["driver"] - cpu0["driver"]) / n_all,
        "spark.plan_s": sum(r.phases_s for r in ops) / n,
        "spark.exec_s": tot.exec_s / n,
        "spark.executor_run_s": tot.run_s / n,
        "spark.executor_cpu_s": tot.cpu_s / n,
        "spark.shuffle_read_bytes": tot.shuffle_read / n,
        "spark.shuffle_write_bytes": tot.shuffle_write / n,
        "spark.spill_bytes": tot.spill / n,
        "spark.jobs": tot.jobs / n,
        "spark.stages": tot.stages / n,
        "spark.tasks": tot.tasks / n,
        "spark.slot_util": (tot.run_s / (tot.exec_s * cores)
                            if tot.exec_s else 0.0),
        "spark.empty_task_ratio": (tot.empty_tasks / tot.tasks
                                   if tot.tasks else 0.0),
        "spark.scheduler_gap_s": tot.gap_s / n,
        "spark.gc_s": tot.gc_s / n,
        "driver.jvm_non_task_cpu_s":
            (cpu1["jvm"] - cpu0["jvm"]) / n_all - tot.cpu_s / n,
        "catalog.load_table_s": s["catalog.load_table_s"] / n_all,
        "catalog.load_table_calls": s["catalog.load_table_calls"] / n_all,
        "catalog.table_cache_hit_ratio": (
            s["catalog.table_cache_hits"] / s["catalog.load_table_calls"]
            if s["catalog.load_table_calls"] else 0.0),
        "catalog.spread_calls": s["catalog.spread_calls"] / n_all,
        "catalog.spread_repartitions": s["catalog.spread_repartitions"] / n_all,
        "sources.read_s": s["sources.read_s"] / n_all,
        "pipelines.run_all_s": sum(p.run_all_s for p in passes) / n,
        "writers.write_s": s["writers.write_s"] / n_all,
        "python.worker_cpu_s": (cpu1["workers"] - cpu0["workers"]) / n_all,
        "python.data_sent_bytes": tot.py_sent / n,
        "python.data_received_bytes": tot.py_recv / n,
        "streaming.triggers": len(tot.triggers) / n,
        "streaming.jobs_per_trigger": (tot.stream_jobs / len(tot.triggers)
                                       if tot.triggers else 0.0),
        "trace.overhead_s": overhead_s,
        "trace.breakdown_gap_ratio": max(gaps, default=0.0),
    }
    group_of = {name: g for name, g, _ in W.READ_MIX}
    for g in W.GROUPS:
        m[f"group.{g}.s"] = sum(v for k, v in medians.items()
                                if group_of.get(k) == g)
    for name in W.all_op_names():
        m[f"op.{name}.s"] = medians.get(name, 0.0)
    return m


def untraced_wall(workload: str) -> float | None:
    """wall_s of the latest untraced run of this workload in this tree."""
    try:
        with open(os.path.join(WORK, f"untraced-{workload}.json")) as fh:
            return json.load(fh)["wall_s"]
    except FileNotFoundError:
        return None


# --------------------------------------------------------------------------
# main
# --------------------------------------------------------------------------


def run(args) -> dict:
    trace = bool(args.trace)
    configure_env()
    t_prep = time.perf_counter()
    manifest = prepare_inputs(args.seed)
    excluded = time.perf_counter() - t_prep  # not part of set-up
    data_dir = seed_dir(args.seed)
    print(f"inputs ready in {excluded:.2f} s: {data_dir}", file=sys.stderr)

    import __spark_entry__ as entry  # noqa: PLC0415

    from perfbench import trace as tr  # noqa: PLC0415

    queries = entry.queries()
    spark, get_spark_s = start_session(trace)
    print(f"session up at {time.perf_counter() - T_PROCESS - excluded:.2f} s "
          f"(get_spark {get_spark_s:.2f} s)", file=sys.stderr)
    tracer = tr.Wrappers()
    try:
        pid = jvm_pid(spark)
        if trace:
            tracer.install()
        tpch_dir = os.path.join(data_dir, "tpch")
        warm_up(spark, args.workload, queries,
                tpch_dir if args.workload == "read_mix" else data_dir)

        out_root = os.path.join(WORK, "out")
        shutil.rmtree(out_root, ignore_errors=True)
        sampler = tr.Sampler(pid)
        passes: list[Pass] = []
        spark.catalog.clearCache()
        # flush what set-up wrote, so its writeback does not land in the
        # timed window; the flush is not counted as set-up
        t_sync = time.perf_counter()
        os.sync()
        t_timed = time.perf_counter()
        setup_s = t_sync - T_PROCESS - excluded
        if trace:
            cpu0 = tr.cpu_snapshot(pid)
            sampler.start()
            tracer.active = True
        while True:
            if args.workload == "read_mix":
                p = registry_pass(spark, queries, tpch_dir, trace)
            else:
                p = warehouse_pass(spark, os.path.join(data_dir, "co"),
                                   os.path.join(out_root, f"pass{len(passes)}"))
            passes.append(p)
            if time.perf_counter() - t_timed >= args.seconds:
                break
            spark.catalog.clearCache()
        if trace:
            tracer.active = False
            sampler.stop()
            cpu1 = tr.cpu_snapshot(pid)
        rss = tr.peak_rss_mb(os.getpid()), tr.peak_rss_mb(pid)
        jvm_peak = jvm_peak_mb(spark)
        print(f"peak rss: driver {rss[0]:.0f} MB, jvm {rss[1]:.0f} MB; "
              f"jvm peak use: heap {jvm_peak[0]:.0f} MB, "
              f"non-heap {jvm_peak[1]:.0f} MB", file=sys.stderr)
        for p in passes[:-1]:
            if p.out_dir:
                shutil.rmtree(p.out_dir, ignore_errors=True)

        t_check = time.perf_counter()
        raised = [r for p in passes for r in p.ops if r.error is not None]
        for r in raised:
            print(f"FAILED {r.name}:\n{r.error}", file=sys.stderr)
        problems = check_outputs(args.workload, passes[-1], data_dir)
        print(f"checked in {time.perf_counter() - t_check:.2f} s", file=sys.stderr)
        mismatched = {k: v for k, v in problems.items() if v}
        for name, msgs in mismatched.items():
            print(f"MISMATCH {name}: {'; '.join(msgs)}", file=sys.stderr)
        attempted, failed = count_failures(passes, problems)
        failed_ratio = failed / attempted
    finally:  # the JVM (and its Python workers) never outlive the run
        tracer.uninstall()
        stop_jvm(spark)
    print(f"setup {setup_s:.2f} s, timed {t_check - t_timed:.2f} s, "
          f"check+stop {time.perf_counter() - t_check:.2f} s", file=sys.stderr)

    times = e2e_times(passes)
    wall_s = times[0] if times else None
    metrics = {"setup_s": setup_s, "peak_rss_mb": sum(rss)}
    if times:
        metrics |= {
            "wall_s": wall_s,
            "geomean_op_s": times[1],
            "rows_per_s": input_rows(args.workload, manifest) / wall_s,
        }
    for i, p in enumerate(passes):
        print(f"pass {i}: {p.wall:.3f} s", file=sys.stderr)
        for r in p.ops:
            print(f"  {r.name:32s} wall {r.wall:7.3f}  build {r.build:6.3f}"
                  f"  plan {r.plan:6.3f}  exec {r.exec:6.3f}", file=sys.stderr)
    if trace:
        windows = [tr.Window(r.name, *(x * 1e3 for x in r.marks))
                   for p in clean_passes(passes) for r in p.ops]
        windows += [tr.Window(name, *(x * 1e3 for x in marks))
                    for p in clean_passes(passes) for name, marks in p.steps]
        base_wall = untraced_wall(args.workload)
        if base_wall is None:
            print("no untraced run of this workload yet: "
                  "trace.overhead_s reads 0", file=sys.stderr)
        ev = tr.parse_event_log(os.path.join(WORK, "eventlog"), windows)
        metrics = layer_metrics(
            passes, tracer, ev, cpu0, cpu1, sampler, jvm_peak,
            get_spark_s, wall_s - (base_wall or wall_s) if times else None,
            failed_ratio)
        units = LAYER_UNITS
    else:
        if times:
            with open(os.path.join(WORK, f"untraced-{args.workload}.json"),
                      "w") as fh:
                json.dump({"seed": args.seed, "wall_s": wall_s}, fh)
        units = E2E_UNITS
    shutil.rmtree(out_root, ignore_errors=True)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # a timing with no clean pass to measure it reads null
        "metrics": {k: {"value": metrics.get(k), "unit": u}
                    for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=W.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found under {ROOT}: nothing to benchmark",
              file=sys.stderr)
        return 2

    def _deadline(signum, frame):
        raise TimeoutError(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    result = run(args)
    signal.alarm(0)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
