#!/usr/bin/env python3
"""Benchmark of the CLV engine: two workloads, one closed-loop caller.

Run from the repository root:

    python3 perfbench/run.py --workload daily_cycle --seed 1 --seconds 5 --trace 0

One process runs one SparkSession on ``local[4]`` with 4 shuffle
partitions; one caller issues one operation at a time.  An operation
(op) is one registered query (function call plus ``.count()`` of the
returned plan) or one daily ``run_pipeline`` cycle.  Workloads (see
``WORKLOADS`` and NOTES.md for why each was chosen):

- ``daily_cycle``        consecutive pipeline days on a growing history;
- ``build_heavy_sf001``  fit, fixpoint and streaming queries at sf0.01,
  bound by the jobs and triggers run before the query function returns.

Each run works in its own directory under ``perfbench/_work/runs`` (own
cwd, ``TMPDIR``, JVM temp and Spark local dirs), checks every output
untimed, then times whole passes over the workload's ops: the
workload's ``passes`` at least, and more until ``--seconds`` have
passed.  The seed fixes the query order of each pass and the generator
seed of each pipeline day; the input tables are generated once per
checkout into ``perfbench/_work/data``.

Times are CPU seconds of the engine's processes (see ``CpuClock``); the
wall-clock figures are printed too, but a shared machine's load moves
them too far between runs to gate on them (NOTES.md).  ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` reports the per-layer
metrics (see tracing.py).  Human-readable lines come first; the last
stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--smoke`` shrinks every workload to a
seconds-long run (sf0.01, one timed pass) for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import dataclasses
import datetime as dt
import json
import os
import platform
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

from tracing import snapshot

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CORES = 4


@dataclasses.dataclass(frozen=True)
class Workload:
    """One workload; why each was chosen is in BENCHMARK.json and NOTES.md."""

    kind: str  # "pipeline" or "queries"
    sf: float | None
    mix: tuple[str, ...]
    #: timed passes a run makes at least (a pipeline pass is one day)
    passes: int


#: Query mix, small enough that the untimed oracle pass, the timed
#: passes and the fixed session cost fit the per-run budget (NOTES.md).
BUILD_HEAVY = ("q_hits", "q_ridge", "q_scd2_stream")

WORKLOADS = {
    "daily_cycle": Workload("pipeline", None, (), passes=6),
    "build_heavy_sf001": Workload("queries", 0.01, BUILD_HEAVY, passes=3),
}

#: untimed pipeline days before the timed cycles
WARMUP_DAYS = 2
FIRST_DAY = dt.date(2026, 1, 1)

END_TO_END = {"setup_s": "s", "op_cpu_p50_s": "s", "ops_per_cpu_s": "1/s",
              "peak_rss_mb": "MB"}

#: wrapped-layer spans (see tracing.Tracer.patch_layers) -> metric
SPAN_METRICS = {"operators.clv.fit": "operators.clv.fit_s",
                "functions.optimize": "functions.optimize.s"}

PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.exec_s": "s", "queries.exec_jobs": "count",
    "queries.build_share": "ratio",
    "session.stages": "count", "session.tasks": "count",
    "session.executor_run_s": "s", "session.executor_cpu_s": "s",
    "session.jvm_gc_s": "s",
    "session.shuffle_read_mb": "MB", "session.shuffle_write_mb": "MB",
    "session.spill_mb": "MB", "session.input_mb": "MB",
    "session.input_rows": "count",
    "session.output_mb": "MB", "session.core_idle_frac": "ratio",
    "session.start_s": "s",
    "plans.pipeline.self_s": "s", "plans.pipeline.jobs": "count",
    "operators.clv.fit_s": "s", "operators.clv.fit_rows": "count",
    "functions.optimize.evals": "count", "functions.optimize.s": "s",
    "simulate.rows": "count",
    "sources.files_written": "count", "sources.mb_written": "MB",
    "sources.write_amp": "ratio", "sources.leftover_tmp_entries": "count",
    "streaming.triggers": "count", "streaming.input_rows": "count",
    "streaming.trigger_s": "s", "streaming.add_batch_s": "s",
    "streaming.overhead_s": "s",
    "trace.op_p50_s": "s", "trace.op_cpu_p50_s": "s",
    "trace.inline_s": "s", "trace.collect_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="seconds-long sf0.01 size for the benchmark's tests")
    return ap.parse_args(argv)


# -- process-level helpers -------------------------------------------------


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_mb(pid: int) -> float:
    """Proportional set size: resident memory with pages shared between
    processes (the forked Python workers) split among them, so a sum
    over processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _stat_ticks(path: str, reaped: bool = True) -> int:
    """utime + stime (and, with ``reaped``, cutime + cstime: the CPU of
    children already waited for) from a ``/proc/.../stat`` file."""
    try:
        with open(path) as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return 0
    return sum(int(x) for x in fields[11:15 if reaped else 13])


class CpuClock:
    """CPU seconds used by the engine: this process (less the memory
    sampler's thread) plus the driver JVM and the Python workers it
    forks.  It leaves out the time the engine waits for a core, which
    neighbours on a shared machine lengthen, so it moves far less with
    their load than wall time does (NOTES.md gives both spreads)."""

    def __init__(self, sampler: "MemorySampler"):
        self.sampler = sampler
        self.tick = os.sysconf("SC_CLK_TCK")

    def __call__(self) -> float:
        me = os.getpid()
        n = _stat_ticks(f"/proc/{me}/stat")
        if self.sampler.tid is not None:
            n -= _stat_ticks(f"/proc/{me}/task/{self.sampler.tid}/stat", reaped=False)
        n += sum(_stat_ticks(f"/proc/{p}/stat") for p in _descendants(me))
        return n / self.tick


class MemorySampler(threading.Thread):
    """Peak summed resident memory (PSS) of this process's descendants,
    the driver JVM and the Python workers it forks, every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0.0
        self.tid = None
        self._halt = threading.Event()

    def run(self):
        self.tid = threading.get_native_id()
        me = os.getpid()
        while not self._halt.is_set():
            total = sum(_pss_mb(p) for p in _descendants(me))
            self.peak = max(self.peak, total)
            self._halt.wait(0.2)

    def stop(self):
        self._halt.set()
        if self.is_alive():
            self.join()


def _mem_available_gib() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemAvailable:"):
                return round(int(line.split()[1]) / 2**20, 2)
    return 0.0


def _cpu_ticks() -> list[int]:
    """The machine's cumulative CPU ticks from /proc/stat: user, nice,
    system, idle, iowait, irq, softirq, steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _steal_share(before: list[int], after: list[int]) -> float:
    """Share of busy CPU time the hypervisor gave to other guests: on a
    shared virtual machine it rises with the neighbours' load and slows
    every op, so it explains run-to-run spread the code does not cause."""
    d = [b - a for a, b in zip(before, after)]
    busy = d[0] + d[1] + d[2] + d[5] + d[6] + d[7]
    return round(d[7] / busy, 3) if busy else 0.0


def isolate(workload: str, seed: int) -> dict[str, str]:
    """Give the run its own cwd, TMPDIR, JVM temp and Spark local dirs
    (artifact paths follow ``tempfile.gettempdir()``)."""
    runs = os.path.join(WORK, "runs")
    if os.path.isdir(runs):  # left by runs that were killed
        for d in os.listdir(runs):
            if not os.path.exists(f"/proc/{d.rsplit('-', 1)[-1]}"):
                shutil.rmtree(os.path.join(runs, d), ignore_errors=True)
    root = os.path.join(runs, f"{workload}-s{seed}-{os.getpid()}")
    dirs = {k: os.path.join(root, k) for k in ("cwd", "tmp", "jvm", "data")}
    for d in dirs.values():
        os.makedirs(d)
    dirs["root"] = root
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["jvm"]
    # no hsperfdata file in the system temp dir
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={dirs['jvm']} -XX:-UsePerfData"
    os.chdir(dirs["cwd"])
    return dirs


def leftover_entries(dirs: dict[str, str]) -> int:
    return len(os.listdir(dirs["tmp"])) + len(os.listdir(dirs["cwd"]))


def box_probes(spark) -> dict[str, float]:
    """Small fixed-work box-speed probes (context, not metrics), in the
    style of bench.py's calibration: JVM codegen and shuffle.  Its third
    probe, the pandas worker round trip, is left out: starting the
    worker costs about 2 s per run that the run budget cannot spare."""
    from pyspark.sql import functions as F

    probes = {
        "jvm": lambda: spark.range(10_000_000)
        .select(F.sum((F.col("id") * 2 + 1) % 97)).collect(),
        "shuffle": lambda: spark.range(1_000_000)
        .groupBy((F.col("id") % 10_000).alias("k")).count()
        .select(F.sum("count")).collect(),
    }
    out = {}
    for name, fn in probes.items():
        t0 = time.perf_counter()
        fn()
        out[name] = round(time.perf_counter() - t0, 3)
    return out


def session_context(spark) -> dict:
    conf = spark.sparkContext.getConf()
    jvm = spark.sparkContext._jvm
    return {
        "spark.master": conf.get("spark.master"),
        "spark.driver.memory": conf.get("spark.driver.memory", "unset"),
        "jvm_max_heap_mb": round(jvm.java.lang.Runtime.getRuntime().maxMemory()
                                 / 2**20),
        "gc_flags": [o for o in conf.get("spark.driver.extraJavaOptions", "").split()
                     if o.startswith("-XX:+Use") and o.endswith("GC")],
        "spark.sql.shuffle.partitions":
            spark.conf.get("spark.sql.shuffle.partitions"),
        "spark.sql.adaptive.enabled":
            spark.conf.get("spark.sql.adaptive.enabled"),
        "spark_version": spark.version,
        "java_version": jvm.java.lang.System.getProperty("java.version"),
        "python_version": platform.python_version(),
        "nproc": len(os.sched_getaffinity(0)),
        "mem_available_gib": _mem_available_gib(),
    }


# -- workloads ---------------------------------------------------------------


class Runner:
    """Runs one workload: untimed preparation and checks, then timed ops."""

    def __init__(self, spark, wl: Workload, sf_dir, dirs, seed, cpu_clock):
        self.spark = spark
        self.wl = wl
        self.sf_dir = sf_dir
        self.dirs = dirs
        self.rng = random.Random(seed)
        self.cpu_clock = cpu_clock
        self.tracer = None  # set before the timed loop of a traced run
        self.lat: list[float] = []
        self.cpu: list[float] = []
        self.op_names: list[str] = []
        self.failed = 0
        self.notes: list[str] = []
        self.layer: dict[str, float] = {}
        self.write_amp: list[float] = []

    # ---- queries ----

    def prepare_queries(self) -> None:
        """Untimed correctness check: each query against its DuckDB
        oracle with the canonical multiset comparison of tests/oracle.py.
        Records the verified row count every timed op must return."""
        from clv_data_pipeline_spark import registry
        from tests.oracle import compare_frames, run_oracle

        self.fns = registry.all_queries()
        oracles = registry.all_oracles()
        self.expected: dict[str, int | None] = {}
        for name in self.wl.mix:
            try:
                pdf = self.fns[name](self.spark, self.sf_dir).toPandas()
                compare_frames(pdf, run_oracle(oracles[name], self.sf_dir))
                self.expected[name] = len(pdf)
            except Exception as e:  # counted: every op of it fails
                self.expected[name] = None
                self.notes.append(f"{name} failed its oracle check: {e!r}"[:300])
            self.spark.catalog.clearCache()

    def query_op(self, i: int, name: str) -> float:
        tr = self.tracer
        if tr:
            tr.begin_op(i)
            n_spans = len(tr.spans)
            groups = {"build": tr.group("build")}
        ok = False
        c0 = self.cpu_clock()
        t0 = t1 = time.perf_counter()
        try:
            df = self.fns[name](self.spark, self.sf_dir)
            t1 = time.perf_counter()
            if tr:
                groups["exec"] = tr.group("exec")
            ok = df.count() == self.expected[name]
        except Exception as e:
            self.notes.append(f"{name} raised: {e!r}"[:300])
        t2 = time.perf_counter()
        self.cpu.append(self.cpu_clock() - c0)
        self.failed += not ok
        if tr:
            info = tr.end_op(groups, t2 - t0)
            self.layer_add("queries.build_s", t1 - t0)
            self.layer_add("queries.exec_s", t2 - t1)
            self.layer_add("queries.build_jobs", info["jobs"]["build"])
            self.layer_add("queries.exec_jobs", info["jobs"].get("exec", 0))
            self.add_spans(n_spans)
            self.amp(info["bytes_written"], info["table_bytes"])
        self.spark.catalog.clearCache()
        return t2 - t0

    def amp(self, written: int, base: float) -> None:
        if base > 0:
            self.write_amp.append(written / base)

    def add_spans(self, n_spans: int) -> None:
        """Add the wrapped layers' span time of the op just run."""
        for s in self.tracer.spans[n_spans:]:
            key = SPAN_METRICS.get(s["name"])
            if key and "end" in s:
                self.layer_add(key, s["end"] - s["start"])

    # ---- pipeline ----

    def prepare_pipeline(self) -> None:
        """Ship the package to the Python workers (the scoring pandas UDF
        imports it and the run's cwd is not the repository), then run
        untimed warm-up days so every timed cycle is warm and scores.
        Day 0 has no returning customers, so its fit raises by design."""
        from clv_data_pipeline_spark import registry

        registry.ensure_worker_imports(self.spark)
        self.base = os.path.join(self.dirs["data"], "pipeline")
        self.day = 0
        self.prev_rows = 0
        for _ in range(WARMUP_DAYS):
            try:
                res = self.run_day()[0]
            except ValueError as e:  # day 0 has no returning customers
                if self.day > 1 or not str(e).startswith("No customers"):
                    raise
                continue
            self.prev_rows = res.staging_rows
            if not self.cycle_checked(res):
                raise RuntimeError(f"warm-up day {self.day - 1} failed its checks")

    def run_day(self):
        from clv_data_pipeline_spark.plans.pipeline import run_pipeline

        run_date = FIRST_DAY + dt.timedelta(days=self.day)
        seed = self.rng.randrange(1, 2**31)
        self.day += 1
        c0 = self.cpu_clock()
        t0 = time.perf_counter()
        try:
            res = run_pipeline(self.spark, self.base, run_date=run_date,
                               seed=seed, max_existing_id=None)
        finally:
            self.day_cpu = self.cpu_clock() - c0
        return res, time.perf_counter() - t0, run_date

    def cycle_checked(self, res) -> bool:
        """Pipeline invariants: 0 < prediction_rows <= feature_rows, the
        predictions schema, and no negative CLV."""
        from pyspark.sql import functions as F

        from clv_data_pipeline_spark.schemas import PREDICTED_CLV_SCHEMA

        if not 0 < res.prediction_rows <= res.feature_rows:
            return False
        preds = self.spark.read.parquet(res.predictions_path)
        want = [(f.name, f.dataType) for f in PREDICTED_CLV_SCHEMA.fields]
        if [(f.name, f.dataType) for f in preds.schema.fields] != want:
            return False
        return preds.filter(F.col("clv") < 0).count() == 0

    def pipeline_op(self, i: int) -> float:
        tr = self.tracer
        if tr:
            tr.begin_op(i)
            n_spans = len(tr.spans)
            groups = {"cycle": tr.group("cycle")}
        ok = False
        lat = self.day_cpu = 0.0
        res = None
        try:
            if tr:
                with tr.span("plans.pipeline") as cycle:
                    res, lat, run_date = self.run_day()
                tr.idle()
            else:
                res, lat, run_date = self.run_day()
            ok = self.cycle_checked(res)
        except Exception as e:
            self.notes.append(f"cycle {self.day - 1} raised: {e!r}"[:300])
        self.cpu.append(self.day_cpu)
        self.failed += not ok
        if tr:
            info = tr.end_op(groups, lat)
            if res is not None:
                self.layer_add("plans.pipeline.jobs", info["jobs"]["cycle"])
                self.layer_add("plans.pipeline.self_s", tr.self_time(cycle))
                self.layer_add("simulate.rows", res.staging_rows - self.prev_rows)
                self.add_spans(n_spans)
                part = os.path.join(self.base, "transactions_staging",
                                    f"load_date={run_date.isoformat()}")
                self.amp(info["bytes_written"],
                         sum(size for size, _ in snapshot(part).values()))
        if res is not None:
            self.prev_rows = res.staging_rows
        return lat

    def layer_add(self, key: str, v: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + v

    # ---- timed loop ----

    def timed(self, seconds: float) -> None:
        """Closed loop: whole passes over the mix (a pass is one cycle
        for the pipeline), at least the workload's ``passes`` and more
        until ``seconds`` have passed."""
        start = time.perf_counter()
        done = 0
        while done < self.wl.passes or time.perf_counter() - start < seconds:
            done += 1
            if self.wl.kind == "pipeline":
                self.op_names.append(f"day{self.day}")
                self.lat.append(self.pipeline_op(len(self.lat)))
            else:
                order = list(self.wl.mix)
                self.rng.shuffle(order)
                for name in order:
                    self.op_names.append(name)
                    self.lat.append(self.query_op(len(self.lat), name))


# -- reporting ---------------------------------------------------------------


def layer_metrics(runner: Runner, tracer, start_s: float, leftovers: int) -> dict:
    ops = max(1, len(runner.lat))
    t = dict(tracer.totals)
    per_op = {k: v / ops for k, v in {**t, **runner.layer}.items()}
    out = {k: per_op.get(k, 0.0) for k in PER_LAYER}
    build, exe = runner.layer.get("queries.build_s", 0.0), runner.layer.get("queries.exec_s", 0.0)
    out["queries.build_share"] = build / (build + exe) if build + exe else 0.0
    wall = t.get("op_wall_s", 0.0)
    run_s = t.get("session.executor_run_s", 0.0)
    out["session.core_idle_frac"] = max(0.0, 1 - run_s / (wall * CORES)) if wall else 0.0
    out["session.start_s"] = start_s
    out["streaming.overhead_s"] = out["streaming.trigger_s"] - out["streaming.add_batch_s"]
    out["sources.write_amp"] = (statistics.fmean(runner.write_amp)
                                if runner.write_amp else 0.0)
    out["sources.leftover_tmp_entries"] = leftovers
    out["trace.op_p50_s"] = statistics.median(runner.lat) if runner.lat else 0.0
    out["trace.op_cpu_p50_s"] = mix_median(runner) if runner.cpu else 0.0
    out["trace.inline_s"] = tracer.inline_s / ops
    return out


def mix_median(runner: Runner) -> float:
    """Median CPU seconds of each op of the mix (every pipeline day is
    the same op), averaged over the mix: a plain median over a mix of
    ops whose costs differ twofold would jump between them."""
    by_op: dict[str, list[float]] = {}
    for name, c in zip(runner.op_names, runner.cpu):
        by_op.setdefault("cycle" if runner.wl.kind == "pipeline" else name, []).append(c)
    return statistics.fmean(statistics.median(v) for v in by_op.values())


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(args, wl: Workload, sf_dir, dirs):
    """Set up the session and workload, run the timed loop, and stop the
    JVM.  Returns the runner, the tracer, the set-up's wall and CPU
    seconds, the session start seconds, the session context and the
    peak RSS."""
    sampler = MemorySampler()
    sampler.start()
    cpu_clock = CpuClock(sampler)
    spark = None
    try:
        c_setup = cpu_clock()
        t_setup = time.perf_counter()
        from clv_data_pipeline_spark.session import get_spark

        spark = get_spark(
            app_name="perfbench", master=f"local[{CORES}]",
            shuffle_partitions=CORES,
            extra_conf={"spark.ui.enabled": "false",
                        "spark.ui.showConsoleProgress": "false"})
        start_s = time.perf_counter() - t_setup
        spark.sparkContext.setLogLevel("ERROR")
        runner = Runner(spark, wl, sf_dir, dirs, args.seed, cpu_clock)
        if wl.kind == "pipeline":
            runner.prepare_pipeline()
        else:
            runner.prepare_queries()
        setup_s = time.perf_counter() - t_setup
        setup_cpu_s = cpu_clock() - c_setup

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, [dirs["tmp"], dirs["cwd"], dirs["data"]])
            tracer.patch_layers()
            runner.tracer = tracer
        ticks = _cpu_ticks()
        runner.timed(args.seconds)
        steal = _steal_share(ticks, _cpu_ticks())
        sampler.stop()
        if tracer:
            tracer.unpatch()
        context = session_context(spark)
        context["timed_cpu_steal_share"] = steal
        context["box_probe_s"] = box_probes(spark)
    finally:
        sampler.stop()
        if spark is not None:
            stop_jvm(spark)
    return runner, tracer, (setup_s, setup_cpu_s), start_s, context, sampler.peak


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    need = [os.path.join(ROOT, "clv_data_pipeline_spark", "registry.py"),
            os.path.join(ROOT, "tests", "oracle.py")]
    if not all(os.path.isfile(p) for p in need):
        print("perfbench: run from a repository checkout; missing "
              + ", ".join(p for p in need if not os.path.isfile(p)),
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    from datagen import ensure

    wl = WORKLOADS[args.workload]
    sf = wl.sf
    passes = wl.passes
    if args.smoke:
        sf, passes = (0.01 if sf else None), 1
    wl = dataclasses.replace(wl, sf=sf, passes=passes)
    sf_dir, build_s = ensure(sf, os.path.join(WORK, "data")) if sf else (None, 0.0)

    dirs = isolate(args.workload, args.seed)
    try:
        runner, tracer, (setup_s, setup_cpu_s), start_s, context, peak_rss = \
            measure(args, wl, sf_dir, dirs)
        leftovers = leftover_entries(dirs)
    finally:
        shutil.rmtree(dirs["root"], ignore_errors=True)

    lat = runner.lat
    if tracer:
        values = layer_metrics(runner, tracer, start_s, leftovers)
        units = PER_LAYER
        tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json"),
                    {"metrics": values, "latencies_s": lat})
    else:
        values = {"setup_s": setup_cpu_s,
                  "op_cpu_p50_s": mix_median(runner),
                  "ops_per_cpu_s": len(lat) / sum(runner.cpu),
                  "peak_rss_mb": peak_rss}
        units = END_TO_END
    context.update(workload=args.workload, seed=args.seed, sf=sf, mix=list(wl.mix),
                   ops=len(lat),
                   op_wall_cpu_s=[[n, round(w, 4), round(c, 2)]
                                  for n, w, c in zip(runner.op_names, lat, runner.cpu)],
                   data_build_s=round(build_s, 3),
                   setup_wall_s=round(setup_s, 3), timed_s=round(sum(lat), 3),
                   failed_frac=runner.failed / max(1, len(lat)),
                   leftover_tmp_entries=leftovers)
    print("context " + json.dumps(context, default=str))
    for note in runner.notes:
        print("note " + note)
    for name, v in values.items():
        print(f"{name} {v:.6g} {units[name]}")
    # wall-clock figures and the failure share: printed, not in ``metrics``
    # (NOTES.md says why)
    print(f"setup_wall_s {setup_s:.6g} s")
    print(f"ops_per_s {len(lat) / sum(lat):.6g} 1/s")
    print(f"op_p50_s {statistics.median(lat):.6g} s")
    print(f"failed_frac {runner.failed / max(1, len(lat)):.6g} ratio")
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": len(lat),
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
