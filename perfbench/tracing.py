"""Per-layer tracing for the benchmark, recorded from outside the program.

Nothing here changes engine code.  The tracer

- tags every Spark job of an operation with a job group (``op<i>.build``,
  ``op<i>.exec``, ``op<i>.cycle``) and reads stage data for those jobs
  from Spark's status store;
- listens to streaming progress with a ``StreamingQueryListener``; a
  stream's micro-batch jobs carry the stream's run id as job group, so
  they are charged to the operation that started the stream;
- wraps the public functions of the layers (``run_pipeline``'s
  generator, the BG/NBD and Gamma-Gamma fits,
  ``nelder_mead``, ``sources.io.load_table``) wherever the program
  imported them, and records a span or a count around each call;
- lists the run's own directories before and after each operation (and
  before any tree or table the program deletes) to count files written.

Spans are kept in memory and written out by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

PKG = "clv_data_pipeline_spark"

#: stage-data fields summed per operation: metric name -> (getter, scale)
STAGE_FIELDS = {
    "session.executor_run_s": ("executorRunTime", 1e-3),
    "session.executor_cpu_s": ("executorCpuTime", 1e-9),
    "session.jvm_gc_s": ("jvmGcTime", 1e-3),
    "session.input_mb": ("inputBytes", 1 / 2**20),
    "session.input_rows": ("inputRecords", 1),
    "session.output_mb": ("outputBytes", 1 / 2**20),
    "session.shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "session.shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "session.spill_mb": ("diskBytesSpilled", 1 / 2**20),
}


def snapshot(*roots: str) -> dict[str, tuple[int, int]]:
    """``path -> (size, mtime_ns)`` for every file under ``roots``."""
    out = {}
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                out[p] = (st.st_size, st.st_mtime_ns)
    return out


def wrap_everywhere(original, wrapper) -> list[tuple[object, str, object]]:
    """Replace ``original`` by ``wrapper`` in every loaded engine module
    that holds it, returning what is needed to undo the patch."""
    undo = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not name.startswith(PKG):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)
                undo.append((mod, attr, original))
    return undo


class Tracer:
    def __init__(self, spark, watch_roots: list[str]):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self.store = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.tracker = self.sc.statusTracker()
        self.watch_roots = watch_roots
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.op = -1
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []
        self._streams: list[str] = []
        self._fit_depth = 0
        self.inline_s = 0.0
        tracer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                tracer._streams.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                d = p.durationMs
                trig = d.get("triggerExecution", 0) / 1e3
                add = d.get("addBatch", 0) / 1e3
                tracer.totals["streaming.triggers"] += 1
                tracer.totals["streaming.input_rows"] += p.numInputRows
                tracer.totals["streaming.trigger_s"] += trig
                tracer.totals["streaming.add_batch_s"] += add
                tracer.spans.append({
                    "name": "streaming.trigger", "op": tracer.op,
                    "run_id": str(p.runId), "batch": p.batchId,
                    "duration_s": trig, "add_batch_s": add,
                    "input_rows": p.numInputRows})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = Listener()
        spark.streams.addListener(self._listener)

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_time(self, rec: dict) -> float:
        """A span's duration minus that of its direct children."""
        child = sum(s["end"] - s["start"] for s in self.spans
                    if s.get("parent") == rec["id"] and "end" in s)
        return rec["end"] - rec["start"] - child

    # -- layer wrappers --------------------------------------------------

    def patch_layers(self) -> None:
        """Wrap the layers' public functions for the timed loop."""
        from clv_data_pipeline_spark import simulate
        from clv_data_pipeline_spark.functions import optimize
        from clv_data_pipeline_spark.operators import clv
        from clv_data_pipeline_spark.sources import io

        tracer = self

        def timed(name, orig):
            def inner(*a, **k):
                with tracer.span(name):
                    return orig(*a, **k)
            return inner

        def fit(orig):
            def inner(*a, **k):
                tracer._fit_depth += 1
                try:
                    with tracer.span("operators.clv.fit"):
                        return orig(*a, **k)
                finally:
                    tracer._fit_depth -= 1
            return inner

        def nelder_mead(f, x0, *a, **k):
            evals = [0]

            def counted(x):
                evals[0] += 1
                return f(x)

            with tracer.span("functions.optimize"):
                out = optimize_orig(counted, x0, *a, **k)
            tracer.totals["functions.optimize.evals"] += evals[0]
            return out

        def load_table(spark, sf_dir, name, *a, **k):
            path = os.path.join(sf_dir, f"{name}.parquet")
            tracer._read_bytes += (
                os.path.getsize(path) if os.path.isfile(path)
                else sum(size for size, _ in snapshot(path).values()))
            return load_table_orig(spark, sf_dir, name, *a, **k)

        load_table_orig = io.load_table
        self._undo += wrap_everywhere(load_table_orig, load_table)
        optimize_orig = optimize.nelder_mead
        self._undo += wrap_everywhere(
            simulate.simulate_daily_batch,
            timed("simulate", simulate.simulate_daily_batch))
        for name in ("fit_bgnbd", "fit_gamma_gamma"):
            orig = getattr(clv, name)
            self._undo += wrap_everywhere(orig, fit(orig))
        self._undo += wrap_everywhere(optimize_orig, nelder_mead)

        # rows collected to the driver inside a fit
        df_cls = type(self.spark.range(1))
        to_pandas = df_cls.toPandas

        def counting_to_pandas(df_self, *a, **k):
            pdf = to_pandas(df_self, *a, **k)
            if tracer._fit_depth:
                tracer.totals["operators.clv.fit_rows"] += len(pdf)
            return pdf

        df_cls.toPandas = counting_to_pandas
        self._undo.append((df_cls, "toPandas", to_pandas))

        # files the program deletes before an operation ends still count
        # as written: list them just before they go
        rmtree = shutil.rmtree

        def listing_rmtree(path, *a, **k):
            t0 = time.perf_counter()
            tracer._note_files(snapshot(os.path.abspath(path)))
            tracer.inline_s += time.perf_counter() - t0
            return rmtree(path, *a, **k)

        shutil.rmtree = listing_rmtree
        self._undo.append((shutil, "rmtree", rmtree))

        session_cls = type(self.spark)
        sql = session_cls.sql
        drop = re.compile(r"\s*DROP\s+TABLE", re.I)

        def listing_sql(s_self, query, *a, **k):
            if isinstance(query, str) and drop.match(query):
                t0 = time.perf_counter()
                tracer._note_files(snapshot(os.path.abspath("spark-warehouse")))
                tracer.inline_s += time.perf_counter() - t0
            return sql(s_self, query, *a, **k)

        session_cls.sql = listing_sql
        self._undo.append((session_cls, "sql", sql))

    def unpatch(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo = []
        self.spark.streams.removeListener(self._listener)

    # -- per-operation accounting ---------------------------------------

    def begin_op(self, i: int) -> None:
        self.op = i
        self._streams = []
        self._before = snapshot(*self.watch_roots)
        self._written: dict[str, int] = {}
        self._read_bytes = 0

    def _note_files(self, files: dict[str, tuple[int, int]]) -> None:
        for p, meta in files.items():
            if self._before.get(p) != meta:
                self._written[p] = meta[0]

    def group(self, name: str) -> str:
        gid = f"op{self.op}.{name}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def idle(self) -> None:
        self.sc.setJobGroup("bench", "benchmark bookkeeping")

    def end_op(self, groups: dict[str, str], wall_s: float) -> dict:
        """Collect jobs, stages and files for the operation just timed.

        ``groups`` maps a phase name to its job group; streams started
        during the operation are charged to the phase named ``build``
        (or the only phase).  Returns the per-phase job counts and the
        operation's written bytes."""
        t0 = time.perf_counter()
        self.idle()
        self.bus.waitUntilEmpty()
        phase_jobs = {ph: list(self.tracker.getJobIdsForGroup(g))
                      for ph, g in groups.items()}
        stream_phase = "build" if "build" in groups else next(iter(groups))
        for run_id in self._streams:
            phase_jobs[stream_phase] += list(
                self.tracker.getJobIdsForGroup(run_id))
        stage_ids = set()
        for jobs in phase_jobs.values():
            for jid in jobs:
                info = self.tracker.getJobInfo(jid)
                if info is not None:
                    stage_ids.update(info.stageIds)
        op = defaultdict(float)
        jvm = self.sc._jvm
        no_status = jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        for sid in stage_ids:
            seq = self.store.stageData(sid, False, no_status, False, no_quantiles)
            if seq.isEmpty():
                continue
            sd = seq.head()
            if str(sd.status()) != "COMPLETE":
                continue
            op["session.stages"] += 1
            op["session.tasks"] += sd.numCompleteTasks()
            for metric, (getter, scale) in STAGE_FIELDS.items():
                op[metric] += getattr(sd, getter)() * scale
        self._note_files(snapshot(*self.watch_roots))
        written = sum(self._written.values())
        op["sources.files_written"] = len(self._written)
        op["sources.mb_written"] = written / 2**20
        op["op_wall_s"] = wall_s
        for k, v in op.items():
            self.totals[k] += v
        self.totals["trace.collect_s"] += time.perf_counter() - t0
        return {"jobs": {ph: len(j) for ph, j in phase_jobs.items()},
                "bytes_written": written,
                "table_bytes": self._read_bytes}

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "totals": self.totals, **extra},
                      f, indent=1, default=str)
