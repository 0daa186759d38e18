"""Per-layer tracing for ``--trace 1`` runs.

The engine is not modified: the tracer wraps the public functions of
each layer at their module attribute (``readers.read_table``,
``writers.write_parquet``, ``cachescope.release_caches`` and
``sweep_unpinned``), times the catalog builder and the action of every
query itself, and reads Spark's own bookkeeping:

- Catalyst phases from ``queryExecution().tracker().phases()`` after
  forcing ``executedPlan()`` (after the action, outside its span);
- jobs, stages and tasks per query through one job group for the build
  and one for the action (``statusTracker``), eager-job time from the
  application status store;
- SQL metrics (Python worker start/init/run time, data sent to Python,
  bytes scanned and shuffled) from the SQL status store;
- JIT and GC time from ``java.lang.management`` over py4j;
- RSS and CPU time of the JVM and the Python workers from ``/proc``.

Spans (name, start, end, parent) are kept in memory and written with
their self times when the run ends. Every metric is summed per pass.
"""

from __future__ import annotations

import functools
import re
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import procfs

# name -> unit, in report order
METRICS = {
    "session.start_s": "s",
    "sources.read_table_calls": "count",
    "sources.read_table_misses": "count",
    "sources.read_table_s": "s",
    "sources.write_calls": "count",
    "sources.write_s": "s",
    "plans.build_s": "s",
    "plans.eager_jobs": "count",
    "plans.eager_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.input_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "python.crossings": "count",
    "python.start_s": "s",
    "python.init_s": "s",
    "python.run_s": "s",
    "python.sent_mb": "MB",
    "python.init_share": "frac",
    "python.workers_rss_mb": "MB",
    "python.workers_cpu_s": "s",
    "cachescope.release_s": "s",
    "cachescope.persisted_rdds_peak": "count",
    "cachescope.storage_mb_peak": "MB",
    "jvm.jit_s": "s",
    "jvm.gc_s": "s",
    "jvm.cpu_s": "s",
    "jvm.rss_mb": "MB",
    "trace.pass_s": "s",
    "trace.overhead": "frac",
}

# SQL metric name -> per-pass accumulator (Spark's display names)
_SQL_METRICS = {
    "size of files read": "exec.input_mb",
    "shuffle bytes written": "exec.shuffle_write_mb",
    "local bytes read": "exec.shuffle_read_mb",
    "remote bytes read": "exec.shuffle_read_mb",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
}
_UNITS = {
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def metric_value(text: str) -> float:
    """Total of a formatted SQL metric ("12.3 MiB", "1,204",
    "total (min, med, max ...)\\n1.2 s (...)") in MB, seconds or
    units."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class Tracer:
    def __init__(self, spark, setup_times: dict):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seq = 0
        self._cur: dict[str, float] = defaultdict(float)
        self._parquet_reads = 0
        self._cpu_seen: dict[int, float] = {}
        self._active = False
        self._setup = setup_times
        self._sql_seen = self._last_execution_id()
        self.jvm_pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self._jvm_base = self._jvm_counters()
        self._install()

    # -- spans -------------------------------------------------------------

    @contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "t0": time.perf_counter(), "t1": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()

    def span_records(self) -> list[dict]:
        """Spans with duration and self time (duration minus the part
        covered by child spans)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["t1"] is not None:
                child[s["parent"]] += s["t1"] - s["t0"]
        out = []
        for s in self.spans:
            dur = (s["t1"] or s["t0"]) - s["t0"]
            out.append({**s, "dur_s": dur, "self_s": dur - child[s["id"]]})
        return out

    # -- wrappers ----------------------------------------------------------

    def _wrap(self, mod, attr: str, span_name: str, on_exit=None) -> None:
        orig = getattr(mod, attr)

        @functools.wraps(orig)
        def traced(*a, **k):
            if not self._active:  # an untraced pass of a traced run
                return orig(*a, **k)
            reads = self._parquet_reads
            t = time.perf_counter()
            with self.span(span_name):
                out = orig(*a, **k)
            self._cur[span_name + "_s"] += time.perf_counter() - t
            self._cur[span_name + "_calls"] += 1
            if on_exit:
                on_exit(reads)
            return out

        setattr(mod, attr, traced)

    def _install(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader

        from sdg_big_data_spark import cachescope
        from sdg_big_data_spark.sources import readers, writers

        orig_parquet = DataFrameReader.parquet

        @functools.wraps(orig_parquet)
        def parquet(reader, *paths, **opts):
            self._parquet_reads += 1
            return orig_parquet(reader, *paths, **opts)

        DataFrameReader.parquet = parquet

        def miss(before: int) -> None:
            if self._parquet_reads != before:
                self._cur["sources.read_table_misses"] += 1

        self._wrap(readers, "read_table", "sources.read_table", miss)
        self._wrap(writers, "write_parquet", "sources.write")
        self._wrap(cachescope, "release_caches", "cachescope.release")
        self._wrap(cachescope, "sweep_unpinned", "cachescope.release")

    # -- Spark bookkeeping -------------------------------------------------

    def _drain_listeners(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Exception:  # noqa: BLE001 -- best effort; counts may lag
            pass

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _last_execution_id(self) -> int:
        execs = self._sql_store().executionsList()
        n = execs.size()
        return int(execs.apply(n - 1).executionId()) if n else -1

    def _sql_metrics(self) -> None:
        """Add the SQL metrics of executions finished since the last call."""
        store = self._sql_store()
        execs = store.executionsList()
        i = execs.size() - 1
        new = []
        while i >= 0:
            e = execs.apply(i)
            eid = int(e.executionId())
            if eid <= self._sql_seen:
                break
            new.append((eid, e))
            i -= 1
        for eid, e in new:
            names = {}
            for m in re.finditer(r"SQLPlanMetric\((.*?),(\d+),", e.metrics().toString()):
                if m.group(1) in _SQL_METRICS:
                    names[m.group(2)] = m.group(1)
            if not names:
                continue
            # "HashMap(12 -> 1.2 s, 13 -> 2,000, ...)": accumulator id ->
            # formatted value, for the plan nodes that ran (AQE re-plans
            # add metric ids that never receive a value)
            values = store.executionMetrics(eid).toString()
            for part in re.split(r", (?=\d+ -> )", values[values.find("(") + 1:-1]):
                acc, _, text = part.partition(" -> ")
                name = names.get(acc)
                if name is None:
                    continue
                v = metric_value(text)
                self._cur[_SQL_METRICS[name]] += v
                if name == "data sent to Python workers" and v > 0:
                    self._cur["python.crossings"] += 1
        if new:
            self._sql_seen = max(eid for eid, _ in new)

    def _jobs(self, group: str) -> tuple[int, int, int, float]:
        """(jobs, stages run, tasks run, summed job wall time) of a group."""
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        secs = 0.0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                s = st.getStageInfo(sid)
                if s is not None and s.numCompletedTasks > 0:
                    stages += 1
                    tasks += s.numCompletedTasks
            try:
                jd = store.job(jid)
                if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                    secs += (jd.completionTime().get().getTime()
                             - jd.submissionTime().get().getTime()) / 1000.0
            except Exception:  # noqa: BLE001 -- job evicted from the store
                pass
        return len(jobs), stages, tasks, secs

    def _catalyst(self, df) -> None:
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            if p.isDefined():
                self._cur[f"catalyst.{phase}_s"] += p.get().durationMs() / 1000.0

    def _storage(self) -> None:
        jsc = self.sc._jsc
        n = jsc.getPersistentRDDs().size()
        mb = sum(
            (r.memSize() + r.diskSize()) / 2**20
            for r in jsc.sc().getRDDStorageInfo()
        )
        cur = self._cur
        cur["cachescope.persisted_rdds_peak"] = max(
            cur["cachescope.persisted_rdds_peak"], n)
        cur["cachescope.storage_mb_peak"] = max(cur["cachescope.storage_mb_peak"], mb)

    def _jvm_counters(self) -> dict[str, float]:
        mf = self.jvm.java.lang.management.ManagementFactory
        gc_ms = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        st = procfs.stat(self.jvm_pid) or ["0"] * 20
        return {
            "jvm.jit_s": mf.getCompilationMXBean().getTotalCompilationTime() / 1e3,
            "jvm.gc_s": gc_ms / 1e3,
            "jvm.cpu_s": (int(st[11]) + int(st[12])) / procfs.TICK,
        }

    def jvm_delta(self) -> dict[str, float]:
        """JIT, GC and CPU seconds of the JVM since the last call (also
        called after untraced passes, so every pass has its own)."""
        jvm = self._jvm_counters()
        out = {k: v - self._jvm_base[k] for k, v in jvm.items()}
        self._jvm_base = jvm
        return out

    def _workers(self) -> None:
        """RSS and CPU of the Python daemon and its workers (descendants of
        the JVM), CPU as the delta since the last pass."""
        rss = cpu = 0.0
        for pid in procfs.process_tree(self.jvm_pid)[1:]:
            st = procfs.stat(pid)
            if st is None or "pyspark" not in procfs.cmdline(pid):
                continue
            rss += procfs.status_mb(pid, "VmRSS")
            total = sum(int(x) for x in st[11:15]) / procfs.TICK
            cpu += total - self._cpu_seen.get(pid, 0.0)
            self._cpu_seen[pid] = total
        self._cur["python.workers_rss_mb"] = rss
        self._cur["python.workers_cpu_s"] = cpu

    # -- per query / per pass ----------------------------------------------

    def query(self, name: str, fn, sf_dir: str) -> None:
        self._seq += 1
        group = f"perfbench-{self._seq}"
        with self.span("query", query=name):
            self.sc.setJobGroup(group + "-build", name)
            t = time.perf_counter()
            with self.span("plans.build"):
                df = fn(self.spark, sf_dir)
            self._cur["plans.build_s"] += time.perf_counter() - t
            self.sc.setJobGroup(group + "-action", name)
            t = time.perf_counter()
            with self.span("exec.action"):
                df.write.format("noop").mode("overwrite").save()
            self._cur["exec.action_s"] += time.perf_counter() - t
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self.span("catalyst.probe"):
                self._catalyst(df)
            self._drain_listeners()
            eager, e_st, e_tk, e_s = self._jobs(group + "-build")
            jobs, stages, tasks, _ = self._jobs(group + "-action")
            self._cur["plans.eager_jobs"] += eager
            self._cur["plans.eager_s"] += e_s
            self._cur["exec.jobs"] += jobs
            self._cur["exec.stages"] += stages + e_st
            self._cur["exec.tasks"] += tasks + e_tk
            self._sql_metrics()
            self._storage()

    def begin_pass(self, kind: str) -> None:
        self._cur = defaultdict(float)
        self._pass_span = self.span("pass", kind=kind)
        self._pass_span.__enter__()
        self._active = True
        self._t_pass = time.perf_counter()

    def end_pass(self) -> dict[str, float]:
        cur = self._cur
        cur["trace.pass_s"] = time.perf_counter() - self._t_pass
        self._active = False
        self._pass_span.__exit__(None, None, None)
        cur.update(self.jvm_delta())
        cur["jvm.rss_mb"] = procfs.status_mb(self.jvm_pid, "VmRSS")
        self._workers()
        busy = cur["python.init_s"] + cur["python.run_s"]
        cur["python.init_share"] = cur["python.init_s"] / busy if busy else 0.0
        cur["session.start_s"] = self._setup["session_s"]
        return {k: cur.get(k, 0.0) for k in METRICS if k != "trace.overhead"}

    def metrics(self, passes: list[dict], timed: dict[bool, list[float]]) -> dict:
        """Median over the timed traced passes of each per-pass figure,
        plus the tracing overhead: median traced / median untraced pass
        time - 1."""
        traced = [p["layers"] for p in passes if p["kind"] == "timed" and p["traced"]]
        out = {
            k: (statistics.median(p[k] for p in traced), u)
            for k, u in METRICS.items() if k != "trace.overhead"
        }
        plain = timed[False] or timed[True]
        out["trace.overhead"] = (
            statistics.median(timed[True]) / statistics.median(plain) - 1.0, "frac")
        return out
